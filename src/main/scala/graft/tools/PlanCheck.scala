package graft.tools

import org.apache.spark.sql.functions._

/** One-off plan audit for the signed index serving path: does the
  * phrase term filter reach the postings parquet scans through the
  * last-writer-wins reconstruction (union + net join)? */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plancheck")
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    graft.streaming.PhraseSignedStream.seedIndex(
      Seq((1L, "aa bb cc"), (2L, "dd ee")).toDF("doc_id", "text"), seedP)
    val b0 = Seq((2L, "aa ff", "add"), (3L, "", "remove"))
      .toDF("doc_id", "text", "op")
    val src = root.resolve("src").toString
    b0.write.parquet(src)
    val q = graft.streaming.PhraseSignedStream.indexMaintain(
      spark.readStream.schema(b0.schema).parquet(src),
      seedP, deltaP, root.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    val served = graft.streaming.PhraseSignedStream.serveSearch(
      spark, seedP, deltaP,
      Seq((0L, "aa bb")).toDF("query_id", "query_text"),
      termsLiteral = Seq("aa", "bb"))
    served.explain("formatted")
    spark.stop()
  }
}
