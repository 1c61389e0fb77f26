package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** REMOVAL-AWARE streaming positional-index maintenance — the
  * [[Bm25SignedStream]] posture for the phrase index, riding the
  * SAME [[SignedIndexLayout]] state machine (one machinery, two
  * indexes). Simpler than BM25 because positions carry no
  * corpus-global statistics: the live postings ARE the whole served
  * state, so removal-awareness is purely the layout's
  * last-writer-wins reconstruction — a replaced doc serves its new
  * positions, a removed doc's phrases stop matching, period.
  * The measured driver entry hash-matches the SAME full-corpus
  * DuckDB oracle as q_phrase_search over the surviving corpus. */
object PhraseSignedStream {

  private val Cols = Seq("term", "doc_id", "pos")

  /** Seed (or rebuild) the persisted positional postings. */
  def seedIndex(docs: DataFrame, seedPath: String): Unit =
    Retrieval.positionalIndex(docs)
      .write.mode("overwrite").parquet(s"$seedPath/postings")

  /** Launch maintenance over a streaming signed frame
    * (doc_id, text, op). */
  def indexMaintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    SignedIndexLayout.maintain(newOps, seedPath, deltaPath, checkpoint,
      Retrieval.positionalIndex(_), "PhraseSignedStream")

  /** Serve an exact phrase search over the signed live state. */
  def serveSearch(
      spark: SparkSession, seedPath: String, deltaPath: String,
      queries: DataFrame, termsLiteral: Seq[String] = Nil,
      k: Int = 10): DataFrame =
    Retrieval.phraseFromIndex(
      SignedIndexLayout.livePostings(
        spark, seedPath, deltaPath, Long.MaxValue, Cols),
      queries, k = k, queryTermsLiteral = termsLiteral)

  /** Fold the net signed state into a fresh postings seed. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    SignedIndexLayout.compact(spark, seedPath, deltaPath, Cols)

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_phrase_signed): same staging as the signed BM25 run
    * (seed = yesterday's corpus with a stale third and an alien
    * slice; stream = adds + replacements + removals by id), compact
    * mid-lifecycle, serve the driver's phrase set — hash-matching
    * the full-corpus q_phrase_search oracle over the surviving
    * corpus. */
  def searchMaintainRun(
      spark: SparkSession, dir: String,
      queries: DataFrame, termsLiteral: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_phrs_stream")
    val src = root.resolve("src").toString
    val seedPath = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    try {
      val staged = StreamMeter.timeSeed("q_stream_phrase_signed") {
        SignedIndexLayout.stageSignedCorpus(
          docs, seedIndex(_, seedPath), src)
      }
      val q = indexMaintain(
        spark.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        seedPath, deltaP, root.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      compact(spark, seedPath, deltaP)
      serveSearch(spark, seedPath, deltaP, queries, termsLiteral)
        .localCheckpoint()
    } finally DeltaLayout.rmTree(root)
  }
}
