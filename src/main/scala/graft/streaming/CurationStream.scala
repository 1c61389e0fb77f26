package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming form of the curation quality gate: the
  * STATELESS per-row stages (lang / length / quality) run on a
  * document stream exactly as they do in batch, because
  * [[graft.operators.Curation.curationSignals]] is one narrow
  * projection — no sort, no join, no shuffle, so the same frame is
  * legal in append mode with no watermark and no state at all. This is
  * the gate an ingest pipeline puts in front of a landing sink; the
  * corpus-level stages (repetition, duplicate) stay batch concerns
  * (or pair with dropDuplicatesWithinWatermark).
  */
object CurationStream {

  /** Last qualityGateRun memory-sink view per session — at most one
    * result table stays registered (the memory sink pins its rows until
    * the view is dropped; bench runs this repeatedly). */
  private val lastGateTables =
    scala.collection.concurrent.TrieMap.empty[SparkSession, String]

  /** Bounded end-to-end run of the streaming quality gate over the
    * documents table — the measured driver entry for the streaming
    * curation surface (q_stream_quality_gate). Stage a parquet copy,
    * stream it through curationSignals into a memory sink, return the
    * complete decision set. Row-identical to the batch
    * curationSignals (asserted in StreamingSpec), so the entry shares
    * a plain SQL oracle. A stateless gate needs no sentinel flush:
    * every row emits in its own micro-batch. */
  def qualityGateRun(
      spark: SparkSession, dir: String, wantLang: String = "en",
      minTokens: Int = 20, maxTokens: Int = 5000): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_qgate_stream")
    val src = root.resolve("src").toString
    StreamMeter.timeSeed("q_stream_quality_gate") {
      docs.write.mode("overwrite").parquet(src)
    }

    val name = "graft_qgate_" + java.util.UUID.randomUUID.toString.replace("-", "")
    lastGateTables.put(spark, name)
      .foreach(old => spark.catalog.dropTempView(old))
    val q = graft.operators.Curation
      .curationSignals(spark.readStream.schema(docs.schema).parquet(src),
        wantLang, minTokens, maxTokens)
      .select("doc_id", "lang_pred", "n_tokens", "row_keep", "row_reason")
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    // the memory sink holds the rows; staged source + checkpoint are
    // dead weight once the query stops
    DeltaLayout.rmTree(root)

    spark.table(name).orderBy("doc_id")
  }

  /** Bounded end-to-end run of the streaming AUDIT gate
    * ([[graft.operators.Retrieval.auditScan]] over a document
    * stream) — the ingest-time blocklist: every arriving doc reports
    * its first matching audit pattern before landing. Stateless, so
    * the stream is row-identical to the batch scan (shared SQL
    * oracle; equality asserted in StreamingSpec). Same memory-sink
    * mechanics as [[qualityGateRun]]. */
  def auditGateRun(
      spark: SparkSession, dir: String, patterns: Seq[String]): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_audit_stream")
    val src = root.resolve("src").toString
    StreamMeter.timeSeed("q_stream_audit_gate") {
      docs.write.mode("overwrite").parquet(src)
    }

    val name = "graft_audit_" + java.util.UUID.randomUUID.toString.replace("-", "")
    lastGateTables.put(spark, name)
      .foreach(old => spark.catalog.dropTempView(old))
    val q = graft.operators.Retrieval
      .auditScan(spark.readStream.schema(docs.schema).parquet(src), patterns)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    DeltaLayout.rmTree(root)

    spark.table(name).orderBy("doc_id")
  }

  /** Bounded end-to-end run of the streaming PHRASE-decontamination
    * gate ([[graft.operators.Retrieval.decontaminatePhrase]] over a
    * document stream) — the verbatim-sequence ingest guard: every
    * arriving doc reports whether it quotes a benchmark phrase before
    * landing. The phrase verdict is PER-DOC LOCAL (a doc contains the
    * sequence or not, independent of the rest of the corpus), so the
    * union of per-micro-batch verdicts is exactly the whole-corpus
    * scan and the entry shares q_decontaminate_phrase's FULL oracle.
    * The witness-count aggregation makes the projection stateful in
    * append mode, so the gate runs per-batch via foreachBatch — the
    * [[SignedIndexLayout]] maintenance mechanics with a verdict sink
    * instead of an index. */
  def phraseGateRun(
      spark: SparkSession, dir: String,
      phrases: Seq[(Long, String)]): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_pgate_stream")
    val src = root.resolve("src").toString
    val out = root.resolve("out").toString
    StreamMeter.timeSeed("q_stream_phrase_gate") {
      docs.write.mode("overwrite").parquet(src)
    }

    val q = spark.readStream.schema(docs.schema).parquet(src)
      .writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val s = batch.sparkSession
          import s.implicits._
          graft.operators.Retrieval.decontaminatePhrase(
              batch.toDF(), phrases.toDF("phrase_id", "phrase_text"))
            .write.mode("append").parquet(out)
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val result = spark.read.parquet(out).localCheckpoint()
    DeltaLayout.rmTree(root)
    result.orderBy("doc_id")
  }
}
