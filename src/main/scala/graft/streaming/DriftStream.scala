package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** Streaming distribution-drift monitor: score every arriving
  * micro-batch of documents against a PERSISTED reference unigram
  * distribution ([[TextAnalysis.termCounts]] written to parquet) and
  * emit per-(batch, source) Jensen-Shannon divergences — the alarm an
  * ingest pipeline runs beside the quality gate, catching a broken
  * scraper, a spam flood, or a template change as distribution shift
  * BEFORE the drifted batches pollute a training mix.
  *
  * Mechanics mirror [[DedupStream]]: a static artifact rides every
  * batch (here the reference distribution — read per batch so an
  * out-of-band reference rebuild takes effect on the next trigger),
  * and the output sink partitions by batch_id with dynamic partition
  * overwrite, so a retried micro-batch REPLACES its own report rather
  * than double-appending — exactly-once without state. The monitor
  * itself is stateless: each batch is scored alone, which is the
  * semantics a drift alarm wants (per-arrival, not cumulative).
  */
object DriftStream {

  /** Seed (or rebuild) the persisted reference distribution. */
  def seedReference(docs: DataFrame, refPath: String): Unit =
    TextAnalysis.termCounts(docs).write.mode("overwrite").parquet(refPath)

  /** Launch the monitor over a streaming documents frame. Reports land
    * under `outPath` partitioned by batch_id. */
  def driftMonitor(
      newDocs: DataFrame,
      refPath: String,
      outPath: String,
      checkpoint: String,
      threshold: Double = 0.1): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        DeltaLayout.landBatch(TextAnalysis
            .divergenceAgainst(batch.toDF(), spark.read.parquet(refPath), threshold),
          batchId, outPath)
      }
      .start()

  /** Bounded end-to-end run over the documents table — the measured
    * driver entry for the streaming drift surface (q_stream_drift).
    * Stages the table as the stream source, seeds the reference from
    * the same corpus, and runs the monitor to completion; with no
    * trigger cap every staged file lands in micro-batch 0, so the
    * report is one deterministic per-source row set — each source
    * scored against the full-corpus distribution — and shares a plain
    * SQL oracle. The result is localCheckpoint'd so the staged
    * source/output can be deleted before returning. */
  def driftMonitorRun(
      spark: SparkSession, dir: String, threshold: Double = 0.1): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_drift_stream")
    val src = root.resolve("src").toString
    StreamMeter.timeSeed("q_stream_drift") {
      docs.write.mode("overwrite").parquet(src)
      seedReference(docs, root.resolve("ref").toString)
    }

    val q = driftMonitor(
      spark.readStream.schema(docs.schema).parquet(src),
      root.resolve("ref").toString,
      root.resolve("out").toString,
      root.resolve("ckpt").toString,
      threshold)
    try q.processAllAvailable() finally q.stop()

    val result = spark.read.parquet(root.resolve("out").toString)
      .drop("batch_id")
      .localCheckpoint()
      .orderBy("source")
    DeltaLayout.rmTree(root)
    result
  }
}
