package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * and each batch's report lands as its batch_id partition
  * ([[DeltaLayout.landEach]]), so a retried micro-batch REPLACES its own
  * report rather than double-appending — exactly-once without state.
  * The monitor itself is stateless: each batch is scored alone, which
  * is the semantics a drift alarm wants (per-arrival, not cumulative).
  */
object DriftStream {

  /** Seed (or rebuild) the persisted reference distribution. */
  def seedReference(docs: DataFrame, refPath: String): Unit =
    TextAnalysis.termCounts(docs).write.mode("overwrite").parquet(refPath)

  /** Launch the monitor over a streaming documents frame. Reports land
    * under `outPath` partitioned by batch_id ([[DeltaLayout.landEach]]). */
  def driftMonitor(
      newDocs: DataFrame,
      refPath: String,
      outPath: String,
      checkpoint: String,
      threshold: Double = 0.1): StreamingQuery =
    DeltaLayout.landEach(newDocs, refPath, outPath, checkpoint) { batch =>
      TextAnalysis.divergenceAgainst(batch,
        DeltaLayout.readParquet(batch.sparkSession, refPath), threshold)
    }

  /** Bounded end-to-end run over the documents table — the measured
    * driver entry for the streaming drift surface (q_stream_drift), on
    * the [[DeltaLayout.run]] lifecycle: the seed is the reference
    * distribution of the same corpus, and the table is staged as ONE
    * file, so it is scored as one micro-batch — each source against
    * the full-corpus distribution — and the report is one
    * deterministic per-source row set that shares a plain SQL oracle.
    * A second file would be a second batch, scored on its own. */
  def driftMonitorRun(
      spark: SparkSession, dir: String, threshold: Double = 0.1): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    DeltaLayout.run(spark, "q_stream_drift", compacts = false,
      (refPath, src) => {
        DeltaLayout.overlap(Seq(
          () => seedReference(docs, refPath),
          () => docs.coalesce(1).write.mode("overwrite").parquet(src)))
        docs
      },
      driftMonitor(_, _, _, _, threshold), (_, _) => (),
      (_, outPath) => DeltaLayout.readParquet(spark, outPath).drop("batch_id"))
      .orderBy("source")
  }
}
