package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Resolution

/** Streaming entity resolution: match feed records against the static
  * canonical catalog AS THEY ARRIVE — the ingest-time face of
  * [[Resolution.entityMatchWithIndex]], and the stream-static join
  * posture of the quality/audit gates. The per-record verdict (best
  * catalog match under the blocking index) depends only on the record
  * itself and the STATIC catalog — never on other feed records — so
  * the union of per-micro-batch matches is exactly the whole-feed
  * batch match and the measured driver entry shares q_entity_match's
  * FULL DuckDB oracle. The best-match ranking is a window over
  * feed_id, so the gate runs per micro-batch
  * ([[DeltaLayout.landEach]]); the df-capped blocking index and the
  * catalog both broadcast-scale (dictionary-sized). */
object ResolutionStream {

  /** Bounded end-to-end run for the measured driver entry, on the
    * [[DeltaLayout.run]] lifecycle: stage the feed as one file and the
    * static dictionary side (catalog and blocking index) at the seed —
    * a production gate holds those artifacts open instead of
    * rebuilding them per micro-batch — match each micro-batch against
    * them, and serve the union of per-batch match verdicts. */
  def entityGateRun(
      feed: DataFrame, catalog: DataFrame, index: DataFrame,
      minScoreMicro: Long = 500000L, k: Int = 1): DataFrame = {
    val spark = feed.sparkSession
    DeltaLayout.run(spark, "q_stream_entity_match", compacts = false,
      (seedPath, src) => {
        DeltaLayout.overlap(Seq(
          () => catalog.write.mode("overwrite").parquet(s"$seedPath/catalog"),
          () => index.write.mode("overwrite").parquet(s"$seedPath/index"),
          () => feed.coalesce(1).write.mode("overwrite").parquet(src)))
        feed
      },
      (feeds, seedPath, deltaPath, checkpoint) =>
        DeltaLayout.landEach(feeds, seedPath, deltaPath, checkpoint) {
          Resolution.entityMatchWithIndex(_,
            DeltaLayout.readParquet(spark, s"$seedPath/catalog"),
            DeltaLayout.readParquet(spark, s"$seedPath/index"), minScoreMicro, k)
        },
      (_, _) => (),
      (_, deltaPath) => DeltaLayout.readParquet(spark, deltaPath).drop("batch_id"))
      .orderBy("feed_id", "rank")
  }

  /** Driver-entry form: the corrupted part feed resolved against the
    * persisted blocking index, streamed. */
  def entityGateRun(spark: SparkSession, dir: String): DataFrame =
    entityGateRun(
      graft.SparkEntry.erFeed(spark, dir).select("feed_id", "name"),
      graft.SparkEntry.erCatalog(spark, dir),
      graft.SparkEntry.erIndexShared(spark, dir))
}
