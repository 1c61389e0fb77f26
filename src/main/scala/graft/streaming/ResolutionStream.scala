package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

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
  * feed_id, stateful in append mode, so the gate runs per batch via
  * foreachBatch (the phraseGateRun mechanics); the df-capped blocking
  * index and the catalog both broadcast-scale (dictionary-sized). */
object ResolutionStream {

  /** Bounded end-to-end run for the measured driver entry: stage the
    * feed as files, stream it through the match gate against the
    * persisted blocking index, return the union of per-batch match
    * verdicts. */
  def entityGateRun(
      feed: DataFrame, catalog: DataFrame, index: DataFrame,
      minScoreMicro: Long = 500000L, k: Int = 1): DataFrame = {
    val spark = feed.sparkSession
    val root = java.nio.file.Files.createTempDirectory("graft_er_stream")
    val src = root.resolve("src").toString
    val out = root.resolve("out").toString
    // seed phase = feed staging + pinning the static dictionary side
    // (a production gate holds the artifacts open, it doesn't re-read
    // them per micro-batch)
    val (cat, idx) = StreamMeter.timeSeed("q_stream_entity_match") {
      feed.write.mode("overwrite").parquet(src)
      (catalog.localCheckpoint(), index.localCheckpoint())
    }

    val q = spark.readStream.schema(feed.schema).parquet(src)
      .writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Resolution.entityMatchWithIndex(
            batch.toDF(), cat, idx, minScoreMicro, k)
          .write.mode("append").parquet(out)
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val result = spark.read.parquet(out).localCheckpoint()
    DeltaLayout.rmTree(root)
    result.orderBy("feed_id", "rank")
  }

  /** Driver-entry form: the corrupted part feed resolved against the
    * persisted blocking index, streamed. */
  def entityGateRun(spark: SparkSession, dir: String): DataFrame =
    entityGateRun(
      graft.SparkEntry.erFeed(spark, dir).select("feed_id", "name"),
      graft.SparkEntry.erCatalog(spark, dir),
      graft.SparkEntry.erIndexShared(spark, dir))
}
