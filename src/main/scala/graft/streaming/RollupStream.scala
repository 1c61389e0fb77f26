package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Etl

/** Streaming rollup maintenance: keep the per-(source, lang) corpus
  * rollup current while documents ARRIVE, without ever re-aggregating
  * the lake — the streaming face of [[Etl.rollupIncremental]] (whose
  * batch form handles removals/changes via the snapshot diff; an
  * append-only stream only adds).
  *
  * State layout is the exactly-once trick: the maintained state is
  * NOT one mutable rollup file but `seed rollup + per-batch delta
  * partitions`. Each micro-batch writes its OWN delta partition
  * (partitionBy batch_id, dynamic overwrite), so a RETRIED batch
  * replaces its previous attempt instead of double-counting — the
  * [[DriftStream]] sink contract, applied to cumulative state. Serving
  * merges seed + deltas with one tiny aggregation (group-cardinality ×
  * batches rows, never corpus rows); a compaction that folds old
  * deltas into the seed is the standard artifact-maintenance move and
  * does not change served values.
  *
  * The measured driver entry seeds from half the corpus, streams the
  * other half, and must land EXACTLY on the direct full-corpus rollup
  * — the same DuckDB oracle as the batch operator, so the hash gate
  * proves stream-maintained == recomputed.
  */
object RollupStream {

  /** Seed (or rebuild) the persisted base rollup. */
  def seedRollup(docs: DataFrame, seedPath: String): Unit =
    Etl.corpusRollup(docs).write.mode("overwrite").parquet(seedPath)

  /** Launch maintenance over a streaming documents frame: each batch
    * lands as its own delta partition under `deltaPath`; batches at or
    * below the seed's compaction watermark are skipped (already in the
    * seed). */
  def rollupMaintain(
      newDocs: DataFrame,
      seedPath: String,
      deltaPath: String,
      checkpoint: String): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > DeltaLayout.foldedThrough(spark, seedPath)) {
          Etl.corpusRollup(batch.toDF())
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(deltaPath)
        }
      }
      .start()

  /** Serve the current rollup: seed + live delta partitions, one small
    * aggregation (rows = groups × (1 + batches), never the corpus). A
    * missing delta directory (fresh state, or just compacted) serves
    * the seed alone; partitions at or below the compaction watermark
    * are EXCLUDED — their content lives in the seed, and filtering
    * here (partition pruning on batch_id) is what makes the
    * compact-crash window benign. */
  def serveRollup(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    serveRollupBounded(spark, seedPath, deltaPath, Long.MaxValue)

  /** [[serveRollup]] with an upper batch_id bound: [[compact]] folds a
    * FIXED batch range so a micro-batch that lands while the fold is
    * writing is neither silently merged below its watermark nor (see
    * [[DeltaLayout.deleteFoldedPartitions]]) deleted — it simply stays a live
    * delta for the next compact. */
  private def serveRollupBounded(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long): DataFrame = {
    val seed = spark.read.parquet(seedPath)
      .select("source", "lang", "n_docs", "n_tokens", "n_chars")
    val merged =
      if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) seed
      else seed.unionByName(spark.read.parquet(deltaPath)
        .filter(col("batch_id").cast("long") > DeltaLayout.foldedThrough(spark, seedPath)
          && col("batch_id").cast("long") <= upTo)
        .select("source", "lang", "n_docs", "n_tokens", "n_chars"))
    merged
      .groupBy("source", "lang")
      .agg(sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .filter(col("n_docs") > 0)
      .orderBy("source", "lang")
  }

  /** Fold the accumulated deltas into a fresh seed so delta state
    * stays bounded (run between micro-batches, like the gates'
    * [[IndexMaintenance]]): writes the merged rollup to `seed__maint`,
    * rename-swaps it over the seed (the complete artifact survives a
    * crash under the maint path; a missing live seed fails the next
    * serve LOUDLY rather than under-counting), then deletes ONLY the
    * folded delta partitions — batches landing mid-compact stay live.
    * Served values are unchanged by construction — spec asserts
    * bit-equality across a compaction. */
  def compact(
      spark: SparkSession, seedPath: String, deltaPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val dp = new Path(deltaPath)
    val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) return // nothing to fold
    val maxBatch = DeltaLayout.maxBatchId(spark, deltaPath)
    val prevFolded = DeltaLayout.foldedThrough(spark, seedPath)
    // fold ONLY batches ≤ maxBatch: one committed between this read and
    // the swap stays a live delta (> the new watermark) for next time
    val merged = serveRollupBounded(spark, seedPath, deltaPath, maxBatch)
      .localCheckpoint()
    val tmp = seedPath + "__maint"
    merged.write.mode("overwrite").parquet(tmp)
    // the new watermark rides INSIDE the tmp dir, so the rename below
    // commits rollup + watermark atomically: a crash before the swap
    // changes nothing; after it, stale delta partitions and retried
    // batches are both ≤ the live watermark and therefore excluded by
    // serveRollup / rollupMaintain — every crash point serves correct
    // values, and stale files are swept by the next successful compact
    val newFolded = math.max(maxBatch, prevFolded)
    if (newFolded >= 0) DeltaLayout.writeFoldedMarker(fs, tmp, newFolded)
    DeltaLayout.swapLive(fs, tmp, seedPath)
    DeltaLayout.deleteFoldedPartitions(fs, dp, newFolded)
  }

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_rollup): even doc_ids seed the base rollup, odd ones
    * stream through maintenance, and the served merge must hash-match
    * the direct rollup over the WHOLE table (shared oracle with
    * q_rollup_incremental's recompute). localCheckpoint'd so the
    * staged source/state can be deleted before returning. */
  def rollupMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_rollup_stream")
    val src = root.resolve("src").toString
    StreamMeter.timeSeed("q_stream_rollup") {
      docs.filter(col("doc_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
      seedRollup(docs.filter(col("doc_id") % 2 === 0), root.resolve("seed").toString)
    }

    val q = rollupMaintain(
      spark.readStream.schema(docs.schema).parquet(src),
      root.resolve("seed").toString,
      root.resolve("delta").toString,
      root.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    val result = serveRollup(spark,
        root.resolve("seed").toString, root.resolve("delta").toString)
      .localCheckpoint()
      .orderBy("source", "lang")
    DeltaLayout.rmTree(root)
    result
  }
}
