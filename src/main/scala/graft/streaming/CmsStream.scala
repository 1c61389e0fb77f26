package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketches

/** Streaming count-min maintenance: keep the point-frequency sketch
  * current while documents ARRIVE, without ever re-tokenizing the
  * lake — the streaming face of [[Sketches.cmsPartials]] and an
  * instance of the [[DeltaLayout]] state pattern ([[RollupStream]] for
  * additive rollups; CMS counters are linear, so the same
  * `seed + per-batch delta partitions` layout serves exactly).
  *
  * Each micro-batch sketches ONLY its own documents and writes the
  * (d, bucket, cnt) counter deltas under its batch_id partition
  * (dynamic overwrite — a retried batch replaces its previous attempt
  * instead of double-counting). Serving is [[Sketches.cmsMerge]]
  * semantics over `seed ∪ live deltas` — one tiny bucket-wise sum of
  * ≤ depth×width-row frames, never token rows — so a sketch served
  * mid-stream is provably identical to one built directly over
  * everything ingested so far: the measured driver entry seeds from
  * half the corpus, streams the other half, and hash-matches the SAME
  * direct-build DuckDB oracle as q_cms_build. Compaction folds old
  * deltas into the seed ([[compact]]) without changing served
  * counters. */
object CmsStream {

  /** Seed (or rebuild) the persisted counter table. */
  def seedCms(
      docs: DataFrame, seedPath: String,
      depth: Int = 4, width: Int = 1024): Unit =
    Sketches.cmsPartials(docs, depth, width)
      .write.mode("overwrite").parquet(seedPath)

  /** Launch maintenance over a streaming documents frame: each batch
    * lands its counter deltas under its own batch_id partition;
    * batches at or below the seed's compaction watermark are skipped
    * (already folded in). */
  def cmsMaintain(
      newDocs: DataFrame,
      seedPath: String,
      deltaPath: String,
      checkpoint: String,
      depth: Int = 4, width: Int = 1024): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (batchId > DeltaLayout.foldedThrough(batch.sparkSession, seedPath)) {
          Sketches.cmsPartials(batch.toDF(), depth, width)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(deltaPath)
        }
      }
      .start()

  /** The live counter table: seed + delta partitions above the
    * compaction watermark, bucket-wise summed (counts are linear —
    * the CMS merge property). A missing/empty delta directory serves
    * the seed alone. */
  def liveCms(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    liveCmsBounded(spark, seedPath, deltaPath, Long.MaxValue)

  /** [[liveCms]] with an upper batch_id bound: [[compact]] folds a
    * FIXED batch range so a micro-batch committed while the fold is
    * writing is neither merged below its watermark nor deleted — it
    * stays a live delta for the next compact. */
  private def liveCmsBounded(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long): DataFrame = {
    val seed = spark.read.parquet(seedPath).select("d", "bucket", "cnt")
    val merged =
      if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) seed
      else {
        val folded = DeltaLayout.foldedThrough(spark, seedPath)
        seed.unionByName(spark.read.parquet(deltaPath)
          .filter(col("batch_id").cast("long") > folded
            && col("batch_id").cast("long") <= upTo)
          .select("d", "bucket", "cnt"))
      }
    merged.groupBy("d", "bucket").agg(sum("cnt").as("cnt"))
      .orderBy("d", "bucket")
  }

  /** Fold accumulated delta partitions into a fresh seed so delta
    * state stays bounded — the [[RollupStream.compact]] move: write
    * the merged counters + the new watermark under `seed__maint`,
    * rename-swap over the seed, then delete ONLY the folded delta
    * partitions (a batch the stream commits mid-compact stays live).
    * Served counters unchanged by construction — spec asserts
    * bit-equality across a compaction. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) return // nothing to fold
    val fs = DeltaLayout.fs(spark, deltaPath)
    val maxBatch = DeltaLayout.maxBatchId(spark, deltaPath)
    // fold ONLY batches ≤ maxBatch: one committed between this read and
    // the swap stays a live delta (> the new watermark) for next time
    val merged = liveCmsBounded(spark, seedPath, deltaPath, maxBatch)
      .localCheckpoint()
    val tmp = seedPath + "__maint"
    merged.write.mode("overwrite").parquet(tmp)
    val newFolded = math.max(maxBatch,
      DeltaLayout.foldedThrough(spark, seedPath))
    if (newFolded >= 0) DeltaLayout.writeFoldedMarker(fs, tmp, newFolded)
    DeltaLayout.swapLive(fs, tmp, seedPath)
    DeltaLayout.deleteFoldedPartitions(fs, new Path(deltaPath), newFolded)
  }

  /** Bounded end-to-end run — the measured driver entry (q_stream_cms):
    * even doc_ids seed the sketch, odd ones stream through
    * maintenance, and the served merge must hash-match the direct
    * sketch over the WHOLE table (the q_cms_build oracle — counts are
    * linear, so stream-maintained == direct-built, exactly). A
    * mid-stream compaction runs inside the measured path so the
    * fold-then-serve equivalence is part of what the hash gate
    * proves. */
  def cmsMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_cms_stream")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    StreamMeter.timeSeed("q_stream_cms") {
      docs.filter(col("doc_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
      seedCms(docs.filter(col("doc_id") % 2 === 0), seedP)
    }

    val q = cmsMaintain(
      spark.readStream.schema(docs.schema).parquet(src),
      seedP, deltaP, root.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    compact(spark, seedP, deltaP)

    val result = liveCms(spark, seedP, deltaP).localCheckpoint()
    DeltaLayout.rmTree(root)
    result.orderBy("d", "bucket")
  }
}
