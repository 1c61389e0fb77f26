package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming IVF posting-list maintenance: keep the vector index
  * current while embeddings ARRIVE, without ever retraining — the
  * FAISS train-once/add-forever contract expressed as the fourth
  * [[DeltaLayout]] instance ([[RollupStream]] for additive rollups,
  * [[Bm25Stream]] for the inverted index, [[CmsStream]] for counters).
  *
  * Coarse centroids are trained ONCE at seed time and then FIXED;
  * each micro-batch assigns ONLY its own vectors against the broadcast
  * centroid table ([[Similarity.ivfAssignAgainst]] — a narrow map, no
  * shuffle) and lands the slim (vec_id, cid) rows under its batch_id
  * partition (dynamic overwrite — a retried batch replaces its
  * previous attempt). Serving unions seed ∪ live delta assignments
  * into [[Similarity.embedIvfTopKFromIndex]]; because assignment at
  * fixed centroids is DETERMINISTIC, the stream-maintained index is
  * bit-identical to a direct assignment of the whole corpus against
  * the same centroids — proven THROUGH the serving path in spec and
  * by the measured driver entry (q_stream_ivf == the direct twin).
  * Compaction folds old deltas into the seed without changing served
  * results. */
object IvfStream {

  /** Seed (or rebuild) the persisted index pair: train centroids on
    * the seed corpus, assign it, persist both under `seedPath`. */
  def seedIndex(emb: DataFrame, seedPath: String,
      nCentroids: Int = 16, lloydIters: Int = 2): Unit = {
    val (assign, cents) = Similarity.ivfIndex(emb, nCentroids, lloydIters)
    assign.write.mode("overwrite").parquet(s"$seedPath/assign")
    cents.write.mode("overwrite").parquet(s"$seedPath/centroids")
  }

  /** Launch maintenance over a streaming embeddings frame: each batch
    * assigns its vectors against the FIXED seed centroids and lands
    * the delta under its own batch_id partition; batches at or below
    * the seed's compaction watermark are skipped (already folded). */
  def indexMaintain(
      newEmb: DataFrame,
      seedPath: String,
      deltaPath: String,
      checkpoint: String): StreamingQuery =
    newEmb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > DeltaLayout.foldedThrough(spark, seedPath)) {
          val cents = spark.read.parquet(s"$seedPath/centroids")
          Similarity.ivfAssignAgainst(batch.toDF(), cents)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(deltaPath)
        }
      }
      .start()

  /** The live index pair: (seed ∪ live delta assignments, centroids).
    * A missing/empty delta directory serves the seed alone. */
  def liveIndex(
      spark: SparkSession, seedPath: String,
      deltaPath: String): (DataFrame, DataFrame) =
    liveIndexBounded(spark, seedPath, deltaPath, Long.MaxValue)

  /** [[liveIndex]] with an upper batch_id bound: [[compact]] folds a
    * FIXED batch range so a micro-batch committed while the fold is
    * writing is neither merged below its watermark nor deleted — it
    * stays a live delta for the next compact. */
  private def liveIndexBounded(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long): (DataFrame, DataFrame) = {
    val seedA = spark.read.parquet(s"$seedPath/assign").select("vec_id", "cid")
    val cents = spark.read.parquet(s"$seedPath/centroids")
    val assign =
      if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) seedA
      else {
        val folded = DeltaLayout.foldedThrough(spark, seedPath)
        seedA.unionByName(spark.read.parquet(deltaPath)
          .filter(col("batch_id").cast("long") > folded
            && col("batch_id").cast("long") <= upTo)
          .select("vec_id", "cid"))
      }
    (assign, cents)
  }

  /** Fold accumulated delta partitions into a fresh seed so delta
    * state stays bounded — the [[RollupStream.compact]] move applied
    * to the index pair (centroids ride the swap unchanged): write
    * merged assignments + centroids + the new watermark under
    * `seed__maint`, rename-swap over the seed, then delete ONLY the
    * folded delta partitions (a batch the stream commits mid-compact
    * stays live). Served results unchanged by construction — spec
    * asserts bit-equality across a compaction. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) return // nothing to fold
    val fs = DeltaLayout.fs(spark, deltaPath)
    val maxBatch = spark.read.parquet(deltaPath)
      .agg(max(col("batch_id").cast("long"))).head() match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
    // fold ONLY batches ≤ maxBatch: one committed between this read and
    // the swap stays a live delta (> the new watermark) for next time
    val (assign, cents) = liveIndexBounded(spark, seedPath, deltaPath, maxBatch)
    val (ac, cc) = (assign.localCheckpoint(), cents.localCheckpoint())
    val tmp = seedPath + "__maint"
    ac.write.mode("overwrite").parquet(s"$tmp/assign")
    cc.write.mode("overwrite").parquet(s"$tmp/centroids")
    val newFolded = math.max(maxBatch,
      DeltaLayout.foldedThrough(spark, seedPath))
    if (newFolded >= 0) DeltaLayout.writeFoldedMarker(fs, tmp, newFolded)
    DeltaLayout.swapLive(fs, tmp, seedPath)
    DeltaLayout.deleteFoldedPartitions(fs, new Path(deltaPath), newFolded)
  }

  /** Serve an ANN top-k over everything ingested so far. */
  def searchLive(
      spark: SparkSession, seedPath: String, deltaPath: String,
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nProbe: Int = 4): DataFrame = {
    val (assign, cents) = liveIndex(spark, seedPath, deltaPath)
    Similarity.embedIvfTopKFromIndex(assign, cents, emb, nQueries, k, nProbe)
  }

  /** Bounded end-to-end run — the measured driver entry (q_stream_ivf):
    * even vec_ids train + seed the index, odd ones stream through
    * assignment-only maintenance, a compaction runs inside the
    * measured path, and the served top-k must equal the direct twin —
    * the same corpus assigned in ONE batch against the same seed
    * centroids (assignment at fixed centroids is deterministic, so
    * stream-maintained == direct, proven through serving in spec). */
  def ivfMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_stream")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    StreamMeter.timeSeed("q_stream_ivf") {
      emb.filter(col("vec_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
      seedIndex(emb.filter(col("vec_id") % 2 === 0), seedP)
    }

    val q = indexMaintain(
      spark.readStream.schema(emb.schema).parquet(src),
      seedP, deltaP, root.resolve("ckpt").toString)
    StreamMeter.timePhase("q_stream_ivf", "batch") {
      try q.processAllAvailable() finally q.stop()
    }
    StreamMeter.timePhase("q_stream_ivf", "compact") {
      compact(spark, seedP, deltaP)
    }

    val result = StreamMeter.timePhase("q_stream_ivf", "serve") {
      searchLive(spark, seedP, deltaP, emb).localCheckpoint()
    }
    DeltaLayout.rmTree(root)
    result
  }
}
