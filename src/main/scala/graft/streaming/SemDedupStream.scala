package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming SemDeDup maintenance — keep the semantic-dedup verdict
  * current while embeddings ARRIVE, completing the SemDeDup lifecycle
  * (batch [[Similarity.semDeDup]] / incremental
  * [[Similarity.semDeDupIncremental]] / streaming): the
  * [[IvfSignedStream]] train-once/add-forever posture applied to the
  * verdict artifact.
  *
  * Centroids train ONCE at seed time and are then FIXED; each
  * micro-batch assigns ONLY its own vectors against the broadcast
  * centroid table (a narrow map, no shuffle) and lands slim
  * (vec_id, cid, sim) rows under its batch_id partition (dynamic
  * overwrite — a retried batch replaces its previous attempt).
  * Serving re-resolves ONLY the clusters the live delta touches
  * (components never cross cluster boundaries — SemDeDup's own
  * sharding device) and passes every untouched cluster's verdict
  * rows through verbatim from the persisted seed verdict. Because
  * assignment at fixed centroids is deterministic, the served
  * verdict is bit-identical to a direct [[Similarity
  * .semDeDupFromIndex]] run over the whole corpus against the same
  * centroids — spec-asserted, and unchanged across a compaction. */
object SemDedupStream {

  /** Seed (or rebuild) the persisted triple under `seedPath`: train
    * centroids on the seed corpus, assign it, resolve its verdict. */
  def seedIndex(emb: DataFrame, seedPath: String,
      clusterSize: Long = 250L, tau: Double = 0.9): Unit = {
    val (assign, cents) = Similarity.semDeDupIndex(
      emb, clusterSize = clusterSize)
    val a = assign.localCheckpoint()
    a.write.mode("overwrite").parquet(s"$seedPath/assign")
    cents.write.mode("overwrite").parquet(s"$seedPath/centroids")
    Similarity.semDeDupFromIndex(emb, a, tau)
      .write.mode("overwrite").parquet(s"$seedPath/verdict")
  }

  /** Launch maintenance over a streaming embeddings frame: each batch
    * assigns its vectors against the FIXED seed centroids and lands
    * the slim delta under its own batch_id partition; batches at or
    * below the seed's compaction watermark are skipped (folded). */
  def verdictMaintain(
      newEmb: DataFrame,
      seedPath: String,
      deltaPath: String,
      checkpoint: String): StreamingQuery =
    DeltaLayout.landEach(newEmb, seedPath, deltaPath, checkpoint) { batch =>
      Similarity.semDeDupAssignAgainst(batch,
        batch.sparkSession.read.parquet(s"$seedPath/centroids"))
    }

  /** (live slim assignments, live DELTA slice) bounded at `upTo` —
    * the [[DeltaLayout]] watermark discipline: a micro-batch
    * committed while a compact is writing stays a live delta. */
  private def liveAssign(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long): (DataFrame, DataFrame) = {
    val seedA = spark.read.parquet(s"$seedPath/assign")
      .select("vec_id", "cid", "sim")
    if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath))
      (seedA, seedA.limit(0))
    else {
      val folded = DeltaLayout.foldedThrough(spark, seedPath)
      val delta = spark.read.parquet(deltaPath)
        .filter(col("batch_id").cast("long") > folded
          && col("batch_id").cast("long") <= upTo)
        .select("vec_id", "cid", "sim")
      (seedA.unionByName(delta), delta)
    }
  }

  /** Serve the verdict over everything ingested so far: untouched
    * clusters pass through from the seed verdict verbatim, clusters
    * the live delta touches re-resolve via the incremental fold. */
  def serveVerdict(
      spark: SparkSession, seedPath: String, deltaPath: String,
      emb: DataFrame, tau: Double = 0.9): DataFrame = {
    // EMPTY-DELTA FAST PATH (guide §2.4): with no live batch the
    // incremental fold touches zero clusters — every verdict row
    // passes through from the seed verbatim — so serving reads the
    // verdict face straight off the seed artifact (the graph-stream
    // device; row-identity with the incremental path is the
    // anti-join-over-empty-touched identity, spec-asserted).
    if (!DeltaLayout.hasLiveBatches(spark, seedPath, deltaPath))
      return spark.read.parquet(s"$seedPath/verdict")
        .select("vec_id", "cid", "kept")
        .orderBy("vec_id")
    val (assign, delta) = liveAssign(spark, seedPath, deltaPath, Long.MaxValue)
    Similarity.semDeDupIncremental(
      emb, assign, spark.read.parquet(s"$seedPath/verdict"),
      delta.select("cid"), tau)
  }

  /** Fold accumulated delta partitions into a fresh seed triple so
    * delta state stays bounded: merged assignments + centroids
    * (unchanged) + the REFRESHED verdict at the fold bound, written
    * aside and rename-swapped ([[DeltaLayout.swapLive]] — crash-safe),
    * then ONLY the folded delta partitions die. Served results are
    * unchanged by construction — spec asserts bit-equality across a
    * compaction. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String,
      emb: DataFrame, tau: Double = 0.9): Unit = {
    DeltaLayout.fold(spark, seedPath, deltaPath) { (upTo, tmp) =>
      val (assign, delta) = liveAssign(spark, seedPath, deltaPath, upTo)
      val folded = Similarity.semDeDupIncremental(
          emb, assign, spark.read.parquet(s"$seedPath/verdict"),
          delta.select("cid"), tau)
        .localCheckpoint()
      val ac = assign.localCheckpoint()
      val cc = spark.read.parquet(s"$seedPath/centroids").localCheckpoint()
      ac.write.mode("overwrite").parquet(s"$tmp/assign")
      cc.write.mode("overwrite").parquet(s"$tmp/centroids")
      folded.write.mode("overwrite").parquet(s"$tmp/verdict")
    }
  }

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_semdedup): even vec_ids train + seed the triple, odd
    * ones stream through assignment-only maintenance, a compaction
    * runs inside the measured path (the serve after it re-peels only
    * clusters the POST-compact batches touch), and the served verdict
    * must equal the direct full-corpus twin at the same centroids —
    * spec-asserted. */
  def semDedupMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    DeltaLayout.run(spark, "q_stream_semdedup", compacts = true,
      (seed, src) => {
        val d = emb.filter(col("vec_id") % 2 =!= 0)
        d.repartition(2).write.mode("overwrite").parquet(src)
        seedIndex(emb.filter(col("vec_id") % 2 === 0), seed)
        d
      },
      verdictMaintain, compact(spark, _, _, emb),
      serveVerdict(spark, _, _, emb)).orderBy("vec_id")
  }
}
