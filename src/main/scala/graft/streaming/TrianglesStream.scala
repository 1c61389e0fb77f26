package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Graph

/** Streaming TRIANGLE-COUNT maintenance — the EIGHTH [[DeltaLayout]]
  * instance, completing the cohesion face's lifecycle (batch
  * [[Graph.triangles]] / incremental [[Graph.trianglesIncremental]] /
  * streaming): the EASIEST graph stream of the family because counts
  * are ADDITIVE under edge insertion (every union triangle is
  * prior-only or contains a delta edge — the
  * [[Graph.trianglesIncremental]] argument), so no component labeling
  * rides the artifact at all. Each micro-batch lands its canonical
  * edge delta under its batch_id partition; SERVING folds live deltas
  * into the seed (edges, triangles) pair arithmetically — prior
  * per-node rows are never recomputed; COMPACTION folds the pair
  * under the standard watermark / [[DeltaLayout.swapLive]] crash-safe
  * swap discipline.
  *
  * The measured driver entry (q_stream_triangles) seeds from the
  * PERSISTED prior graph artifact (yesterday's graph — read, not
  * recomputed), streams the remaining edges, compacts mid-stream,
  * and serves — which must hash-match the SAME full-graph wedge-join
  * oracle as q_triangles: stream-maintained == full recompute,
  * proven by the gate.
  *
  * Unlike the other insert-only graph entries, this one does not run
  * on [[SignedGraphStream]]: its arithmetic fold carries no labels
  * face, while the signed triangle face re-runs the wedge join over
  * every touched component — a compaction roughly twice as slow. */
object TrianglesStream {

  /** Seed (or rebuild) the persisted (edges, triangles) pair. */
  def seedTriangles(edges: DataFrame, seedRoot: String): Unit = {
    val canon = Graph.canonicalEdges(edges).localCheckpoint()
    canon.write.mode("overwrite").parquet(s"$seedRoot/edges")
    Graph.triangles(canon.select(col("a").as("src"), col("b").as("dst")))
      .write.mode("overwrite").parquet(s"$seedRoot/triangles")
  }

  /** Launch maintenance over a streaming raw edge frame (src, dst, w):
    * the [[SignedGraphStream.signedMaintain]] landing contract with
    * every op `add` — each batch canonicalizes ONLY its own edges; batches at or below the seed's
    * compaction watermark are skipped (already folded in). */
  def trianglesMaintain(
      newEdges: DataFrame, seedRoot: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    DeltaLayout.landEach(newEdges, seedRoot, deltaPath, checkpoint)(
      Graph.canonicalEdges)

  private def liveDeltaEdges(
      spark: SparkSession, seedRoot: String, deltaPath: String,
      upTo: Long): DataFrame =
    DeltaLayout.liveDeltaRows(spark, seedRoot, deltaPath, upTo,
      Seq("a", "b"), s"$seedRoot/edges", distinctRows = true)

  /** The live per-node triangle counts: seed pair + live edge deltas
    * through the additive incremental fold. A missing/empty delta
    * directory serves the seed alone. */
  def serveTriangles(
      spark: SparkSession, seedRoot: String, deltaPath: String): DataFrame =
    // EMPTY-DELTA FAST PATH (guide §2.4): with no live batch the
    // arithmetic fold adds zero everywhere (no new triangles, no
    // degree deltas, cc recomputes to the prior value), so serving
    // reads the triangle face straight off the seed artifact.
    // Row-identity with the incremental path is spec-asserted.
    if (!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaPath))
      spark.read.parquet(s"$seedRoot/triangles")
        .select("node", "degree", "n_triangles", "cc_micro")
    else Graph.trianglesIncremental(
      spark.read.parquet(s"$seedRoot/edges"),
      spark.read.parquet(s"$seedRoot/triangles"),
      liveDeltaEdges(spark, seedRoot, deltaPath, Long.MaxValue)
        .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w")))

  /** Fold live deltas into the seed pair: edges union, counts through
    * the additive incremental fold; watermark + crash-safe swap. */
  def compact(spark: SparkSession, seedRoot: String, deltaPath: String): Unit = {
    DeltaLayout.fold(spark, seedRoot, deltaPath) { (upTo, tmp) =>
      val seedE = spark.read.parquet(s"$seedRoot/edges")
      val seedT = spark.read.parquet(s"$seedRoot/triangles")
      val delta = liveDeltaEdges(spark, seedRoot, deltaPath, upTo)
        .localCheckpoint()
      val dRaw = delta.select(col("a").as("src"), col("b").as("dst"),
        lit(1L).as("w"))
      // lazy — materialized by its face write below
      val newE = seedE.select("a", "b").unionByName(delta.select("a", "b"))
        .distinct()
      // the two faces are independent job chains — overlap them (§2.6)
      DeltaLayout.overlap(Seq(
        () => newE.write.mode("overwrite").parquet(s"$tmp/edges"),
        () => Graph.trianglesIncremental(seedE, seedT, dRaw)
          .write.mode("overwrite").parquet(s"$tmp/triangles")))
    }
  }

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_triangles): seed from the PERSISTED prior artifact
    * (yesterday's graph — prior ⊆ full because pair counts only
    * grow), stream the remaining edge delta in micro-batches, compact
    * mid-stream, serve the counts — must hash-match the full-graph
    * q_triangles oracle. The stream owns a private COPY of the seed
    * because compaction rewrites it. */
  def trianglesMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
    val full = Graph.canonicalEdges(
      graft.operators.Purchases.coPurchaseGraph(li, minCount = 2L))
      .localCheckpoint()
    DeltaLayout.run(spark, "q_stream_triangles", compacts = true,
      (seedRoot, srcDir) => {
        val (priorE, _) = graft.SparkEntry.cpIndexShared(spark, dir)
        val d = full.join(
            priorE.select("a", "b"), Seq("a", "b"), "left_anti")
          .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
        // three independent writes — overlap them (guide §2.6)
        DeltaLayout.overlap(Seq(
          () => priorE.write.mode("overwrite").parquet(s"$seedRoot/edges"),
          () => graft.SparkEntry.cpTrianglesShared(spark, dir)
            .write.mode("overwrite").parquet(s"$seedRoot/triangles"),
          () => d.repartition(2).write.mode("overwrite").parquet(srcDir)))
        d
      },
      trianglesMaintain, compact(spark, _, _), serveTriangles(spark, _, _))
      .orderBy("node")
  }
}
