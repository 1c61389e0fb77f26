package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph
import graft.streaming._

/** Pins the EMPTY-DELTA serve fast path the r14 optimization round
  * added to every graph-stream face (guide §2.4): with no live delta
  * batch, serving reads the seed artifact (or runs the two bounded
  * component aggregations) instead of the incremental fold machinery —
  * and the rows must be IDENTICAL to what the incremental path
  * produces over an explicitly empty delta. The measured lifecycles
  * exercise the fast path end-to-end (serve after compaction) against
  * the full-recompute oracles; this spec pins the row-identity claim
  * in isolation so a future edit to either path can't drift. */
class EmptyDeltaServeSpec extends AnyFunSuite with SparkSessionTestBase {

  import spark.implicits._

  // dumbbell + K4 + pendant pair: components of multiple sizes, a
  // 3-core, triangles, and a 3-truss all non-trivial
  private val raw = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L),
    (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
    (20L, 21L))

  private def edges: DataFrame =
    raw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def emptyDelta: DataFrame =
    Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")

  test("empty-delta component stats == incremental fold over an " +
      "empty delta (the ComponentsStream fast path)") {
    val canon = Graph.canonicalEdges(edges)
    val labels = Graph.componentLabels(edges)
    val fast = Graph.componentStatsOf(labels, canon)
    val slow = Graph.componentsIncremental(canon, labels, emptyDelta)
    assert(sortedRows(fast) == sortedRows(slow))
  }

  test("empty-delta coreness face == incremental re-peel over an " +
      "empty delta (the CorenessStream fast path)") {
    val canon = Graph.canonicalEdges(edges)
    val labels = Graph.componentLabels(edges)
    val core = Graph.corenessSharded(
      canon.select(col("a").as("src"), col("b").as("dst")))
    val slow = Graph.corenessIncremental(canon, labels, core, emptyDelta)
    assert(sortedRows(core.select("node", "coreness")) == sortedRows(slow))
  }

  test("empty-delta triangle face == arithmetic fold over an empty " +
      "delta (the TrianglesStream fast path)") {
    val canon = Graph.canonicalEdges(edges)
    val tri = Graph.triangles(
      canon.select(col("a").as("src"), col("b").as("dst")))
    val slow = Graph.trianglesIncremental(canon, tri, emptyDelta)
    assert(sortedRows(tri) == sortedRows(slow))
  }

  test("empty-delta truss face == incremental re-peel over an empty " +
      "delta (the KTrussStream fast path)") {
    val canon = Graph.canonicalEdges(edges)
    val labels = Graph.componentLabels(edges)
    val truss = Graph.kTruss(
      canon.select(col("a").as("src"), col("b").as("dst")), 3)
    val slow = Graph.kTrussIncremental(canon, labels, truss, emptyDelta, 3)
    assert(sortedRows(truss) == sortedRows(slow))
  }

  test("empty-delta SIGNED serves == signed folds over empty " +
      "add/remove slices (the SignedGraphStream fast paths)") {
    val canon = Graph.canonicalEdges(edges)
    val labels = Graph.componentLabels(edges)
    val core = Graph.corenessSharded(
      canon.select(col("a").as("src"), col("b").as("dst")))
    val tri = Graph.triangles(
      canon.select(col("a").as("src"), col("b").as("dst")))
    val truss = Graph.kTruss(
      canon.select(col("a").as("src"), col("b").as("dst")), 3)
    assert(sortedRows(Graph.componentStatsOf(labels, canon)) ==
      sortedRows(Graph.componentsSigned(canon, labels, emptyDelta, emptyDelta)))
    assert(sortedRows(core.select("node", "coreness")) ==
      sortedRows(Graph.corenessSigned(
        canon, labels, core, emptyDelta, emptyDelta)))
    assert(sortedRows(tri) ==
      sortedRows(Graph.trianglesSigned(
        canon, labels, tri, emptyDelta, emptyDelta)))
    assert(sortedRows(truss) ==
      sortedRows(Graph.kTrussSigned(
        canon, labels, truss, emptyDelta, emptyDelta, 3)))
  }

  test("the empty-delta coreness serve is a PLAIN SCAN of the seed " +
      "face — no joins, no aggregation, no fold machinery in the plan") {
    val root = tempRoot("graft_eds_plan")
    try {
      val seedRoot = root.resolve("seed").toString
      SignedGraphStream.seed(edges, seedRoot, Seq("coreness"))
      val served = SignedGraphStream.serveCoreness(
        spark, seedRoot, root.resolve("delta").toString)
      val p = served.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"fast-path serve plan has a join:\n$p")
      assert(!p.contains("Aggregate"),
        s"fast-path serve plan has an aggregation:\n$p")
      // and the rows are the seed face itself
      assert(sortedRows(served) == sortedRows(
        spark.read.parquet(s"$seedRoot/coreness").select("node", "coreness")))
    } finally DeltaLayout.rmTree(root)
  }

  test("empty-delta semdedup verdict == incremental fold over an " +
      "empty touched set (the SemDedupStream fast path)") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.01f, 0.999f)),
      (5L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val (assign, _) = graft.operators.Similarity.semDeDupIndex(
      emb, clusterSize = 3L)
    val verdict = graft.operators.Similarity.semDeDupFromIndex(
      emb, assign, 0.9)
    val slow = graft.operators.Similarity.semDeDupIncremental(
      emb, assign.select("vec_id", "cid", "sim"), verdict,
      Seq.empty[Long].toDF("cid"), 0.9)
    assert(sortedRows(verdict.select("vec_id", "cid", "kept")) ==
      sortedRows(slow))
  }

  test("a served stream lifecycle takes the fast path after " +
      "compaction and the slow path mid-stream, same rows") {
    val root = tempRoot("graft_eds_spec")
    try {
      val seedRoot = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      val srcDir = root.resolve("src").toString
      val prior = raw.dropRight(2)
      val delta = raw.takeRight(2)
      SignedGraphStream.seed(
        prior.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"),
        seedRoot, Seq.empty)
      delta.map { case (a, b) => (a, b, "add") }.toDF("src", "dst", "op")
        .repartition(1).write.mode("overwrite").parquet(srcDir)
      val q = SignedGraphStream.signedMaintain(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "src BIGINT, dst BIGINT, op STRING"))
          .parquet(srcDir),
        seedRoot, deltaP, root.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      // mid-stream: live delta present → the incremental (slow) path
      val mid = sortedRows(
        SignedGraphStream.serveComponents(spark, seedRoot, deltaP))
      SignedGraphStream.compact(spark, seedRoot, deltaP)
      assert(!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaP))
      // post-compaction: no live batch → the fast path; same stats
      val post = sortedRows(
        SignedGraphStream.serveComponents(spark, seedRoot, deltaP))
      assert(mid == post)
      // and both equal the full recompute over the whole graph
      val full = sortedRows(Graph.components(edges))
      assert(post == full)
    } finally DeltaLayout.rmTree(root)
  }
}
