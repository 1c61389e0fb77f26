package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Graph
import graft.streaming.SignedGraphStream

/** Removal-aware streaming graph maintenance: signed (add/remove)
  * rows land per batch, net-resolve by last op in batch order, and
  * serve/compact through the batch-side signed operators. The
  * deletion fixtures the grow-only stream specs never see: a removed
  * BRIDGE splitting a served component, an edge added then removed
  * across batches netting out, a removed edge re-added netting back,
  * and loud landing guards on ambiguous batches. */
class SignedGraphStreamSpec extends AnyFunSuite with SparkSessionTestBase {

  import spark.implicits._
  import scala.jdk.CollectionConverters._

  // prior: dumbbell 1-2-3 =bridge(3,4)= 4-5-6 | K4 10..13 (untouched)
  // | pendant pair 20-21 (the GraphSignedSpec fixture)
  private val priorRaw = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L),
    (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
    (20L, 21L))

  private def df(pairs: Seq[(Long, Long)]): DataFrame =
    pairs.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")

  private def ops(rows: Seq[(Long, Long, String)]): DataFrame =
    rows.toDF("src", "dst", "op")

  test("signed stream: cross-batch net resolution, bridge split, " +
      "all four faces == full recompute, compaction invariance") {
    val root = tempRoot("graft_signed_spec")
    try {
      val src = root.resolve("src").toString
      val seedRoot = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      val priorDf = df(priorRaw)
      val priorE = Graph.canonicalEdges(priorDf)
      priorE.write.mode("overwrite").parquet(s"$seedRoot/edges")
      Graph.componentLabels(priorDf)
        .write.mode("overwrite").parquet(s"$seedRoot/labels")
      Graph.coreness(priorE.select(col("a").as("src"), col("b").as("dst")))
        .write.mode("overwrite").parquet(s"$seedRoot/coreness")
      Graph.triangles(priorDf)
        .write.mode("overwrite").parquet(s"$seedRoot/triangles")
      Graph.kTruss(priorE.select(col("a").as("src"), col("b").as("dst")), 3)
        .write.mode("overwrite").parquet(s"$seedRoot/truss")
      // batch 0: remove the bridge; add a pair that batch 1 retracts;
      // remove the pendant edge that batch 1 restores
      val b0 = ops(Seq((3L, 4L, "remove"), (7L, 8L, "add"),
        (20L, 21L, "remove")))
      b0.write.mode("overwrite").parquet(src)
      val q = SignedGraphStream.signedMaintain(
        spark.readStream.schema(b0.schema).parquet(src),
        seedRoot, deltaP, root.resolve("ckpt").toString)
      try {
        q.processAllAvailable()
        // batch 1: retract (7,8) [net: gone — never entered the graph],
        // restore (20,21) [net: add of an existing prior edge — no-op],
        // grow the pendant pair (dst < src on purpose: canonicalization
        // is landing's job)
        ops(Seq((7L, 8L, "remove"), (20L, 21L, "add"), (22L, 21L, "add")))
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      // today's graph: prior − bridge ∪ {(21,22)}
      val newG = df(priorRaw.filterNot(_ == ((3L, 4L))) ++ Seq((21L, 22L)))
      def rows(d: DataFrame) = d.collect().map(_.toString).toSeq
      val comp = rows(SignedGraphStream.serveComponents(spark, seedRoot, deltaP))
      assert(comp === rows(Graph.components(newG)))
      // the REMOVED-BRIDGE SPLIT is served: the dumbbell's one prior
      // component is now two 3-node components labeled by each side's
      // min id, and the netted-out (7,8) pair never appears
      val m = SignedGraphStream.serveComponents(spark, seedRoot, deltaP)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(m(1L) === ((3L, 3L)) && m(4L) === ((3L, 3L)))
      assert(!m.contains(7L) && !m.contains(8L))
      // every face serves the full recompute over today's graph
      val core = rows(SignedGraphStream.serveCoreness(spark, seedRoot, deltaP))
      assert(core === rows(Graph.coreness(
        newG.select(col("src"), col("dst")))))
      val tri = rows(SignedGraphStream.serveTriangles(spark, seedRoot, deltaP))
      assert(tri === rows(Graph.triangles(newG)))
      val truss = rows(SignedGraphStream.serveTruss(spark, seedRoot, deltaP, 3))
      assert(truss === rows(Graph.kTruss(newG, 3)))
      // compaction folds every face and leaves every serve unchanged
      SignedGraphStream.compact(spark, seedRoot, deltaP)
      assert(rows(SignedGraphStream.serveComponents(spark, seedRoot, deltaP))
        === comp)
      assert(rows(SignedGraphStream.serveCoreness(spark, seedRoot, deltaP))
        === core)
      assert(rows(SignedGraphStream.serveTriangles(spark, seedRoot, deltaP))
        === tri)
      assert(rows(SignedGraphStream.serveTruss(spark, seedRoot, deltaP, 3))
        === truss)
      // the folded delta partitions are gone (watermark advanced)
      val deltaDir = root.resolve("delta")
      assert(!java.nio.file.Files.exists(deltaDir) ||
        !java.nio.file.Files.list(deltaDir).iterator().hasNext ||
        java.nio.file.Files.list(deltaDir).iterator().asScala
          .forall(p => !p.getFileName.toString.startsWith("batch_id=")))
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }

  test("landing guards: one pair carrying both ops in a batch raises; " +
      "an unknown op raises") {
    def runBatch(rows: Seq[(Long, Long, String)]): Unit = {
      val root = tempRoot("graft_signed_guard")
      try {
        val src = root.resolve("src").toString
        val seedRoot = root.resolve("seed").toString
        df(Seq((1L, 2L))).select(
            col("src").as("a"), col("dst").as("b"))
          .write.mode("overwrite").parquet(s"$seedRoot/edges")
        val b = ops(rows)
        b.write.mode("overwrite").parquet(src)
        val q = SignedGraphStream.signedMaintain(
          spark.readStream.schema(b.schema).parquet(src),
          seedRoot, root.resolve("delta").toString,
          root.resolve("ckpt").toString)
        try q.processAllAvailable() finally q.stop()
      } finally graft.streaming.DeltaLayout.rmTree(root)
    }
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage).getOrElse("")) +
        Option(t.getCause).map(rootMsg).getOrElse("")
    // (2,1) canonicalizes onto (1,2): the batch carries both ops for
    // one canonical pair — ambiguous, must die at landing
    val exBoth = intercept[Exception] {
      runBatch(Seq((1L, 2L, "add"), (2L, 1L, "remove")))
    }
    assert(rootMsg(exBoth).contains("both add AND remove"))
    val exOp = intercept[Exception] {
      runBatch(Seq((1L, 2L, "upsert")))
    }
    assert(rootMsg(exOp).contains("op must be add|remove"))
  }
}
