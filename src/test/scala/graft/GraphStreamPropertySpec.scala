package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph
import graft.streaming.{DeltaLayout, SignedGraphStream}

object GraphStreamPropertySpec {
  private type Pair = (Long, Long)

  /** One generated case: the prior edges, the batches of
    * (src, dst, op) rows, and how many batches land before the
    * compaction. */
  private final case class Case(
      prior: Set[Pair], batches: Seq[Seq[(Long, Long, String)]],
      compactAfter: Int)
}

/** Generated cases for the graph-stream equivalence: whatever the
  * prior graph, the batch sequence and the compaction point, the
  * maintained serves equal a full rebuild over the surviving edges —
  * before and after compaction, and with live batches landed on top
  * of a compacted seed. Insert-only streams are the all-`add` case of
  * the signed machine, so both modes run through [[SignedGraphStream]].
  *
  * Each case draws from its own fixed seed, printed before the case
  * runs; `caseGen(signed).pureApply(params, Seed(seed))` replays it. */
class GraphStreamPropertySpec extends AnyFunSuite with SparkSessionTestBase {

  import spark.implicits._

  import GraphStreamPropertySpec._

  private val params = Gen.Parameters.default

  /** A small random graph: n nodes, a random pair subset of size ≥ 2. */
  private val graphGen: Gen[Seq[Pair]] = for {
    n <- Gen.choose(5, 11)
    pairs = for (a <- 0L until n; b <- a + 1 until n) yield (a, b)
    k <- Gen.choose(2, math.min(18, pairs.size))
    picked <- Gen.pick(k, pairs)
  } yield picked.toSeq

  /** Present each canonical pair in a random direction: landing must
    * canonicalize, not the caller. */
  private def oriented(p: Pair, op: String): Gen[(Long, Long, String)] =
    Gen.oneOf((p._1, p._2, op), (p._2, p._1, op))

  private def caseGen(signed: Boolean): Gen[Case] = for {
    edges <- graphGen
    inPrior <- Gen.listOfN(edges.size, Gen.prob(0.6))
    prior = (edges.head +: edges.zip(inPrior).collect { case (e, true) => e })
      .toSet
    nBatches <- Gen.choose(if (signed) 2 else 1, 3)
    batches <-
      if (signed) toggleBatches(edges, prior, nBatches)
      else addBatches(edges.filterNot(prior), nBatches)
    compactAfter <- Gen.choose(0, batches.size)
  } yield Case(prior, batches, compactAfter)

  /** Insert-only: the delta edges, shuffled and split into batches. */
  private def addBatches(
      delta: Seq[Pair], nBatches: Int): Gen[Seq[Seq[(Long, Long, String)]]] =
    for {
      order <- Gen.pick(delta.size, delta)
      rows <- Gen.sequence[List[(Long, Long, String)], (Long, Long, String)](
        order.map(oriented(_, "add")))
      sizes = rows.grouped(math.max(1, (rows.size + nBatches - 1) / nBatches))
    } yield sizes.toSeq

  /** Add/remove/re-add: each batch toggles 1–3 distinct pairs of the
    * universe, plus one pair an earlier batch toggled — a present edge
    * is removed, an absent one (new, or removed earlier) is added — so
    * every pair carries at most one op per batch. */
  private def toggleBatches(
      universe: Seq[Pair], prior: Set[Pair],
      nBatches: Int): Gen[Seq[Seq[(Long, Long, String)]]] = {
    def go(state: Set[Pair], toggled: Seq[Pair],
        left: Int): Gen[List[Seq[(Long, Long, String)]]] =
      if (left == 0) Gen.const(Nil)
      else for {
        k <- Gen.choose(1, math.min(3, universe.size))
        fresh <- Gen.pick(k, universe)
        again <- if (toggled.isEmpty) Gen.const(Nil) else Gen.pick(1, toggled)
        pick = (fresh ++ again).distinct
        batch <- Gen.sequence[List[(Long, Long, String)], (Long, Long, String)](
          pick.map(p => oriented(p, if (state(p)) "remove" else "add")))
        rest <- go(pick.foldLeft(state)((s, p) =>
          if (s(p)) s - p else s + p), (toggled ++ pick).distinct, left - 1)
      } yield batch :: rest
    go(prior, Nil, nBatches)
  }

  /** The surviving edge set after `batches`: the last op per pair wins. */
  private def survivors(
      prior: Set[Pair], batches: Seq[Seq[(Long, Long, String)]]): Set[Pair] =
    batches.flatten.foldLeft(prior) { case (s, (x, y, op)) =>
      val p = (math.min(x, y), math.max(x, y))
      if (op == "add") s + p else s - p
    }

  private def edgeFrame(es: Set[Pair]): DataFrame =
    es.toSeq.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** Serve all three faces and compare each with its full rebuild. */
  private def assertServes(
      seedRoot: String, deltaP: String, live: Set[Pair], where: String): Unit = {
    val full = edgeFrame(live)
    assert(rows(SignedGraphStream.serveComponents(spark, seedRoot, deltaP))
      === rows(Graph.components(full)), s"components, $where")
    assert(rows(SignedGraphStream.serveCoreness(spark, seedRoot, deltaP))
      === rows(Graph.coreness(full)), s"coreness, $where")
    assert(rows(SignedGraphStream.serveTruss(spark, seedRoot, deltaP, 3))
      === rows(Graph.kTruss(full, 3)), s"truss, $where")
  }

  private def runCase(c: Case): Unit = {
    val root = tempRoot("graft_gsp_spec")
    try {
      val src = root.resolve("src").toString
      val seedRoot = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      SignedGraphStream.seed(edgeFrame(c.prior), seedRoot,
        Seq("coreness", "truss"))
      java.nio.file.Files.createDirectories(root.resolve("src"))
      val q = SignedGraphStream.signedMaintain(
        spark.readStream.schema(
            StructType.fromDDL("src BIGINT, dst BIGINT, op STRING"))
          .option("maxFilesPerTrigger", 1).parquet(src),
        seedRoot, deltaP, root.resolve("ckpt").toString)
      def land(b: Seq[(Long, Long, String)]): Unit = {
        b.toDF("src", "dst", "op").coalesce(1)
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      }
      try {
        c.batches.take(c.compactAfter).foreach(land)
        val mid = survivors(c.prior, c.batches.take(c.compactAfter))
        assertServes(seedRoot, deltaP, mid, "before compaction")
        SignedGraphStream.compact(spark, seedRoot, deltaP)
        assert(!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaP))
        assertServes(seedRoot, deltaP, mid, "after compaction")
        if (c.compactAfter < c.batches.size) {
          c.batches.drop(c.compactAfter).foreach(land)
          assertServes(seedRoot, deltaP, survivors(c.prior, c.batches),
            "batches landed on the compacted seed")
        }
      } finally q.stop()
    } finally DeltaLayout.rmTree(root)
  }

  private def check(name: String, signed: Boolean, seeds: Seq[Long]): Unit =
    test(name) {
      seeds.foreach { seed =>
        val c = caseGen(signed).pureApply(params, Seed(seed))
        val msg = s"[$name] seed=$seed prior=${c.prior.toSeq.sorted} " +
          s"batches=${c.batches} compactAfter=${c.compactAfter}"
        println(msg)
        info(msg)
        withClue(s"seed=$seed: ") { runCase(c) }
      }
    }

  check("generated add-only streams serve == full rebuild, " +
    "before and after compaction", signed = false, Seq(11L, 12L, 13L))

  check("generated add/remove/re-add streams serve == full rebuild, " +
    "before and after compaction", signed = true, Seq(21L, 22L, 23L))
}
