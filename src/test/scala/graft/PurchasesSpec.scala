package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Purchases

/** Purchase-log analytics specs on sf0.001. */
class PurchasesSpec extends AnyFunSuite with SparkSessionTestBase {

  test("revenueByNation joins six tables and ranks by revenue") {
    val df = Purchases.revenueByNation(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("topOpenOrders returns at most N, ordered by revenue") {
    val df = Purchases.topOpenOrders(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir), topN = 5)
    val rows = df.collect()
    assert(rows.length <= 5)
    assert(rows.nonEmpty)
  }

  test("segmentStats covers every customer segment, including orderless") {
    val df = Purchases.segmentStats(Tables.customer(spark, sfDir), Tables.orders(spark, sfDir))
    val rows = df.collect()
    assert(rows.length === 5)
    assert(rows.map(_.getAs[Long]("n_customers")).sum ===
      Tables.customer(spark, sfDir).count())
  }

  test("retentionCohorts: activity month never precedes cohort month") {
    val rows = Purchases.retentionCohorts(Tables.orders(spark, sfDir)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cohort = r.getAs[java.sql.Timestamp]("cohort_month")
      val activity = r.getAs[java.sql.Timestamp]("activity_month")
      assert(!activity.before(cohort))
    }
  }

  test("pricePercentiles: p50 <= p90 per category") {
    val rows = Purchases.pricePercentiles(Tables.part(spark, sfDir)).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getAs[Double]("p50_price") <= r.getAs[Double]("p90_price"))
    }
  }

  test("sessionWindows agrees with the window-function sessionize") {
    val events = Tables.events(spark, sfDir)
    val native = graft.operators.Etl.sessionWindows(events).collect()
    val manual = graft.operators.Etl.sessionize(events).collect()
    assert(native.length === manual.length)
    assert(native.map(_.getAs[Long]("n_events")).sum ===
      manual.map(_.getAs[Long]("n_events")).sum)
  }

  test("coPurchasePairs counts unordered pairs once per order") {
    import spark.implicits._
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L),
      (300L, 1L), (300L, 2L),
      (300L, 2L)) // duplicate line: same part twice in one order
      .toDF("l_orderkey", "l_partkey")
    val out = graft.operators.Purchases.coPurchasePairs(li, k = 10).collect()
    val asMap = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(asMap((1L, 2L)) === 3L) // co-occurs in all three orders
    assert(asMap((1L, 3L)) === 1L)
    assert(asMap((2L, 3L)) === 1L)
    assert(out.head.getLong(2) === 3L) // ranked by count desc
    // no (a, a) self pairs, no reversed duplicates
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("basketRules computes support/confidence/lift from exact counts") {
    import spark.implicits._
    // 4 orders: {1,2} x3 and {3} alone -> rule (1,2) has full confidence
    val li = Seq(
      (100L, 1L), (100L, 2L),
      (200L, 1L), (200L, 2L),
      (300L, 1L), (300L, 2L),
      (400L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val out = graft.operators.Purchases.basketRules(li, k = 5, minCount = 2L).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    assert(r.getAs[Long]("n_both") === 3L)
    assert(r.getAs[Double]("support") === 0.75)    // 3 of 4 orders
    assert(r.getAs[Double]("confidence") === 1.0)  // every order with 1 has 2
    assert(r.getAs[Double]("lift") === 1.333333) // round(4*3/(3*3), 6)
  }

  test("latePriorityCounts counts each late order once via semi join") {
    val orders = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val out = graft.operators.Purchases.latePriorityCounts(orders, li).collect()
    assert(out.nonEmpty)
    // semi join: per-priority counts can never exceed the order counts
    val totals = orders.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_late_orders") <= totals(r.getString(0)))
    }
    // plan: left-semi, no multiplicity-preserving join
    val plan = graft.operators.Purchases.latePriorityCounts(orders, li)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"))
  }

  test("gz-compressed XML store feed parses identically to plain") {
    val plainPath = graft.sources.RawIngest.StoresFullReference
    val gzPath = s"$plainPath.gz"
    // the real reference files, not generated stand-ins: canceled where
    // the reference checkout is absent, run wherever it is present
    Seq(plainPath, gzPath).foreach { p =>
      assume(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        s"StoresFull reference file absent: $p")
    }
    val plain = graft.sources.RawIngest.storesFromXml(spark, plainPath).collect()
    val gz = graft.sources.RawIngest.storesFromXml(spark, gzPath).collect()
    assert(gz.length === plain.length)
    assert(gz.map(_.getAs[Long]("store_id")).sorted.toSeq ===
      plain.map(_.getAs[Long]("store_id")).sorted.toSeq)
  }

  // ---- Graph.pageRank ----

  /** Independent local mirror of the operator's exact integer
    * arithmetic. */
  private def localPageRank(
      edges: Seq[(Long, Long, Long)], damping: Double, iters: Int,
      start: Map[Long, Long] = Map.empty): Map[Long, Long] = {
    val dPpm = math.round(damping * 1e6)
    val scale = 1000000000000L
    // transitions exclude self-loops; the node set keeps them, and
    // nodes left with NO outgoing transition (self-loop-only) are
    // dangling — their damped mass redistributes uniformly per round,
    // mirroring the operator's conserved-mass handling
    val clean = edges.filter(e => e._1 != e._2)
    val sym = (clean.map { case (a, b, w) => ((a, b), w) } ++
      clean.map { case (a, b, w) => ((b, a), w) })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val wout = sym.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    val pPpm = sym.map { case ((s, d), w) =>
      (s, d) -> (w * 2000000L + wout(s)) / (wout(s) * 2L) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val dangling = nodes.filterNot(wout.contains)
    val teleport = ((1000000L - dPpm) * (scale / n)) / 1000000L
    // warm start mirrors the operator: prior rank_micro × 1e6, uniform
    // for nodes the prior doesn't know, renormalized to total Scale
    var r = nodes.map(v =>
      v -> start.get(v).map(_ * 1000000L).getOrElse(scale / n)).toMap
    if (start.nonEmpty) {
      val tot = r.values.sum
      r = r.map { case (k, v) => k -> (BigInt(v) * scale / tot).toLong }
    }
    for (_ <- 1 to iters) {
      val inflow = pPpm.toSeq
        .map { case ((s, d), p) => d -> ((p * r(s) * 2L + 1000000L) / 2000000L) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      val share = if (dangling.isEmpty) 0L else {
        val dm = dangling.map(r).sum
        (dm * dPpm * 2L + 1000000L * n) / (2000000L * n)
      }
      r = nodes.map(v => v ->
        (teleport + share +
          (inflow.getOrElse(v, 0L) * dPpm * 2L + 1000000L) / 2000000L)).toMap
    }
    r.map { case (k, v) => k -> (v * 2L + 1000000L) / 2000000L }
  }

  test("pageRank matches the independent local integer implementation exactly") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (3L, 4L, 5L),
      (5L, 6L, 1L)) // two components, weighted
    val got = graft.operators.Graph.pageRank(edges.toDF("src", "dst", "w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === localPageRank(edges, 0.85, 10))
    // determinism across partitioning: a repartitioned edge frame
    // yields bit-identical ranks
    val got2 = graft.operators.Graph.pageRank(
      edges.toDF("src", "dst", "w").repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === got)
  }

  test("pageRank in-executor leaf is bit-identical to the distributed rounds") {
    import spark.implicits._
    // weighted, multi-component, with a parallel edge, a self-loop
    // (dangling node), and a hub — every arithmetic branch exercised
    val edges = Seq((1L, 2L, 3L), (2L, 1L, 2L), (2L, 3L, 1L), (1L, 3L, 2L),
      (3L, 4L, 5L), (5L, 6L, 1L), (7L, 7L, 4L)) ++
      (10L to 30L).map(i => (9L, i, 1L))
    val df = edges.toDF("src", "dst", "w")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // cold: leaf (default gate) vs forced-distributed (localMaxEdges=0)
    val leafCold = graft.operators.Graph.pageRank(df)
    val distCold = graft.operators.Graph.pageRank(df, localMaxEdges = 0L)
    assert(rows(leafCold) === rows(distCold))
    // warm: a prior that misses new nodes and carries a vanished one
    val prior = graft.operators.Graph.pageRank(
      edges.dropRight(5).toDF("src", "dst", "w"), localMaxEdges = 0L)
    val leafWarm = graft.operators.Graph.pageRank(
      df, startRanks = Some(prior))
    val distWarm = graft.operators.Graph.pageRank(
      df, startRanks = Some(prior), localMaxEdges = 0L)
    assert(rows(leafWarm) === rows(distWarm))
    // Some(empty prior) renormalizes a uniform frame — still identical
    val emptyPrior = prior.limit(0)
    assert(rows(graft.operators.Graph.pageRank(
        df, startRanks = Some(emptyPrior))) ===
      rows(graft.operators.Graph.pageRank(
        df, startRanks = Some(emptyPrior), localMaxEdges = 0L)))
  }

  test("pageRank warm start is pinned exactly and converges faster than cold") {
    import spark.implicits._
    // a hub graph — stationary ranks far from uniform, so a cold
    // uniform start is genuinely far and the warm-start claim is
    // non-trivial
    val g0 = (2L to 10L).map(i => (1L, i, 1L)) ++
      Seq((2L, 3L, 5L), (3L, 4L, 5L))
    // "yesterday": the graph without its last edge; "today" adds it
    // plus a brand-new leaf 11 (seeds at uniform mass). Yesterday's
    // artifact is a CONVERGED run — the production posture: each day
    // warm-starts from the last warm result, so the chain stays near
    // stationarity
    val gPrev = g0.dropRight(1)
    val g1 = g0 :+ (1L, 11L, 1L)
    val prevDf = graft.operators.Graph.pageRank(
      gPrev.toDF("src", "dst", "w"), iters = 60)
    val prev = prevDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact pin: the warm-started operator equals the warm-started
    // local mirror bit-for-bit (same integer map, same start)
    val warm = graft.operators.Graph.pageRank(
        g1.toDF("src", "dst", "w"), startRanks = Some(prevDf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm === localPageRank(g1, 0.85, 10, start = prev))
    // the incremental claim, in exact integers: with the same budget,
    // the warm run sits strictly closer to the long-run stationary
    // ranks than the cold run (damped contraction from a near point)
    val stationary = localPageRank(g1, 0.85, 300)
    def l1(a: Map[Long, Long]) =
      stationary.map { case (k, v) => math.abs(a.getOrElse(k, 0L) - v) }.sum
    val cold = graft.operators.Graph.pageRank(g1.toDF("src", "dst", "w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1(warm) < l1(cold),
      s"warm l1 ${l1(warm)} must beat cold l1 ${l1(cold)}")
    // the new node ranks alongside the prior ones
    assert(warm.keySet === (1L to 11L).toSet)
  }

  test("pageRank ranks a star center above its leaves; mass is conserved") {
    import spark.implicits._
    val star = (2L to 9L).map(i => (1L, i, 1L))
    val out = graft.operators.Graph.pageRank(star.toDF("src", "dst", "w")).collect()
    assert(out.head.getLong(0) === 1L, "hub must rank first")
    val total = out.map(_.getLong(1)).sum
    // integer truncation loses a little mass; ranking-level conservation
    assert(math.abs(total - 1000000L) < 100L)
    // identity snap: rank == rank_micro at its own scale
    out.foreach(r =>
      assert(math.abs(r.getDouble(2) - r.getLong(1).toDouble / 1e6) < 1e-9))
    // empty graph degrades to an empty frame
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(graft.operators.Graph.pageRank(empty).count() === 0)
    // self-loops carry no signal and are ignored
    val withLoop = Seq((1L, 1L, 9L), (1L, 2L, 1L)).toDF("src", "dst", "w")
    val noLoop = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    assert(graft.operators.Graph.pageRank(withLoop).collect().map(_.toString).toSeq
      === graft.operators.Graph.pageRank(noLoop).collect().map(_.toString).toSeq)
    // ...but a node whose ONLY edges are self-loops still ranks
    // (teleport + its uniform share of redistributed dangling mass)
    // instead of vanishing — and mass stays conserved: the dangling
    // node's damped mass redistributes uniformly (standard dangling
    // handling), matching the local mirror exactly
    val lonerSeq = Seq((1L, 2L, 1L), (7L, 7L, 5L))
    val loner = lonerSeq.toDF("src", "dst", "w")
    val ranks = graft.operators.Graph.pageRank(loner).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.keySet === Set(1L, 2L, 7L))
    assert(ranks(7L) > 0L && ranks(7L) < ranks(1L))
    assert(ranks === localPageRank(lonerSeq, 0.85, 10))
    assert(math.abs(ranks.values.sum - 1000000L) < 100L,
      s"dangling mass must be redistributed, got total ${ranks.values.sum}")
    // a non-positive weight is a caller bug and fails loudly
    val bad = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    val e = intercept[Exception] {
      graft.operators.Graph.pageRank(bad).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("must be positive")))
  }

  test("pageRank early stop: a converged run equals the exhaustive one exactly") {
    import spark.implicits._
    // a symmetric clique converges to uniform immediately — the
    // zero-delta stop must fire and reproduce the full-run integers
    val clique = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L))
    val full = graft.operators.Graph
      .pageRank(clique.toDF("src", "dst", "w"), iters = 50, tolMass = -1L)
      .collect().map(_.toString).toSeq // tolMass < 0: never stops early
    val early = graft.operators.Graph
      .pageRank(clique.toDF("src", "dst", "w"), iters = 50)
      .collect().map(_.toString).toSeq
    assert(early === full)
    // and an asymmetric graph stopped at the fixed point matches too
    val star = (2L to 6L).map(i => (1L, i, i)) // weighted star
    val f2 = graft.operators.Graph
      .pageRank(star.toDF("src", "dst", "w"), iters = 60, tolMass = -1L)
      .collect().map(_.toString).toSeq
    val e2 = graft.operators.Graph
      .pageRank(star.toDF("src", "dst", "w"), iters = 60)
      .collect().map(_.toString).toSeq
    assert(e2 === f2)
  }

  test("triangles counts K4 exactly, zeroes wedges, survives dirty edges") {
    import spark.implicits._
    // K4 on 1..4 (every node in 3 of its 4 triangles), a pendant 5 on
    // node 1, and an open path 6-7-8 (wedge at 7, no closure); plus a
    // reversed duplicate and a self-loop that normalization must drop
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b, 1L)
    val edges = (k4 ++ Seq((1L, 5L, 1L), (6L, 7L, 1L), (7L, 8L, 1L),
      (2L, 1L, 9L), (3L, 3L, 1L))).toDF("src", "dst", "w")
    val got = operators.Graph.triangles(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      (1L, 4L, 3L, 500000L),   // 2*3/(4*3) = 0.5
      (2L, 3L, 3L, 1000000L), (3L, 3L, 3L, 1000000L),
      (4L, 3L, 3L, 1000000L), // K4 members close every neighbor pair
      (5L, 1L, 0L, 0L),
      (6L, 1L, 0L, 0L), (7L, 2L, 0L, 0L), (8L, 1L, 0L, 0L)))
    // repartition-invariance (orientation is a global total order)
    val again = operators.Graph.triangles(edges.repartition(5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(again === got)
    // empty edges → empty output
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(operators.Graph.triangles(none).count() === 0)
  }

  // independent local k-core peel (the Batagelj-Zaversnik fixpoint by
  // brute iteration) for pinning the distributed version
  private def localCore(
      edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var adj = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(
        (math.min(e._1, e._2), math.max(e._1, e._2)))).distinct
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      val bad = adj.filter(_._2.size < k).keySet
      changed = bad.nonEmpty
      adj = (adj -- bad).map { case (n, ns) => n -> (ns -- bad) }
    }
    adj.map { case (n, ns) => n -> ns.size }
  }

  private def localCoreness(edges: Seq[(Long, Long)]): Map[Long, Int] = {
    val nodes = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1, e._2)).toSet
    nodes.map { n =>
      n -> Iterator.from(1).takeWhile(k => localCore(edges, k).contains(n)).length
    }.toMap
  }

  test("kCore peels to the exact fixpoint; coreness matches the local mirror") {
    import spark.implicits._
    // chain 1-2-3-4 (coreness 1), triangle 5-6-7 with pendant 8
    // (triangle coreness 2), K4 on 10..13 (coreness 3); dirty input:
    // a reversed duplicate and a self-loop
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L), (2L, 1L), (6L, 6L))
    val edges = raw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    def coreSet(k: Int) = operators.Graph.kCore(edges, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(coreSet(2) === Map(5L -> 2L, 6L -> 2L, 7L -> 2L,
      10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
    assert(coreSet(3) === Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
    assert(coreSet(4) === Map.empty) // K4 is not a 4-core
    val cn = operators.Graph.coreness(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cn === localCoreness(raw).map { case (n, c) => n -> c.toLong })
    // repartition invariance (the k-core is unique)
    assert(operators.Graph.coreness(edges.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap === cn)
  }

  test("corenessSharded equals the unsharded ladder and the local mirror") {
    import spark.implicits._
    // the kCore fixture: three components of coreness 1, 2, 3
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L), (2L, 1L), (6L, 6L))
    val edges = raw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val unsharded = operators.Graph.coreness(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sharded = operators.Graph.corenessSharded(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sharded === unsharded)
    // force the OVERSIZED-component fallback (K4 has 6 edges > 4):
    // the distributed peel handles it, the other components stay
    // local, and the union still equals the unsharded result
    val mixed = operators.Graph.corenessSharded(edges, localMaxEdges = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(mixed === unsharded)
    // too many oversized components raises loudly instead of stalling
    intercept[IllegalArgumentException] {
      operators.Graph.corenessSharded(edges,
        localMaxEdges = 1L, maxBigComponents = 1)
    }
    // a DEEP dense core (K12: coreness 11, past the unsharded entry's
    // historical cap comfort zone) decomposes locally with no k cap
    val k12 = for { a <- 1L to 12L; b <- (a + 1) to 12L } yield (a, b, 1L)
    val deep = operators.Graph.corenessSharded(k12.toDF("src", "dst", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(deep === (1L to 12L).map(_ -> 11L).toMap)
    // empty input degrades like the unsharded form
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(operators.Graph.corenessSharded(none).count() === 0)
  }

  test("corenessIncremental folds a delta exactly; untouched rows pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    // prior: chain 1-2-3-4 | triangle 5-6-7 + pendant 8 | K4 10..13
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L))
    val priorDf = prior.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val priorE = operators.Graph.canonicalEdges(priorDf)
    val priorL = operators.Graph.componentLabels(priorDf)
    val priorC = operators.Graph.coreness(
      priorE.select(col("a").as("src"), col("b").as("dst")))
    // delta: close the chain into a cycle (coreness 1 → 2 for 1..4)
    // and hang a NEW node 9 off the triangle's pendant; K4 untouched
    val delta = Seq((1L, 4L, 1L), (8L, 9L, 1L)).toDF("src", "dst", "w")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val inc = m(operators.Graph.corenessIncremental(priorE, priorL, priorC, delta))
    val full = m(operators.Graph.coreness(
      (prior ++ Seq((1L, 4L), (8L, 9L))).map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "w")))
    assert(inc === full)
    assert(inc(1L) === 2L && inc(9L) === 1L && inc(10L) === 3L)
    // PASS-THROUGH proof: poison the untouched component's prior rows —
    // the incremental path must carry them VERBATIM (it never re-peels
    // an untouched component), while touched components recompute
    val poisoned = priorC.withColumn("coreness",
      when(col("node") >= 10L, lit(99L)).otherwise(col("coreness")))
    val incP = m(operators.Graph.corenessIncremental(priorE, priorL, poisoned, delta))
    assert(Seq(10L, 11L, 12L, 13L).forall(incP(_) === 99L))
    assert(incP.filterNot(kv => kv._1 >= 10L) === full.filterNot(kv => kv._1 >= 10L))
    // an empty delta returns the prior decomposition unchanged
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(m(operators.Graph.corenessIncremental(priorE, priorL, priorC, none))
      === m(priorC))
  }

  test("trianglesIncremental folds a delta additively, never recomputing prior rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    // prior: chain 1-2-3 | triangle 5-6-7 with pendant 8 | K4 10..13
    val prior = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (5L, 7L),
      (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L),
      (12L, 13L))
    val priorDf = prior.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val priorE = operators.Graph.canonicalEdges(priorDf)
    val priorT = operators.Graph.triangles(priorDf)
    // delta: close the chain (new triangle 1-2-3), edge 6-8 (new
    // triangle 5-6-8 with TWO prior edges), brand-new node 14, and a
    // RESENT existing edge (10,11) that must be a no-op
    val deltaRaw = Seq((1L, 3L), (6L, 8L), (3L, 14L), (10L, 11L))
    val delta = deltaRaw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val fullDf = (prior ++ deltaRaw).map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "w")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val inc = rows(operators.Graph.trianglesIncremental(priorE, priorT, delta))
    val full = rows(operators.Graph.triangles(fullDf))
    assert(inc === full)
    // FOLD-not-recompute proof: poison node 11's prior count (its K4
    // component is untouched by the delta) — the fold must carry the
    // poison through arithmetically, cc recomputed from it
    val poisoned = priorT.withColumn("n_triangles",
      when(col("node") === 11L, col("n_triangles") + lit(7L))
        .otherwise(col("n_triangles")))
    val incP = rows(operators.Graph.trianglesIncremental(priorE, poisoned, delta))
      .map(t => t._1 -> t).toMap
    val fullM = full.map(t => t._1 -> t).toMap
    assert(incP(11L)._3 === fullM(11L)._3 + 7L)
    assert(incP.filterNot(_._1 == 11L).view.mapValues(_._3).toMap
      === fullM.filterNot(_._1 == 11L).view.mapValues(_._3).toMap)
    // empty delta: identity with the prior output
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(rows(operators.Graph.trianglesIncremental(priorE, priorT, none))
      === rows(priorT))
  }

  test("kTrussIncremental folds a delta exactly; untouched truss edges pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    // prior: chain 1-2-3-4 (empty 3-truss) | triangle 5-6-7 with
    // pendant 8 | K4 10..13 (every edge support 2)
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L))
    val priorDf = prior.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val priorE = operators.Graph.canonicalEdges(priorDf)
    val priorL = operators.Graph.componentLabels(priorDf)
    val priorT = operators.Graph.kTruss(
      priorE.select(col("a").as("src"), col("b").as("dst")), 3)
    // delta: close the chain's triangle 1-2-3 (its component's truss
    // goes empty → one triangle) and hang NEW node 9 off the pendant
    // (touches 5..8's component, truss unchanged); K4 untouched
    val delta = Seq((1L, 3L, 1L), (8L, 9L, 1L)).toDF("src", "dst", "w")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val inc = m(operators.Graph.kTrussIncremental(
      priorE, priorL, priorT, delta, 3))
    val full = m(operators.Graph.kTruss(
      (prior ++ Seq((1L, 3L), (8L, 9L))).map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "w"), 3))
    assert(inc === full)
    assert(inc((1L, 2L)) === 1L && inc((10L, 11L)) === 2L)
    assert(!inc.contains((8L, 9L)))
    // PASS-THROUGH proof: poison the untouched K4's prior support —
    // the incremental path must carry it VERBATIM (it never re-peels
    // an untouched component), while touched components recompute
    val poisoned = priorT.withColumn("support",
      when(col("a") >= 10L, col("support") + lit(7L))
        .otherwise(col("support")))
    val incP = m(operators.Graph.kTrussIncremental(
      priorE, priorL, poisoned, delta, 3))
    assert(incP.filter(_._1._1 >= 10L)
      === full.filter(_._1._1 >= 10L).view.mapValues(_ + 7L).toMap)
    assert(incP.filterNot(_._1._1 >= 10L) === full.filterNot(_._1._1 >= 10L))
    // an empty delta returns the prior truss unchanged
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(m(operators.Graph.kTrussIncremental(priorE, priorL, priorT, none, 3))
      === m(priorT))
  }

  test("kTrussSharded equals the global truss peel") {
    import spark.implicits._
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L), (2L, 1L), (6L, 6L))
    val edges = raw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val global3 = canon(operators.Graph.kTruss(edges, 3))
    assert(canon(operators.Graph.kTrussSharded(edges, 3)) === global3)
    assert(canon(operators.Graph.kTrussSharded(edges, 4))
      === canon(operators.Graph.kTruss(edges, 4)))
    // force the OVERSIZED-component fallback (K4 has 6 edges > 4):
    // the distributed peel covers it, the rest stays in-executor
    assert(canon(operators.Graph.kTrussSharded(edges, 3, localMaxEdges = 4L))
      === global3)
    // too many oversized components raises loudly
    intercept[IllegalArgumentException] {
      operators.Graph.kTrussSharded(edges, 3,
        localMaxEdges = 1L, maxBigComponents = 1)
    }
    // random graph (one big tangled component — the local peel's
    // queue-driven decrements against the global round peel)
    val rnd = (0 until 260).map { i =>
      val a = (i * i * 7 + 3) % 40; val b = (i * 13 + i * i * 5) % 40
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    val rndDf = rnd.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    assert(canon(operators.Graph.kTrussSharded(rndDf, 4))
      === canon(operators.Graph.kTruss(rndDf, 4)))
    assert(canon(operators.Graph.kTrussSharded(rndDf.repartition(7), 4))
      === canon(operators.Graph.kTruss(rndDf, 4)))
    // empty input
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(operators.Graph.kTrussSharded(none, 3).count() === 0)
    // HUB stress: a wheel (hub adjacent to every rim node + rim cycle)
    // is the shape whose old sorted-intersection peel paid deg(hub)
    // per rim edge — the local peel must stay correct (and fast: the
    // min-degree walk pays O(1) per rim edge) at hub degree 2000.
    // 3-truss = the whole wheel (every edge closes a hub triangle);
    // 4-truss = empty (rim edges have support 1, spokes then collapse)
    val nRim = 2000L
    val wheel = ((1L to nRim).map(i => (0L, i)) ++
      (1L until nRim).map(i => (i, i + 1)) :+ (nRim, 1L))
      .map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val w3 = canon(operators.Graph.kTrussSharded(wheel, 3))
    assert(w3.size === 2L * nRim)
    assert(w3((0L, 1L)) === 2L && w3((1L, 2L)) === 1L)
    assert(operators.Graph.kTrussSharded(wheel, 4).count() === 0)
  }

  test("components labels each piece once with exact node/edge counts") {
    import spark.implicits._
    // chain (4 nodes, 3 edges), triangle+pendant (4 nodes, 4 edges),
    // K4 (4 nodes, 6 edges); dirty input: reversed dup + self-loop
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L), (2L, 1L), (6L, 6L))
    val edges = raw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val got = operators.Graph.components(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got === List((1L, 4L, 3L), (5L, 4L, 4L), (10L, 4L, 6L)))
    // partitioning-invariant (labels are component minima, unique)
    assert(operators.Graph.components(edges.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toList === got)
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(operators.Graph.components(none).count() === 0)
  }

  test("componentsIncremental folds a delta without touching other components") {
    import spark.implicits._
    // prior: chain {1-2-3}, pair {10-11}, triangle {20,21,22}
    val priorRaw = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
    val prior = operators.Graph.canonicalEdges(
      priorRaw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"))
    val priorLabels = operators.Graph.componentLabels(
      priorRaw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"))
    // delta: BRIDGES {1..3} and {10,11}, plus a brand-new pair {30,31}
    val delta = Seq((3L, 10L, 1L), (30L, 31L, 1L)).toDF("src", "dst", "w")
    val got = operators.Graph
      .componentsIncremental(prior, priorLabels, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // == the full recompute over the union graph
    val full = operators.Graph.components(
      (priorRaw.map { case (a, b) => (a, b, 1L) } ++
        Seq((3L, 10L, 1L), (30L, 31L, 1L))).toDF("src", "dst", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got === full)
    // the merge really happened, the new component exists, and the
    // UNTOUCHED triangle's row is verbatim
    assert(got.contains((1L, 5L, 4L)))   // 1,2,3,10,11 bridged
    assert(got.contains((30L, 2L, 1L)))  // the new pair
    assert(got.contains((20L, 3L, 3L)))  // untouched triangle
    // a delta that re-sends an existing edge is idempotent
    val again = operators.Graph.componentsIncremental(
        prior, priorLabels, Seq((1L, 2L, 1L)).toDF("src", "dst", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(again === operators.Graph.components(
      priorRaw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList)
  }

  test("kCore and coreness agree with the local mirror on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph: quadratic-residue style pairs
    val raw = (0 until 260).map { i =>
      val a = (i * i * 7 + 3) % 40; val b = (i * 13 + i * i * 5) % 40
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    val edges = raw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val mirror = localCoreness(raw).map { case (n, c) => n -> c.toLong }
    val got = operators.Graph.coreness(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === mirror)
    // the component-sharded form (one dense component here — the
    // in-executor BZ peel carries it) agrees with both
    assert(operators.Graph.corenessSharded(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap === mirror)
    // membership consistency: kCore(k) node set == {coreness >= k},
    // and each reported core degree matches the local peel's
    for (k <- 2 to got.values.max.toInt) {
      val dist = operators.Graph.kCore(edges, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(dist.keySet === mirror.filter(_._2 >= k).keySet)
      assert(dist === localCore(raw, k).map { case (n, d) => n -> d.toLong })
    }
    // the incremental nest equals independent peels, level by level
    val nest = operators.Graph.kCoreNest(edges, Seq(2, 3, 4))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val indep = Seq(2, 3, 4).flatMap(k =>
      operators.Graph.kCore(edges, k).collect()
        .map(r => (k, r.getLong(0), r.getLong(1)))).toSet
    assert(nest === indep)
    // empty input → empty frames
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(operators.Graph.kCore(none, 2).count() === 0)
    assert(operators.Graph.coreness(none).count() === 0)
    assert(operators.Graph.kCoreNest(none, Seq(2, 3)).count() === 0)
  }

  // independent local k-truss peel for pinning the distributed one
  private def localTruss(
      edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Int] = {
    var es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    def support(s: Set[(Long, Long)]): Map[(Long, Long), Int] = {
      val adj = s.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      s.map { case (a, b) =>
        (a, b) -> (adj(a) intersect adj(b)).size
      }.toMap
    }
    var changed = true
    while (changed) {
      val sup = support(es)
      val bad = es.filter(e => sup(e) < k - 2)
      changed = bad.nonEmpty
      es = es -- bad
    }
    support(es)
  }

  test("kTruss peels edges below the triangle-support threshold exactly") {
    import spark.implicits._
    // K4 on 10..13 (every edge in 2 triangles), a triangle 5-6-7 with
    // a pendant, a chain, dirty edges — the coreness fixture
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (5L, 8L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L), (2L, 1L), (6L, 6L))
    val edges = raw.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    def truss(k: Int) = operators.Graph.kTruss(edges, k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // k=3: every edge in >= 1 triangle — the triangle and K4 survive
    assert(truss(3) === localTruss(raw, 3).map { case (e, s) => e -> s.toLong })
    assert(truss(3).keySet === Set((5L, 6L), (5L, 7L), (6L, 7L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L)))
    // k=4: only K4 (each edge in 2 triangles within K4)
    assert(truss(4).keySet ===
      Set((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L)))
    assert(truss(4).values.toSet === Set(2L))
    // k=5 demands support 3 — nothing survives
    assert(truss(5) === Map.empty)
    // random graph vs the local mirror, and repartition invariance
    val rnd = (0 until 260).map { i =>
      val a = (i * i * 7 + 3) % 40; val b = (i * 13 + i * i * 5) % 40
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    val rndDf = rnd.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val mirror = localTruss(rnd, 4).map { case (e, s) => e -> s.toLong }
    val got = operators.Graph.kTruss(rndDf, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === mirror)
    assert(operators.Graph.kTruss(rndDf.repartition(7), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      === got)
    // the k-truss sits inside the (k-1)-core (Cohen's containment)
    val coreNodes = operators.Graph.kCore(rndDf, 3)
      .collect().map(_.getLong(0)).toSet
    assert(got.keySet.flatMap(e => Set(e._1, e._2)).subsetOf(coreNodes))
    // empty input
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(operators.Graph.kTruss(none, 3).count() === 0)
  }
}
