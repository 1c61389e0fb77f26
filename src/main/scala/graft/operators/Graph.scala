package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph ranking over relation-shaped graphs — the ranking
  * complement of the star-contraction connected components in
  * [[Dedup.duplicateLabelsStar]]: centrality for product graphs
  * (co-purchase), domain graphs (duplication provenance), or any
  * bounded entity graph a pipeline derives from its facts.
  *
  * PageRank (Brin & Page 1998) in EXACT INTEGER arithmetic: edge
  * transition probabilities snap to parts-per-million longs and ranks
  * live in integer micro-mass units, so every per-node inflow is an
  * exact integer sum — the result is bit-identical across partition
  * counts, aggregation orders, and engines (the dsirWeights
  * discipline applied to an iterative algorithm; a float formulation
  * drifts in the last ulp per iteration with Spark's unfixed partition
  * order). Rounding truncates ≤0.5e-6 of mass per node-step —
  * irrelevant for ranking, and the spec pins the exact integers
  * against an independent local implementation.
  *
  * Spark shape at 100 TB: the FACTS are touched once (by whatever
  * builds the edge frame — e.g. [[Purchases.coPurchaseGraph]]'s one
  * basket pass); every iteration joins the bounded edge frame against
  * the node-rank frame and partial-combined-sums the inflow — no
  * corpus rescans, no windows, lineage truncated per iteration via
  * localCheckpoint. */
object Graph {

  private val Scale = 1000000000000L // total mass in micro-micro units

  /** Weighted PageRank over an undirected edge list (src, dst, w).
    * Returns (node, rank_micro, rank) ordered by (rank_micro DESC,
    * node) — rank is the integer's own-scale identity snap.
    *
    * Stops early once an iteration moves no node by more than
    * `tolMass` micro-mass units (integer comparison — deterministic,
    * and exact equality with the never-stopping run is guaranteed
    * once a fixed point is reached, since the integer update map is
    * deterministic: a zero-delta iteration implies every later
    * iteration is identical). The check is one tiny aggregate on the
    * bounded rank frame per round — the IRLS early-stop pattern.
    *
    * `startRanks` WARM-STARTS the iteration from a prior run's output
    * (node, rank_micro) — the incremental-graph move: when today's
    * edge delta is small, yesterday's ranks are already near today's
    * stationary point, and the damped update is an affine contraction
    * (residual shrinks ~`damping`× per round FROM ANY START — a stale
    * or partial prior is always safe, never wrong), so the same
    * iteration budget lands much closer to stationarity than a
    * uniform cold start. Nodes absent from the prior seed at uniform
    * mass; prior rows for vanished nodes drop via the node-set join.
    * The warm run is exactly as deterministic as the cold one (spec
    * pins it against the independent local mirror and asserts the
    * closer-to-stationary claim in exact integers). */
  def pageRank(
      edges: DataFrame, damping: Double = 0.85, iters: Int = 10,
      tolMass: Long = 0L, startRanks: Option[DataFrame] = None,
      localMaxEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val dPpm = math.round(damping * 1e6)
    // symmetrize, then per-source transition probabilities in ppm.
    // Self-loops drop from the TRANSITION structure (a doc
    // co-occurring with itself carries no ranking signal and would
    // double under symmetrization) but NOT from the node set — see
    // below; non-positive weights fail loudly — a count-derived edge
    // frame can never produce them, so one appearing means a caller
    // bug.
    val validated = edges
      .select(col("src"), col("dst"),
        when(col("w").cast("long") > 0, col("w").cast("long"))
          .otherwise(raise_error(lit(
            "pageRank: edge weights must be positive"))).as("w"))
      // TWO consumers branch from here (the transition chain and the
      // node set) — checkpointing materializes the edge frame once
      // instead of re-deriving it from its source (for the co-purchase
      // graph that source is a lineitem self-join; re-running it for
      // the node scan measurably showed in the bench)
      .localCheckpoint()
    // IN-EXECUTOR LEAF (the [[corenessSharded]]/[[localCoreness]]
    // discipline applied to the ranking sweep): a bounded edge frame
    // at or under `localMaxEdges` computes its ranks in ONE executor
    // task via [[localPageRankExact]] — the same exact integer update
    // map, bit-identical output (spec-pinned against the distributed
    // form and the independent test mirror) — instead of paying
    // ~3 shuffles × iters distributed rounds whose per-round cost is
    // scheduling, not compute, on a graph this size. Scale-adaptive,
    // not a core-count tune: over the cap (50 MB-ish of packed edges;
    // the exact cap corenessSharded's local peel already uses) the
    // distributed rounds below run unchanged. Long ids only — any
    // other id type takes the distributed path (schemas never change).
    val longIds = validated.schema.fields.take(2).forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val priorOk = startRanks.forall { p =>
      val f = p.schema.fields
      f.exists(x => x.name == "node" &&
        x.dataType == org.apache.spark.sql.types.LongType) &&
        f.exists(_.name == "rank_micro")
    }
    val mEdges =
      if (longIds && priorOk && localMaxEdges > 0L) validated.count() else -1L
    if (mEdges > 0L && mEdges <= localMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      // edges tag 0, prior-rank rows tag 1 (tag 2 marks "a prior frame
      // exists" even when it is empty — Some(empty) renormalizes where
      // None does not); ONE constant-keyed group ships both bounded
      // frames to a single task
      val eTag = validated.select(lit(0).as("t"),
        col("src").as("x"), col("dst").as("y"), col("w").as("z"))
      val tagged = startRanks match {
        case Some(prior) => eTag
          .unionByName(prior.select(lit(1).as("t"), col("node").as("x"),
            col("node").as("y"), col("rank_micro").cast("long").as("z")))
          .unionByName(spark.range(1).select(lit(2).as("t"),
            lit(0L).as("x"), lit(0L).as("y"), lit(0L).as("z")))
        case None => eTag
      }
      val ranked = tagged.as[(Int, Long, Long, Long)]
        .groupByKey(_ => true)
        .flatMapGroups { (_, it) =>
          val es = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          val pr = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var hasPrior = false
          it.foreach {
            case (0, s, d, w) => es += ((s, d, w))
            case (1, nd, _, rm) => pr += ((nd, rm)); hasPrior = true
            case (2, _, _, _) => hasPrior = true
            case other => throw new IllegalStateException(
              s"pageRank local leaf: unexpected tag ${other._1}")
          }
          localPageRankExact(es.toArray, pr.toArray, hasPrior,
            dPpm, iters, tolMass)
        }
        .toDF("node", "rank_micro")
      return ranked
        .withColumn("rank",
          round(col("rank_micro").cast("double") / 1e6, 6))
        .orderBy(col("rank_micro").desc, col("node"))
    }
    val clean = validated.filter(col("src") =!= col("dst"))
    val sym = clean
      .unionByName(clean.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w")) // collapse parallel edges
    val out = sym.groupBy("src").agg(sum("w").as("wout"))
    val norm = sym.join(out, Seq("src"))
      .select(col("src"), col("dst"),
        // half-up ppm of w/wout: exact integer arithmetic
        expr("(w * 2000000 + wout) div (wout * 2)").as("p_ppm"))
      .localCheckpoint()
    // node set from the RAW edge list, BEFORE the self-loop filter: a
    // node whose only edges are self-loops still ranks (it holds its
    // teleport share and receives no inflow) instead of silently
    // disappearing from the output.
    val nodes = validated.select(col("src").as("node"))
      .unionByName(validated.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    if (n == 0) {
      return nodes.select(col("node"), lit(0L).as("rank_micro"),
        lit(0.0).as("rank"))
    }
    // DANGLING nodes (in the symmetrized graph: only possible when
    // every incident edge is a self-loop) have no outgoing
    // transitions; standard PageRank redistributes their damped mass
    // uniformly each round, which keeps total mass conserved
    // (Σ rank_micro ≈ 1e6 up to half-up quantization) — without it the
    // dangling share leaks and downstream consumers that renormalize
    // (warm-start) would misread the deficit as quantization loss.
    // The set is computed ONCE on the bounded node frame; graphs with
    // no dangling nodes (the common case — any real co-occurrence
    // graph) skip the per-round term entirely, leaving the plan
    // untouched.
    val dangling = nodes.join(
      norm.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
      .localCheckpoint()
    val hasDangling = dangling.limit(1).count() > 0
    val teleport = ((1000000L - dPpm) * (Scale / n)) / 1000000L
    // iteration jobs dominate wall time on bounded graphs (each
    // materialization is a Spark job), so lineage truncation and the
    // convergence check run every `block` rounds, not every round —
    // a 3-round lineage of bounded-frame joins is cheap to carry
    val block = 3
    def step(r: DataFrame): DataFrame = {
      val inflow = norm
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        // exact integer contribution: half-up of p·r
        .select(col("dst").as("node"),
          expr("(p_ppm * r * 2 + 1000000) div 2000000").as("c"))
        .groupBy("node").agg(sum("c").as("inflow"))
      val damped =
        expr(s"(coalesce(inflow, 0L) * $dPpm * 2 + 1000000) div 2000000")
      val base = nodes.join(inflow, Seq("node"), "left")
      if (!hasDangling)
        base.select(col("node"), (lit(teleport) + damped).as("r"))
      else {
        // each node's uniform share of the damped dangling mass:
        // half-up of dm·dPpm / (1e6·n). dm ≤ Scale = 1e12 and
        // dPpm < 1e6, so 2·dm·dPpm < 2e18 stays in Long; the 1-row
        // mass frame broadcasts — no shuffle, the plan stays lazy.
        val dmass = r.join(dangling, Seq("node"))
          .agg(coalesce(sum("r"), lit(0L)).as("dm"))
        base.crossJoin(broadcast(dmass))
          .select(col("node"), (lit(teleport) + damped +
            expr(s"(dm * $dPpm * 2 + ${1000000L * n}) div ${2000000L * n}"))
            .as("r"))
      }
    }
    var rank = startRanks match {
      case Some(prior) =>
        // rank_micro is the output scale (1e6); internal mass is 1e12
        // micro-micro. The raw warm frame then RENORMALIZES to the
        // invariant total Scale: a changed node set (or quantization)
        // leaves the prior's total off-mass, and an excess decays only
        // damping× per round — un-normalized it would cost exactly the
        // rounds the warm start is meant to save. DECIMAL keeps the
        // rescale exact past long range; the start is still just a
        // guess — the contraction owns convergence from any of them.
        val raw = nodes.join(
            prior.select(col("node"), (col("rank_micro") * 1000000L).as("r0")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("r0"), lit(Scale / n)).as("raw"))
          .localCheckpoint()
        val total = raw.agg(sum("raw")).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
        if (total <= 0) nodes.select(col("node"), lit(Scale / n).as("r"))
        else raw.select(col("node"),
          expr(s"CAST((CAST(raw AS DECIMAL(38,0)) * $Scale) div $total AS BIGINT)")
            .as("r"))
      case None => nodes.select(col("node"), lit(Scale / n).as("r"))
    }
    var converged = false
    var it = 0
    while (it < iters && !converged) {
      val end = math.min(it + block, iters)
      while (it < end) { rank = step(rank); it += 1 }
      rank = rank.localCheckpoint()
      if (it < iters) {
        // ONE-STEP invariance is the only safe stop: a block-level
        // return-delta could in principle match a rounding cycle, not
        // a fixed point. step() is deterministic, so step(r) == r
        // makes every further iteration identical — stopping cannot
        // change the result (spec asserts equality with the
        // exhaustive run). The probe step is NOT thrown away: when the
        // run continues, it IS the next block's first iteration (same
        // deterministic function of the same frame — guide §1.2, don't
        // compute things twice; previously every check recomputed it).
        val next = step(rank).localCheckpoint()
        val maxDelta = next
          .join(rank.withColumnRenamed("r", "r0"), Seq("node"))
          .agg(max(abs(col("r") - col("r0")))).head() match {
            case row if row.isNullAt(0) => 0L
            case row => row.getLong(0)
          }
        converged = maxDelta <= tolMass
        if (!converged) { rank = next; it += 1 }
      }
    }
    rank.select(col("node"),
        // half-up micro, then the identity snap — one rounding rule
        expr("(r * 2 + 1000000) div 2000000").as("rank_micro"))
      .withColumn("rank",
        round(col("rank_micro").cast("double") / 1e6, 6))
      .orderBy(col("rank_micro").desc, col("node"))
  }

  /** SIGNED warm-started PageRank — the DELETION face of the ranking
    * family, completing the 5-face lifecycle matrix (the reference's
    * own data model deletes rows: rabbitmq-to-postgres/app.py:98
    * declares ON DELETE CASCADE, and a delisted product shrinks the
    * weighted co-purchase graph). The delta here is a signed per-pair
    * WEIGHT delta — the [[Etl.snapshotDiff]] posture on a weighted
    * graph: a vanished pair arrives as dw = −w_prior, a new pair as
    * its full weight, a support shift as the difference. The fold is
    * ONE full-outer join on the bounded edge frame; folded weight < 0
    * means the delta disagrees with the prior artifact and raises
    * LOUDLY, == 0 means the pair delisted and drops. [[pageRank]]
    * then runs over the folded graph WARM-STARTED from `priorRanks`:
    * the damped update is an affine contraction from ANY start, so
    * the shrunk graph's warm run is exactly as deterministic and safe
    * as the grow-only incremental one — vanished nodes drop via the
    * node-set join, brand-new nodes seed at uniform mass, and the
    * warm frame renormalizes to the invariant total. Signed ==
    * direct-warm-over-today's-graph is bit-exact (same folded frame,
    * same start) and spec-pinned.
    *
    * `priorWeighted` is the canonical (a, b, w) prior graph,
    * `priorRanks` its (node, rank_micro) output, `weightDeltas` the
    * signed (a, b, dw) frame with dw != 0. */
  def pageRankSigned(
      priorWeighted: DataFrame, priorRanks: DataFrame,
      weightDeltas: DataFrame, damping: Double = 0.85, iters: Int = 10,
      tolMass: Long = 0L): DataFrame = {
    val folded = priorWeighted
      .select(col("a"), col("b"), col("w").cast("long").as("w0"))
      .join(weightDeltas
          .select(col("a"), col("b"), col("dw").cast("long").as("dw")),
        Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        (coalesce(col("w0"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("w"))
      .select(col("a"), col("b"),
        when(col("w") < 0, raise_error(concat(
            lit("pageRankSigned: folded weight < 0 for pair ("),
            col("a").cast("string"), lit(","), col("b").cast("string"),
            lit(") — delta disagrees with the prior artifact"))))
          .otherwise(col("w")).as("w"))
      .filter(col("w") > 0)
    pageRank(folded.select(col("a").as("src"), col("b").as("dst"), col("w")),
      damping, iters, tolMass, Some(priorRanks))
  }

  /** The k-core of an undirected edge list (src, dst): the maximal
    * subgraph in which every node has degree >= k (Seidman 1983) —
    * the density complement to [[triangles]]' cohesion: a spam/SEO
    * site cluster or a boilerplate-heavy co-purchase clique survives
    * deep cores long after organic neighborhoods peel away, so core
    * membership is a standard graph-side curation feature.
    *
    * Computed by the peeling fixpoint: repeatedly delete every node
    * of degree < k until none remains. Each round is one degree
    * aggregation plus two anti-joins on the bounded edge frame (the
    * facts are touched only by whatever derived the edges — e.g.
    * [[Purchases.coPurchaseGraph]]'s one basket pass), with lineage
    * truncated per round; the per-round driver scalar is the bad-node
    * count (the [[pageRank]] convergence-check posture). Rounds are
    * data-bounded (each deletes >= 1 node), capped loudly at
    * `maxRounds` — a silent cap would return a non-core.
    *
    * Output: (node, core_degree) for the k-core's nodes with their
    * WITHIN-CORE degree, ordered by node; empty when the core is
    * empty. The peel is order-independent (the k-core is unique), so
    * the result is deterministic across partitionings. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 200): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val core = peelToCore(canonicalUndirected(edges), k, maxRounds)
    core.select(col("a").as("node"))
      .unionAll(core.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
      .orderBy("node")
  }

  /** Stacked k-core memberships for an ASCENDING ladder of k values,
    * peeling INCREMENTALLY: the (k+1)-core is a subgraph of the
    * k-core, so each level peels the previous level's already-shrunk
    * edge frame — the canonical undirected frame (and whatever join
    * derived the raw edges) is built ONCE, where independent
    * [[kCore]] calls would rebuild it per level (measured 7.9 → 4 s
    * on the co-purchase entry). Result is identical to independent
    * peels (the k-core is unique). Output: (k, node, core_degree)
    * ordered by (k, node). */
  def kCoreNest(edges: DataFrame, ks: Seq[Int], maxRounds: Int = 200): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.head >= 1,
      s"kCoreNest: ks must be a non-empty ascending ladder of ints >= 1, got $ks")
    var cur = canonicalUndirected(edges)
    val levels = ks.map { k =>
      cur = peelToCore(cur, k, maxRounds)
      cur.select(col("a").as("node"))
        .unionAll(cur.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_degree"))
        .withColumn("k", lit(k))
    }
    levels.reduce(_ unionByName _)
      .select("k", "node", "core_degree")
      .orderBy("k", "node")
  }

  /** Full coreness decomposition: coreness(v) = the largest k such
    * that v sits in the k-core (Batagelj & Zaversnik 2003 computes it
    * sequentially by bucket queues; the distributed posture is
    * SUCCESSIVE PEELS — the (k+1)-core is a subgraph of the k-core,
    * so each phase peels the PREVIOUS core's already-shrunk edge
    * frame, never the full graph). Nodes dropped while peeling to the
    * k-core were in the (k-1)-core but not the k-core: coreness k-1.
    * Every node of the edge set has coreness >= 1 by construction.
    *
    * Phases stop when the surviving edge frame empties; `maxK` is a
    * LOUD cap (an unexpectedly deep core raises instead of silently
    * truncating the decomposition — the raise_error posture).
    *
    * Output: (node, coreness) over all nodes of the deduplicated
    * self-loop-free edge set, ordered by node. */
  def coreness(edges: DataFrame, maxK: Int = 64, maxRounds: Int = 200): DataFrame = {
    require(maxK >= 2, s"coreness: maxK must be >= 2, got $maxK")
    var cur = canonicalUndirected(edges)
    val nodesOf = (e: DataFrame) =>
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node"))).distinct()
    val dropped = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 2
    var curNodes = nodesOf(cur).localCheckpoint()
    var empty = cur.isEmpty
    while (!empty && k <= maxK) {
      val next = peelToCore(cur, k, maxRounds)
      val nextNodes = nodesOf(next).localCheckpoint()
      dropped += curNodes.join(nextNodes, Seq("node"), "left_anti")
        .withColumn("coreness", lit(k - 1).cast("long"))
      cur = next
      curNodes = nextNodes
      empty = cur.isEmpty
      k += 1
    }
    if (!empty)
      throw new IllegalStateException(
        s"coreness: a non-empty ${k - 1}-core remains past maxK=$maxK — raise maxK")
    if (dropped.isEmpty)
      // empty input graph: an empty (node, coreness) frame in the
      // node column's own type
      nodesOf(cur).withColumn("coreness", lit(0L)).limit(0)
    else dropped.reduce(_ unionByName _).orderBy("node")
  }

  /** [[coreness]] SHARDED BY CONNECTED COMPONENT — the scale path for
    * full decomposition on graphs with dense pockets. The global
    * successive-peel runs one Spark job chain per k level, so a dense
    * component (deep max coreness) stalls the WHOLE decomposition and
    * eventually trips the loud maxK guard. But core decomposition
    * never crosses a component boundary, so: label components
    * (star-contraction, [[Dedup.duplicateLabelsStar]] — O(log² n)
    * rounds), then peel each component INDEPENDENTLY —
    *
    *  - components at or under `localMaxEdges` edges (in any real
    *    co-occurrence graph: virtually all of them) decompose
    *    IN-EXECUTOR via the exact Batagelj–Zaversnik bin-sort peel
    *    (O(V+E) per component, no per-level Spark jobs, NO depth
    *    cap — a deep dense pocket is cheap locally);
    *  - oversized components (rare; loudly bounded by
    *    `maxBigComponents`) fall back to the distributed
    *    [[coreness]] peel over their union — disjoint components
    *    peel independently, so the union peel equals per-component
    *    peels.
    *
    * One shuffle groups edges by component; the rest is local work.
    * Output contract identical to [[coreness]] (spec asserts exact
    * equality on shared fixtures); at 100 TB the edge frame shards by
    * component instead of serializing the k ladder globally. */
  def corenessSharded(
      edges: DataFrame, localMaxEdges: Long = 2000000L,
      maxK: Int = 64, maxRounds: Int = 200,
      maxBigComponents: Int = 64): DataFrame = {
    val canon = canonicalUndirected(edges)
    val labels = Dedup.duplicateLabelsStar(
      canon.select(col("a").as("doc_a"), col("b").as("doc_b")))
    corenessShardedLabeled(
      canon, labels, localMaxEdges, maxK, maxRounds, maxBigComponents)
  }

  /** [[corenessSharded]] over a PRE-LABELED canonical edge frame:
    * `labels` must be the star labeling of exactly `canon`'s nodes
    * ([[Dedup.duplicateLabelsStar]]'s output). Exposed inside the
    * package so one compaction's SHARED star contraction (the
    * [[foldScope]] device) feeds both the labels face and this
    * re-peel instead of each recomputing it. */
  private[graft] def corenessShardedLabeled(
      canon: DataFrame, labels: DataFrame, localMaxEdges: Long = 2000000L,
      maxK: Int = 64, maxRounds: Int = 200,
      maxBigComponents: Int = 64): DataFrame = {
    require(localMaxEdges >= 1L,
      s"corenessSharded: localMaxEdges must be >= 1, got $localMaxEdges")
    val spark = canon.sparkSession
    import spark.implicits._
    if (canon.isEmpty)
      return coreness(
        canon.select(col("a").as("src"), col("b").as("dst")), maxK, maxRounds)
    val lab = canon
      .join(labels.select(col("id").as("a"), col("label").as("comp")), Seq("a"))
      .localCheckpoint()
    val big = lab.groupBy("comp").agg(count(lit(1)).as("m"))
      .filter(col("m") > localMaxEdges)
      .select(col("comp")).as[Long].collect().sorted
    require(big.length <= maxBigComponents,
      s"corenessSharded: ${big.length} components exceed localMaxEdges=" +
        s"$localMaxEdges (cap $maxBigComponents) — raise localMaxEdges")
    val small =
      if (big.isEmpty) lab
      else lab.join(big.toSeq.toDF("comp"), Seq("comp"), "left_anti")
    val localOut = small
      .select(col("comp").as("_1"), col("a").as("_2"), col("b").as("_3"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        localCoreness(it.map(t => (t._2, t._3)).toArray)
      }
      .toDF("node", "coreness")
    val out =
      if (big.isEmpty) localOut
      else localOut.unionByName(coreness(
        lab.filter(col("comp").isin(big.map(Long.box): _*))
          .select(col("a").as("src"), col("b").as("dst")),
        maxK, maxRounds))
    out.orderBy("node")
  }

  /** Connected components of an undirected edge list — the COMPONENT
    * face of the graph family (centrality [[pageRank]] / cohesion
    * [[triangles]] / density [[kCore]]/[[kTruss]] / components):
    * star-contraction labels ([[Dedup.duplicateLabelsStar]], Kiveris
    * et al. 2014 — O(log² n) rounds independent of diameter, the same
    * machinery [[corenessSharded]] shards by), then one partial-
    * combined aggregation per statistic. Output: one row per
    * component — (component = min node id, n_nodes, n_edges) ordered
    * by component; an empty edge set yields an empty frame. */
  def components(edges: DataFrame): DataFrame = {
    val canon = canonicalUndirected(edges)
    val labels = Dedup.duplicateLabelsStar(
      canon.select(col("a").as("doc_a"), col("b").as("doc_b")))
      .localCheckpoint()
    val nodes = labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
    val edgeCnt = canon
      .join(labels.select(col("id").as("a"), col("label")), Seq("a"))
      .groupBy("label").agg(count(lit(1)).as("n_edges"))
    nodes.join(edgeCnt, Seq("label"))
      .select(col("label").as("component"), col("n_nodes"), col("n_edges"))
      .orderBy("component")
  }

  /** INCREMENTAL connected components — fold a DELTA edge batch into
    * a prior labeling without re-contracting the whole graph (the
    * pageRank warm-start posture applied to components): only the
    * components the delta TOUCHES (labels of delta endpoints; a
    * brand-new node is its own touched singleton) re-contract,
    * together with the delta itself; every untouched component's
    * labels pass through VERBATIM. A delta edge bridging two prior
    * components re-contracts their union to one label; the expensive
    * iterative star-contraction runs on the touched subgraph only —
    * the full prior edge frame is read once for the slim
    * label-semi-join, never iterated over.
    *
    * `priorEdges` is the canonical (a, b) frame a prior
    * [[components]] run labeled, `priorLabels` its (id, label)
    * output frame, `deltaEdges` a raw (src, dst, w) batch. Output:
    * the [[components]] contract over the UNION graph —
    * incremental == full is what the shared oracle's hash gate
    * proves. */
  def componentsIncremental(
      priorEdges: DataFrame, priorLabels: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val d = canonicalUndirected(deltaEdges)
    val labels = labelsFromScope(priorLabels,
      foldScope(priorEdges, priorLabels, d, None))
    val allE = priorEdges.select("a", "b")
      .unionAll(d.select("a", "b")).distinct()
    componentStats(labels, allE)
  }

  /** SIGNED incremental components — [[componentsIncremental]]
    * extended with an edge-REMOVAL slice (the [[Etl.snapshotDiff]]
    * posture applied to edges; the reference's own data model deletes
    * rows, not just inserts them — rabbitmq-to-postgres/app.py:98
    * declares ON DELETE CASCADE on the price/store references, and a
    * delisted product shrinks the co-purchase graph the same way).
    * Removing a bridge SPLITS a component:
    * the whole touched component re-contracts from its surviving
    * edges, so the split falls out of the same star-contraction that
    * handles merges (each side re-labels to its own min node id,
    * which is exactly what a full [[components]] run over the new
    * graph produces); a node stripped of its last edge drops from the
    * labeling, matching the full run's edge-derived node set.
    * Untouched components pass through verbatim. Preconditions as
    * [[kTrussIncremental]]. Output: the [[components]] contract over
    * (prior − removals) ∪ adds — signed == full is what the shared
    * reachability oracle's hash gate proves. */
  def componentsSigned(
      priorEdges: DataFrame, priorLabels: DataFrame,
      addEdges: DataFrame, removeEdges: DataFrame): DataFrame = {
    val a = canonicalUndirected(addEdges)
    val r = canonicalUndirected(removeEdges)
    val labels = signedLabelsCanon(priorEdges, priorLabels, a, r)
    val allE = priorEdges.select("a", "b")
      .join(r.select("a", "b"), Seq("a", "b"), "left_anti")
      .unionAll(a.select("a", "b")).distinct()
    componentStats(labels, allE)
  }

  /** The merged (id, label) frame after folding a SIGNED delta into a
    * prior labeling — the label half of [[componentsSigned]] (and,
    * with no removals, of [[componentsIncremental]]), exposed so
    * streaming compaction can persist the re-merged labeling of
    * (prior − removals) ∪ adds. */
  def signedLabels(
      priorEdges: DataFrame, priorLabels: DataFrame,
      addEdges: DataFrame, removeEdges: DataFrame): DataFrame =
    signedLabelsCanon(priorEdges, priorLabels,
      canonicalUndirected(addEdges), canonicalUndirected(removeEdges))

  private def signedLabelsCanon(
      priorEdges: DataFrame, priorLabels: DataFrame,
      a: DataFrame, r: DataFrame): DataFrame =
    labelsFromScope(priorLabels,
      foldScope(priorEdges, priorLabels, a, Some(r)))

  /** [[components]]' output contract straight from a consistent
    * (labels, edges) artifact pair — the EMPTY-DELTA serving fold of
    * the streaming component faces (guide §2.4: after a compaction
    * folded every delta, the incremental machinery — touched-set
    * scoping, star contraction of an empty subgraph, the untouched
    * anti-join — is a provable no-op, so serving skips straight to
    * the two bounded aggregations). Equals
    * [[componentsIncremental]](edges, labels, empty) row-for-row
    * (spec-asserted). */
  def componentStatsOf(labels: DataFrame, edges: DataFrame): DataFrame =
    componentStats(labels, edges)

  /** The (component, n_nodes, n_edges) fold shared by the incremental
    * component faces: one partial-combined aggregation per statistic
    * over a merged labeling and the union edge frame. */
  private def componentStats(labels: DataFrame, allE: DataFrame): DataFrame = {
    val nodes = labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
    val edgeCnt = allE
      .join(labels.withColumnRenamed("id", "a"), Seq("a"))
      .groupBy("label").agg(count(lit(1)).as("n_edges"))
    nodes.join(edgeCnt, Seq("label"))
      .select(col("label").as("component"), col("n_nodes"), col("n_edges"))
      .orderBy("component")
  }

  /** Attach each prior-artifact row's component label, FAILING LOUDLY
    * (raise_error) on a row whose `key` node is missing from the
    * labels frame — an inconsistent (edges, labels, output) artifact
    * triple must surface, not silently drop rows from the untouched
    * pass-through (the fail-loudly convention, applied to the whole
    * incremental family rather than one face). */
  private def withLabelLoudly(
      rows: DataFrame, priorLabels: DataFrame, key: String,
      who: String): DataFrame =
    rows.join(priorLabels.withColumnRenamed("id", key), Seq(key), "left")
      .withColumn("label", when(col("label").isNull,
          raise_error(concat(
            lit(s"$who: prior row endpoint "), col(key).cast("string"),
            lit(" missing from priorLabels — inconsistent artifacts"))))
        .otherwise(col("label")))

  /** Touched-component scope for a SIGNED edge delta — the shared
    * device of every incremental graph face: the labels either slice
    * touches (adds AND removals; a brand-new node is its own touched
    * singleton via coalesce — sound only under the min-id star-label
    * PRECONDITION the public scaladocs state), and the re-peel
    * subgraph = prior edges of touched components MINUS removals
    * UNION adds. The prior edge frame is read once for the slim
    * semi-join, never iterated. `removals` None keeps the grow-only
    * incremental plans unchanged (no anti-join added). Inputs must be
    * canonical (a < b) frames.
    *
    * FAIL-LOUD ASYMMETRY (documented, deliberate): the `kept` join
    * below attaches labels to prior EDGES with a plain inner join, so
    * an edge whose endpoint is missing from `priorLabels` silently
    * drops from the re-peel subgraph — only the prior OUTPUT rows
    * (coreness/truss/triangle frames) ride [[withLabelLoudly]]. The
    * guard there is a per-row branch on a bounded per-node frame; here
    * it would sit on the full prior EDGE frame — the hottest scan of
    * the fold — and the same inconsistent-artifact class already
    * trips loudly on the output side (labels and edges are written
    * together by one artifact build; an edge/label mismatch implies an
    * output/label mismatch over the same nodes). */
  private def signedScope(
      priorEdges: DataFrame, priorLabels: DataFrame,
      adds: DataFrame, removals: Option[DataFrame])
      : (DataFrame, DataFrame) = {
    val addPts = adds.select(col("a").as("id"))
      .unionAll(adds.select(col("b").as("id")))
    val touchPts = removals match {
      case Some(r) => addPts
        .unionAll(r.select(col("a").as("id")))
        .unionAll(r.select(col("b").as("id")))
      case None => addPts
    }
    val touched = touchPts.distinct()
      .join(priorLabels, Seq("id"), "left")
      .select(coalesce(col("label"), col("id")).as("label"))
      .distinct().localCheckpoint()
    val kept = priorEdges
      .join(priorLabels.withColumnRenamed("id", "a"), Seq("a"))
      .join(touched, Seq("label"), "left_semi")
      .select("a", "b")
    val minusRemoved = removals match {
      case Some(r) => kept.join(r.select("a", "b"), Seq("a", "b"), "left_anti")
      case None => kept
    }
    (touched, minusRemoved.unionAll(adds.select("a", "b")).distinct())
  }

  /** ONE compaction's shared fold state: the touched-component labels,
    * the re-peel subgraph (MATERIALIZED), and the subgraph's star
    * labeling (MATERIALIZED). Guide §1.2 — don't compute things
    * twice: a compaction folds SEVERAL faces of one seed root over
    * the SAME delta (labels, then coreness / triangles / truss), and
    * before this device each face fold recomputed the
    * full-prior-edge semi-join (the fold's hottest scan) while each
    * density face re-ran the whole iterative star contraction the
    * labels face had just computed. Building the scope once makes
    * every face fold a consumer of the same two bounded frames. */
  private[graft] final case class FoldScope(
      touched: DataFrame, sub: DataFrame, subLabels: DataFrame)

  /** Build a [[FoldScope]] from CANONICAL (a < b, distinct) delta
    * frames — the shared entry point of the incremental operators
    * (after their canonicalization) and of streaming compaction, whose
    * net delta is canonical by construction (landing canonicalizes,
    * net resolution groups by pair), so it pays no re-canonicalization
    * job per compaction. */
  private[graft] def foldScope(
      priorEdges: DataFrame, priorLabels: DataFrame,
      a: DataFrame, r: Option[DataFrame]): FoldScope = {
    val (touched, sub0) = signedScope(priorEdges, priorLabels, a, r)
    val sub = sub0.localCheckpoint()
    val subLabels = Dedup.duplicateLabelsStar(
        sub.select(col("a").as("doc_a"), col("b").as("doc_b")))
      .localCheckpoint()
    FoldScope(touched, sub, subLabels)
  }

  /** The re-merged labels face from a shared [[FoldScope]] — the
    * [[componentsIncremental]] / [[signedLabels]] label body over the
    * scope's already-computed star labeling. */
  private[graft] def labelsFromScope(
      priorLabels: DataFrame, s: FoldScope): DataFrame =
    priorLabels
      .join(s.touched, Seq("label"), "left_anti")
      .select("id", "label")
      .unionByName(s.subLabels.select("id", "label"))
      .localCheckpoint()

  /** The coreness face from a shared [[FoldScope]] — the
    * [[corenessIncremental]] body minus its private scope and
    * contraction. */
  private[graft] def corenessFromScope(
      priorLabels: DataFrame, priorCoreness: DataFrame, s: FoldScope,
      localMaxEdges: Long = 2000000L, maxK: Int = 64,
      maxRounds: Int = 200): DataFrame = {
    val refreshed = corenessShardedLabeled(
      s.sub, s.subLabels, localMaxEdges, maxK, maxRounds)
    val untouched = withLabelLoudly(
        priorCoreness, priorLabels, "node", "coreness incremental fold")
      .join(s.touched, Seq("label"), "left_anti")
      .select("node", "coreness")
    untouched.unionByName(refreshed.select("node", "coreness"))
      .orderBy("node")
  }

  /** The truss face from a shared [[FoldScope]]. */
  private[graft] def kTrussFromScope(
      priorLabels: DataFrame, priorTruss: DataFrame, s: FoldScope, k: Int,
      localMaxEdges: Long = 2000000L, maxRounds: Int = 200): DataFrame = {
    val refreshed = kTrussShardedLabeled(
      s.sub, s.subLabels, k, localMaxEdges, maxRounds)
    val untouched = withLabelLoudly(
        priorTruss, priorLabels, "a", "kTruss incremental fold")
      .join(s.touched, Seq("label"), "left_anti")
      .select("a", "b", "support")
    untouched.unionByName(refreshed.select("a", "b", "support"))
      .orderBy("a", "b")
  }

  /** The triangle face from a shared [[FoldScope]] (the wedge join
    * does not shard by component, so only the scope itself is
    * shared). */
  private[graft] def trianglesFromScope(
      priorLabels: DataFrame, priorTriangles: DataFrame,
      s: FoldScope): DataFrame = {
    val refreshed = triangles(
      s.sub.select(col("a").as("src"), col("b").as("dst")))
    val untouched = withLabelLoudly(
        priorTriangles, priorLabels, "node", "trianglesSigned")
      .join(s.touched, Seq("label"), "left_anti")
      .select("node", "degree", "n_triangles", "cc_micro")
    untouched
      .unionByName(
        refreshed.select("node", "degree", "n_triangles", "cc_micro"))
      .orderBy("node")
  }

  /** INCREMENTAL coreness — fold a DELTA edge batch into a prior
    * (edges, labels, coreness) artifact without re-peeling the whole
    * graph: core numbers never cross a component boundary (the
    * [[corenessSharded]] soundness argument), so a delta edge can
    * change coreness ONLY inside the components it touches. The
    * [[componentsIncremental]] touched-set machinery computes exactly
    * that scope: prior edges of touched components (one slim semi-join
    * — the prior edge frame is read once, never iterated) union the
    * delta re-peel via [[corenessSharded]]; every untouched
    * component's coreness rows pass through VERBATIM.
    *
    * `priorEdges` is the canonical (a, b) frame a prior run peeled,
    * `priorLabels` its (id, label) component labeling, `priorCoreness`
    * its (node, coreness) output, `deltaEdges` a raw (src, dst, w)
    * batch. Output: the [[coreness]] contract over the UNION graph —
    * incremental == full is what the shared peel oracle's hash gate
    * proves. */
  def corenessIncremental(
      priorEdges: DataFrame, priorLabels: DataFrame,
      priorCoreness: DataFrame, deltaEdges: DataFrame,
      localMaxEdges: Long = 2000000L, maxK: Int = 64,
      maxRounds: Int = 200): DataFrame = {
    corenessCore(priorEdges, priorLabels, priorCoreness,
      canonicalUndirected(deltaEdges), None, localMaxEdges, maxK, maxRounds)
  }

  /** SIGNED incremental coreness — [[corenessIncremental]] extended
    * with an edge-REMOVAL slice (the [[Etl.snapshotDiff]] posture the
    * text indexes already honor, applied to edges: a store delisting
    * a product shrinks the co-purchase graph, it doesn't only grow).
    * Touched components re-peel against prior-minus-removals-union-
    * adds; untouched coreness rows pass through verbatim — sound
    * because core numbers never cross a component boundary, in BOTH
    * directions (a removed edge can change coreness only inside its
    * own component). Same preconditions as [[kTrussIncremental]]:
    * min-id star labels over exactly `priorEdges`' nodes. Output: the
    * [[coreness]] contract over (prior − removals) ∪ adds — signed ==
    * full is what the shared peel oracle's hash gate proves. */
  def corenessSigned(
      priorEdges: DataFrame, priorLabels: DataFrame,
      priorCoreness: DataFrame, addEdges: DataFrame,
      removeEdges: DataFrame, localMaxEdges: Long = 2000000L,
      maxK: Int = 64, maxRounds: Int = 200): DataFrame =
    corenessCore(priorEdges, priorLabels, priorCoreness,
      canonicalUndirected(addEdges), Some(canonicalUndirected(removeEdges)),
      localMaxEdges, maxK, maxRounds)

  private def corenessCore(
      priorEdges: DataFrame, priorLabels: DataFrame,
      priorCoreness: DataFrame, adds: DataFrame,
      removals: Option[DataFrame], localMaxEdges: Long,
      maxK: Int, maxRounds: Int): DataFrame =
    corenessFromScope(priorLabels, priorCoreness,
      foldScope(priorEdges, priorLabels, adds, removals),
      localMaxEdges, maxK, maxRounds)

  /** The canonical (a, b) edge frame [[components]] labels — exposed
    * so a serving path can persist the (edges, labels) pair as one
    * consistent artifact for [[componentsIncremental]]. */
  def canonicalEdges(edges: DataFrame): DataFrame = canonicalUndirected(edges)

  /** The slim (id, label) component labeling of an edge list (the
    * persistable half of the [[componentsIncremental]] artifact). */
  def componentLabels(edges: DataFrame): DataFrame =
    Dedup.duplicateLabelsStar(
      canonicalUndirected(edges)
        .select(col("a").as("doc_a"), col("b").as("doc_b")))

  /** Exact in-memory mirror of [[pageRank]]'s integer update map —
    * the executor-local leaf the bounded-graph gate in [[pageRank]]
    * ships ONE task: same ppm transition snap, same half-up integer
    * inflow/damping/teleport/dangling arithmetic, same warm-start
    * renormalization, same block-of-3 probe schedule and stopping
    * rule, so the emitted (node, rank_micro) rows are BIT-IDENTICAL
    * to the distributed rounds' (spec-asserted against both the
    * distributed form and the independent test mirror). `hasPrior`
    * distinguishes Some(empty prior) (renormalizes a uniform frame)
    * from None (uniform, no renormalization) — the distributed path
    * makes the same distinction. */
  private[operators] def localPageRankExact(
      edges: Array[(Long, Long, Long)], prior: Array[(Long, Long)],
      hasPrior: Boolean, dPpm: Long, iters: Int, tolMass: Long)
      : Iterator[(Long, Long)] = {
    if (edges.isEmpty) return Iterator.empty
    // node ids from the RAW edge list — self-loop-only nodes stay
    val idOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def idx(x: Long): Int = idOf.getOrElseUpdate(x, {
      val i = ids.length; ids += x; i
    })
    val m = edges.length
    var i = 0
    while (i < m) { idx(edges(i)._1); idx(edges(i)._2); i += 1 }
    val n = ids.length
    // symmetrize + collapse parallel edges (self-loops drop from the
    // TRANSITION structure only), packed (u, v) keys
    val wMap = scala.collection.mutable.LongMap.empty[Long]
    i = 0
    while (i < m) {
      val e = edges(i)
      if (e._1 != e._2) {
        val u = idOf(e._1); val v = idOf(e._2)
        val k1 = (u.toLong << 32) | (v.toLong & 0xffffffffL)
        val k2 = (v.toLong << 32) | (u.toLong & 0xffffffffL)
        wMap(k1) = wMap.getOrElse(k1, 0L) + e._3
        wMap(k2) = wMap.getOrElse(k2, 0L) + e._3
      }
      i += 1
    }
    val wout = new Array[Long](n)
    wMap.foreach { case (k, w) => wout((k >>> 32).toInt) += w }
    val nt = wMap.size
    val tSrc = new Array[Int](nt); val tDst = new Array[Int](nt)
    val tP = new Array[Long](nt)
    var j = 0
    wMap.foreach { case (k, w) =>
      val u = (k >>> 32).toInt
      tSrc(j) = u; tDst(j) = (k & 0xffffffffL).toInt
      // half-up ppm of w/wout — the exact [[pageRank]] snap
      tP(j) = (w * 2000000L + wout(u)) / (wout(u) * 2L)
      j += 1
    }
    val hasOut = new Array[Boolean](n)
    j = 0; while (j < nt) { hasOut(tSrc(j)) = true; j += 1 }
    var hasDangling = false
    i = 0
    while (i < n) { if (!hasOut(i)) hasDangling = true; i += 1 }
    val teleport = ((1000000L - dPpm) * (Scale / n)) / 1000000L
    // start ranks: prior rank_micro × 1e6 (uniform where unknown),
    // renormalized to total Scale — or plain uniform without a prior
    var rank = new Array[Long](n)
    if (hasPrior) {
      val pMap = scala.collection.mutable.LongMap.empty[Long]
      prior.foreach(p => pMap(p._1) = p._2)
      val raw = new Array[Long](n)
      var total = 0L
      i = 0
      while (i < n) {
        raw(i) = pMap.get(ids(i)) match {
          case Some(r0) => r0 * 1000000L
          case None => Scale / n
        }
        total += raw(i)
        i += 1
      }
      if (total <= 0L) {
        i = 0; while (i < n) { rank(i) = Scale / n; i += 1 }
      } else {
        i = 0
        while (i < n) {
          rank(i) = (BigInt(raw(i)) * Scale / BigInt(total)).toLong
          i += 1
        }
      }
    } else {
      i = 0; while (i < n) { rank(i) = Scale / n; i += 1 }
    }
    def step(rin: Array[Long]): Array[Long] = {
      val inflow = new Array[Long](n)
      var e = 0
      while (e < nt) {
        inflow(tDst(e)) += (tP(e) * rin(tSrc(e)) * 2L + 1000000L) / 2000000L
        e += 1
      }
      var share = 0L
      if (hasDangling) {
        var dm = 0L
        var v = 0
        while (v < n) { if (!hasOut(v)) dm += rin(v); v += 1 }
        share = (dm * dPpm * 2L + 1000000L * n) / (2000000L * n)
      }
      val out = new Array[Long](n)
      var v = 0
      while (v < n) {
        out(v) = teleport +
          (inflow(v) * dPpm * 2L + 1000000L) / 2000000L + share
        v += 1
      }
      out
    }
    // the distributed loop's exact block/probe schedule: blocks of 3
    // steps, then (when budget remains) one probe step that either
    // proves the fixpoint (result = the PRE-probe frame) or becomes
    // the next block's first iteration
    val block = 3
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val end = math.min(it + block, iters)
      while (it < end) { rank = step(rank); it += 1 }
      if (it < iters) {
        val next = step(rank)
        var maxDelta = 0L
        var v = 0
        while (v < n) {
          val d0 = math.abs(next(v) - rank(v))
          if (d0 > maxDelta) maxDelta = d0
          v += 1
        }
        converged = maxDelta <= tolMass
        if (!converged) { rank = next; it += 1 }
      }
    }
    val fin = rank
    Iterator.range(0, n).map(v =>
      (ids(v), (fin(v) * 2L + 1000000L) / 2000000L))
  }

  /** Exact Batagelj–Zaversnik (2003) core decomposition of ONE
    * component's canonical edge list, in-memory — the executor-local
    * leaf of [[corenessSharded]]: bin-sorted increasing-degree peel,
    * O(V + E), no depth cap needed (the loop is one pass over the
    * degree-ordered vertex array). Input edges must already be
    * canonical (a < b, deduplicated, self-loop-free). Returns
    * (node, coreness) for every node of the edge list. */
  private[operators] def localCoreness(
      edges: Array[(Long, Long)]): Iterator[(Long, Long)] = {
    if (edges.isEmpty) return Iterator.empty
    val idOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def idx(x: Long): Int = idOf.getOrElseUpdate(x, {
      val i = ids.length; ids += x; i
    })
    val m = edges.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var i = 0
    while (i < m) { ea(i) = idx(edges(i)._1); eb(i) = idx(edges(i)._2); i += 1 }
    val n = ids.length
    val deg = new Array[Int](n)
    i = 0; while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // CSR adjacency
    val off = new Array[Int](n + 1)
    i = 0; while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      adj(fill(ea(i))) = eb(i); fill(ea(i)) += 1
      adj(fill(eb(i))) = ea(i); fill(eb(i)) += 1
      i += 1
    }
    // bin-sort vertices by degree
    var maxDeg = 0
    i = 0; while (i < n) { if (deg(i) > maxDeg) maxDeg = deg(i); i += 1 }
    val bin = new Array[Int](maxDeg + 1)
    i = 0; while (i < n) { bin(deg(i)) += 1; i += 1 }
    var start = 0
    var d = 0
    while (d <= maxDeg) { val c = bin(d); bin(d) = start; start += c; d += 1 }
    val vert = new Array[Int](n); val pos = new Array[Int](n)
    val core = deg.clone()
    i = 0
    while (i < n) {
      pos(i) = bin(core(i)); vert(pos(i)) = i; bin(core(i)) += 1; i += 1
    }
    d = maxDeg; while (d >= 1) { bin(d) = bin(d - 1); d -= 1 }; bin(0) = 0
    // increasing-degree peel: when v is processed its core number is
    // final; each strictly-higher-degree neighbor drops one degree and
    // swaps toward the front of its bin
    i = 0
    while (i < n) {
      val v = vert(i)
      var j = off(v)
      while (j < off(v + 1)) {
        val u = adj(j)
        if (core(u) > core(v)) {
          val du = core(u); val pu = pos(u)
          val pw = bin(du); val w = vert(pw)
          if (u != w) {
            pos(u) = pw; vert(pu) = w; pos(w) = pu; vert(pw) = u
          }
          bin(du) += 1
          core(u) = du - 1
        }
        j += 1
      }
      i += 1
    }
    Iterator.range(0, n).map(v => (ids(v), core(v).toLong))
  }

  /** Exact in-memory k-truss peel of ONE component's canonical edge
    * list — the executor-local leaf of [[kTrussSharded]] (the
    * [[localCoreness]] posture applied to the EDGE-peeling problem).
    * Triangle enumeration — both the initial per-edge support and the
    * per-dying-edge decrements — is an ADAPTIVE intersection of the
    * two endpoints' sorted adjacency segments: a two-pointer merge
    * when the degrees are balanced (cache-friendly, the fast path on
    * dense near-regular graphs — measured 3.5× faster than hash
    * probes on the dense 100× replica), and a walk of the SMALLER
    * segment with binary search into the larger when they are skewed
    * — so a high-degree hub costs O(min·log max) per incident edge,
    * not O(deg hub). (A pure merge pays Σ deg² on a hub — a single
    * popular node inside an under-cap component stalled one task for
    * hours, the exact serialization hazard sharding exists to
    * remove.) Segments sort via primitive dual-pivot sort on packed
    * (neighbor, edge) longs — O(m log m), no per-segment insertion
    * sort. Queue-driven peel, no per-round Spark jobs, no round cap.
    * Input edges must be canonical (a < b, deduplicated,
    * self-loop-free). Returns the surviving (a, b, support) rows with
    * WITHIN-TRUSS support — identical to [[kTruss]]'s contract
    * (spec-asserted). */
  private[operators] def localKTruss(
      edges: Array[(Long, Long)], k: Int): Iterator[(Long, Long, Long)] = {
    if (edges.isEmpty) return Iterator.empty
    val idOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def idx(x: Long): Int = idOf.getOrElseUpdate(x, {
      val i = ids.length; ids += x; i
    })
    val m = edges.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var i = 0
    while (i < m) { ea(i) = idx(edges(i)._1); eb(i) = idx(edges(i)._2); i += 1 }
    val n = ids.length
    val deg = new Array[Int](n)
    i = 0; while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // CSR adjacency as packed (neighbor << 32 | edge id) longs, each
    // segment sorted by the primitive sort (neighbor is unique within
    // a segment, so packed order == neighbor order)
    val off = new Array[Int](n + 1)
    i = 0; while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Long](2 * m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      adj(fill(ea(i))) = (eb(i).toLong << 32) | i.toLong; fill(ea(i)) += 1
      adj(fill(eb(i))) = (ea(i).toLong << 32) | i.toLong; fill(eb(i)) += 1
      i += 1
    }
    var v = 0
    while (v < n) {
      java.util.Arrays.sort(adj, off(v), off(v + 1))
      v += 1
    }
    @inline def nbr(p: Int): Int = (adj(p) >>> 32).toInt
    @inline def edg(p: Int): Int = (adj(p) & 0xffffffffL).toInt
    // lower bound of neighbor w within [s, e) — packed keys compare
    // by neighbor first, so searching (w << 32) finds its slot
    @inline def lower(s: Int, e: Int, w: Int): Int = {
      var lo = s; var hi = e
      val key = w.toLong << 32
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (adj(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }
    // per-triangle visitor over edge e's common neighbors — adaptive:
    // merge when balanced, binary-probe the big side when skewed
    def forTriangles(e: Int)(f: (Int, Int) => Unit): Unit = {
      val u = ea(e); val v = eb(e)
      // plain vars, no tuple destructuring: this runs once per edge
      // visit in the peel loop and Tuple2 boxing is avoidable pressure
      var x = u; var y = v
      if (deg(u) > deg(v)) { x = v; y = u }
      val sx = off(x); val ex = off(x + 1)
      val sy = off(y); val ey = off(y + 1)
      val dSmall = ex - sx; val dBig = ey - sy
      // binary wins once the skew beats the log factor
      if (dSmall.toLong * (33 - Integer.numberOfLeadingZeros(dBig)) < dBig) {
        var p = sx
        while (p < ex) {
          val w = nbr(p)
          val q = lower(sy, ey, w)
          if (q < ey && nbr(q) == w) f(edg(p), edg(q))
          p += 1
        }
      } else {
        var p = sx; var q = sy
        while (p < ex && q < ey) {
          val c = nbr(p) - nbr(q)
          if (c == 0) { f(edg(p), edg(q)); p += 1; q += 1 }
          else if (c < 0) p += 1 else q += 1
        }
      }
    }
    val dead = new Array[Boolean](m)
    // initial support: count triangles per edge via the adaptive
    // intersection
    val sup = new Array[Int](m)
    i = 0
    while (i < m) {
      var s = 0
      forTriangles(i)((_, _) => s += 1)
      sup(i) = s
      i += 1
    }
    val need = k - 2
    val queued = new Array[Boolean](m)
    val queue = new java.util.ArrayDeque[Integer]()
    i = 0
    while (i < m) {
      if (sup(i) < need) { queue.add(i); queued(i) = true }
      i += 1
    }
    while (!queue.isEmpty) {
      val e = queue.poll().intValue()
      if (!dead(e)) {
        dead(e) = true
        // every triangle through e with BOTH other edges alive loses
        // this edge: decrement them, enqueue any crossing below need
        forTriangles(e) { (e1, e2) =>
          if (!dead(e1) && !dead(e2)) {
            sup(e1) -= 1
            if (sup(e1) < need && !queued(e1)) { queue.add(e1); queued(e1) = true }
            sup(e2) -= 1
            if (sup(e2) < need && !queued(e2)) { queue.add(e2); queued(e2) = true }
          }
        }
      }
    }
    Iterator.range(0, m).filter(!dead(_))
      .map(e => (ids(ea(e)), ids(eb(e)), sup(e).toLong))
  }

  /** [[kTruss]] SHARDED BY CONNECTED COMPONENT — the
    * [[corenessSharded]] discipline applied to the truss peel, which
    * needs it even more: every global peel round re-runs the oriented
    * wedge join over the WHOLE surviving graph, so one dense pocket
    * serializes every round globally (the truss sits inside the
    * 2-core ⊆ its component, so sharding is sound — a triangle never
    * crosses a component boundary). Components at or under
    * `localMaxEdges` edges peel IN-EXECUTOR via the exact
    * queue-driven support peel ([[localKTruss]] — no round cap, no
    * per-round jobs); oversized ones (loudly bounded by
    * `maxBigComponents`) fall back to the distributed [[kTruss]] over
    * their union, which equals per-component peels because disjoint
    * components share no wedges. Output contract identical to
    * [[kTruss]] (spec asserts exact equality on shared fixtures). */
  def kTrussSharded(
      edges: DataFrame, k: Int, localMaxEdges: Long = 2000000L,
      maxRounds: Int = 200, maxBigComponents: Int = 64): DataFrame = {
    val canon = canonicalUndirected(edges)
    val labels = Dedup.duplicateLabelsStar(
      canon.select(col("a").as("doc_a"), col("b").as("doc_b")))
    kTrussShardedLabeled(
      canon, labels, k, localMaxEdges, maxRounds, maxBigComponents)
  }

  /** [[kTrussSharded]] over a PRE-LABELED canonical edge frame:
    * `labels` must be the star labeling of exactly `canon`'s nodes.
    * The [[corenessShardedLabeled]] device for the truss face — one
    * compaction's shared star contraction feeds both the labels face
    * and this re-peel. */
  private[graft] def kTrussShardedLabeled(
      canon: DataFrame, labels: DataFrame, k: Int,
      localMaxEdges: Long = 2000000L, maxRounds: Int = 200,
      maxBigComponents: Int = 64): DataFrame = {
    require(k >= 2, s"kTrussSharded: k must be >= 2, got $k")
    require(localMaxEdges >= 1L,
      s"kTrussSharded: localMaxEdges must be >= 1, got $localMaxEdges")
    val spark = canon.sparkSession
    import spark.implicits._
    if (canon.isEmpty)
      return kTruss(
        canon.select(col("a").as("src"), col("b").as("dst")), k, maxRounds)
    val lab = canon
      .join(labels.select(col("id").as("a"), col("label").as("comp")), Seq("a"))
      .localCheckpoint()
    val big = lab.groupBy("comp").agg(count(lit(1)).as("m"))
      .filter(col("m") > localMaxEdges)
      .select(col("comp")).as[Long].collect().sorted
    require(big.length <= maxBigComponents,
      s"kTrussSharded: ${big.length} components exceed localMaxEdges=" +
        s"$localMaxEdges (cap $maxBigComponents) — raise localMaxEdges")
    val small =
      if (big.isEmpty) lab
      else lab.join(big.toSeq.toDF("comp"), Seq("comp"), "left_anti")
    val localOut = small
      .select(col("comp").as("_1"), col("a").as("_2"), col("b").as("_3"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        localKTruss(it.map(t => (t._2, t._3)).toArray, k)
      }
      .toDF("a", "b", "support")
    val out =
      if (big.isEmpty) localOut
      else localOut.unionByName(kTruss(
        lab.filter(col("comp").isin(big.map(Long.box): _*))
          .select(col("a").as("src"), col("b").as("dst")),
        k, maxRounds))
    out.orderBy("a", "b")
  }

  /** INCREMENTAL k-truss — fold a DELTA edge batch into a prior
    * (edges, labels, truss) artifact without re-peeling the whole
    * graph, completing the density family's incremental matrix
    * (coreness / triangles / truss). Soundness is the
    * [[corenessSharded]] argument one rung deeper: a triangle never
    * crosses a component boundary, so truss membership and
    * within-truss support can change ONLY inside the components the
    * delta touches. The [[componentsIncremental]] touched-set
    * machinery computes exactly that scope: prior edges of touched
    * components (one slim semi-join — the prior edge frame is read
    * once, never iterated) union the delta re-peel via
    * [[kTrussSharded]] (in-executor queue-driven peel where small);
    * every untouched component's truss EDGES pass through VERBATIM —
    * support is within-component, so the prior rows are exact.
    *
    * `priorEdges` is the canonical (a, b) frame a prior run peeled,
    * `priorLabels` its (id, label) component labeling, `priorTruss`
    * its (a, b, support) [[kTruss]] output, `deltaEdges` a raw
    * (src, dst, w) batch. Output: the [[kTruss]] contract over the
    * UNION graph — incremental == full is spec-asserted (the truss
    * peel has no tractable SQL twin, so the driver entry is
    * rows-only like q_ktruss).
    *
    * PRECONDITIONS (shared with [[componentsIncremental]] /
    * [[corenessIncremental]]): `priorLabels` must be MIN-NODE-ID star
    * labels over exactly `priorEdges`' nodes — i.e. the output of
    * [[duplicateLabelsStar]] / [[signedLabels]], where every
    * label is itself a node id present in the frame. The
    * coalesce(label, id) touched-set fallback treats a node absent
    * from the labels frame as its own singleton component, which is
    * only sound under that scheme (any other labeling could alias a
    * new node id to an existing label and silently skip a re-peel).
    * `priorTruss` must be a subset of `priorEdges`' components:
    * a truss edge whose endpoint is missing from `priorLabels` is an
    * inconsistent artifact triple and fails loudly (raise_error)
    * rather than silently dropping the edge. */
  def kTrussIncremental(
      priorEdges: DataFrame, priorLabels: DataFrame,
      priorTruss: DataFrame, deltaEdges: DataFrame, k: Int,
      localMaxEdges: Long = 2000000L, maxRounds: Int = 200): DataFrame =
    kTrussCore(priorEdges, priorLabels, priorTruss,
      canonicalUndirected(deltaEdges), None, k, localMaxEdges, maxRounds)

  /** SIGNED incremental k-truss — [[kTrussIncremental]] extended with
    * an edge-REMOVAL slice: removing an edge can only DROP triangle
    * support inside its own component, so the touched-component
    * re-peel against prior-minus-removals-union-adds is exact and
    * untouched truss edges pass through verbatim (support is
    * within-component). Same preconditions and fail-loudly contract
    * as [[kTrussIncremental]]. Output: the [[kTruss]] contract over
    * (prior − removals) ∪ adds — signed == full is spec-asserted
    * (rows-only at the driver, like the whole truss family). */
  def kTrussSigned(
      priorEdges: DataFrame, priorLabels: DataFrame,
      priorTruss: DataFrame, addEdges: DataFrame, removeEdges: DataFrame,
      k: Int, localMaxEdges: Long = 2000000L,
      maxRounds: Int = 200): DataFrame =
    kTrussCore(priorEdges, priorLabels, priorTruss,
      canonicalUndirected(addEdges), Some(canonicalUndirected(removeEdges)),
      k, localMaxEdges, maxRounds)

  private def kTrussCore(
      priorEdges: DataFrame, priorLabels: DataFrame,
      priorTruss: DataFrame, adds: DataFrame, removals: Option[DataFrame],
      k: Int, localMaxEdges: Long, maxRounds: Int): DataFrame =
    kTrussFromScope(priorLabels, priorTruss,
      foldScope(priorEdges, priorLabels, adds, removals),
      k, localMaxEdges, maxRounds)

  /** The k-truss of an undirected edge list (Cohen 2008): the maximal
    * subgraph in which every EDGE sits in at least k−2 triangles —
    * the edge-analog of [[kCore]] and the densest rung of the family
    * (every k-truss is inside the (k−1)-core, but the truss demands
    * the neighbors also know EACH OTHER): a co-purchase edge that
    * survives the 4-truss is embedded in a genuine basket community,
    * not a hub coincidence.
    *
    * Peel loop: per round, per-edge triangle support via the
    * [[triangles]] machinery (degree-ordered orientation bounds the
    * wedge join at O(m^1.5); each triangle explodes to its three
    * canonical edges for the support count), then edges below k−2
    * drop by one anti-join — lineage cut per round, rounds capped
    * loudly. Output: the surviving edge list (a, b, support) with
    * each edge's WITHIN-TRUSS support, ordered by (a, b); empty when
    * the truss is empty. Deterministic (the k-truss is unique). */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 200): DataFrame = {
    require(k >= 2, s"kTruss: k must be >= 2, got $k")
    var cur = canonicalUndirected(edges)
    var rounds = 0
    var stable = false
    while (!stable) {
      val sup = edgeSupport(cur)
      val bad = sup.filter(col("support") < k - 2)
        .select("a", "b").localCheckpoint()
      if (bad.isEmpty) stable = true
      else {
        rounds += 1
        if (rounds > maxRounds)
          throw new IllegalStateException(
            s"kTruss: $k-truss peel not converged after $maxRounds rounds")
        cur = cur.join(bad, Seq("a", "b"), "left_anti").localCheckpoint()
      }
    }
    edgeSupport(cur).orderBy("a", "b")
  }

  /** Per-edge triangle support over a canonical (a<b) frame: oriented
    * wedges ([[triangles]]' device), closure by LEFT SEMI, each
    * triangle exploded to its three canonical edges. Edges in no
    * triangle report 0. */
  private def edgeSupport(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"))
    val tris = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
      .join(und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_semi")
    val perEdge = tris.select(explode(array(
        struct(least(col("u"), col("x")).as("a"), greatest(col("u"), col("x")).as("b")),
        struct(least(col("u"), col("y")).as("a"), greatest(col("u"), col("y")).as("b")),
        struct(col("x").as("a"), col("y").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    und.join(perEdge, Seq("a", "b"), "left")
      .withColumn("support", coalesce(col("support"), lit(0L)))
  }

  /** Canonical undirected edge set: (a < b), self-loop-free,
    * deduplicated, lineage cut — the [[triangles]] normalization. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()

  /** Peel `und` (canonical a<b frame) to its k-core fixpoint. */
  private def peelToCore(und: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    var cur = und
    var rounds = 0
    var stable = false
    while (!stable) {
      val deg = cur.select(col("a").as("node"))
        .unionAll(cur.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val bad = deg.filter(col("deg") < k).select("node").localCheckpoint()
      if (bad.isEmpty) stable = true
      else {
        rounds += 1
        if (rounds > maxRounds)
          throw new IllegalStateException(
            s"kCore: $k-core peel not converged after $maxRounds rounds")
        cur = cur
          .join(bad.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .join(bad.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
          .localCheckpoint()
      }
    }
    cur
  }

  /** INCREMENTAL triangle counts — fold a DELTA edge batch into a
    * prior [[triangles]] output WITHOUT re-running the wedge join over
    * the whole graph. Unlike coreness, triangle counts are ADDITIVE
    * under edge insertion: every triangle of the union graph either
    * lies entirely in the prior (already counted) or contains at
    * least one NEW edge — and those are enumerable from the delta
    * alone: each new edge (a, b) closes a triangle with every common
    * neighbor w of a and b in the union graph. A triangle with two or
    * three new edges is found once per new edge it contains, so
    * candidates dedup by their sorted (x, y, z) triple before the
    * corner explode. Degrees fold the same way; cc_micro recomputes
    * from the folded (degree, n_triangles) — the same exact integer
    * formula as [[triangles]].
    *
    * Spark shape: the delta (bounded) broadcast-joins the union
    * adjacency — wedge candidates are Σ_{(a,b)∈Δ} deg(a), delta-
    * proportional; the closure probe reads the union edge frame once
    * (one semi-join, the [[componentsIncremental]] read-once
    * discipline). Prior per-node rows are FOLDED arithmetically,
    * never recomputed (spec proves it with a poisoned prior).
    * Output: the [[triangles]] contract over the union graph —
    * incremental == full is what the shared oracle's hash gate
    * proves. */
  def trianglesIncremental(
      priorEdges: DataFrame, priorTriangles: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val d = canonicalUndirected(deltaEdges)
      .join(priorEdges.select("a", "b"), Seq("a", "b"), "left_anti")
      .localCheckpoint()
    val union = priorEdges.select("a", "b")
      .unionAll(d.select("a", "b")).localCheckpoint()
    val adj = union.select(col("a").as("u"), col("b").as("v"))
      .unionAll(union.select(col("b").as("u"), col("a").as("v")))
    // common-neighbor closure per new edge, then canonical-triple dedup
    val tris = d.select("a", "b")
      .join(adj.select(col("u").as("a"), col("v").as("w")), Seq("a"))
      .join(adj.select(col("u").as("b"), col("v").as("w")),
        Seq("b", "w"), "left_semi")
      .select(expr("array_sort(array(a, b, w))").as("t"))
      .distinct()
    val newPerNode = tris
      .select(explode(col("t")).as("node"))
      .groupBy("node").agg(count(lit(1)).as("dt"))
    val dDeg = d.select(col("a").as("node"))
      .unionAll(d.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dd"))
    priorTriangles.select(col("node"), col("degree"), col("n_triangles"))
      .join(dDeg, Seq("node"), "full_outer")
      .join(newPerNode, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("dd"), lit(0L)))
          .as("degree"),
        (coalesce(col("n_triangles"), lit(0L)) + coalesce(col("dt"), lit(0L)))
          .as("n_triangles"))
      .withColumn("cc_micro", expr(
        """CASE WHEN degree < 2 THEN CAST(0 AS BIGINT) ELSE
          | CAST((CAST(n_triangles AS DECIMAL(38,0)) * 4000000
          |   + degree * (degree - 1))
          |  div (CAST(degree AS DECIMAL(38,0)) * (degree - 1) * 2) AS BIGINT)
          |END""".stripMargin))
      .select("node", "degree", "n_triangles", "cc_micro")
      .orderBy("node")
  }

  /** SIGNED incremental triangles — the triangle face under an
    * edge-REMOVAL slice. Insertion-only folding is arithmetic
    * ([[trianglesIncremental]]); removal is not (a removed edge
    * silently kills triangles it closed AND shifts every survivor's
    * cc denominator), so the signed form uses the family's
    * touched-component machinery instead: triangle counts and
    * degrees never cross a component boundary, so the full
    * [[triangles]] wedge join re-runs on the touched subgraph only
    * (prior edges of touched components minus removals union adds)
    * and every untouched component's per-node rows pass through
    * VERBATIM. Preconditions as [[kTrussIncremental]]. Output: the
    * [[triangles]] contract over (prior − removals) ∪ adds — signed
    * == full is what the shared wedge-join oracle's hash gate
    * proves. */
  def trianglesSigned(
      priorEdges: DataFrame, priorLabels: DataFrame,
      priorTriangles: DataFrame, addEdges: DataFrame,
      removeEdges: DataFrame): DataFrame =
    trianglesFromScope(priorLabels, priorTriangles,
      foldScope(priorEdges, priorLabels,
        canonicalUndirected(addEdges),
        Some(canonicalUndirected(removeEdges))))

  /** Triangle counts and local clustering coefficients over an
    * undirected edge list (src, dst) — the cohesion complement to
    * [[pageRank]]'s centrality (a product pair with a high clustering
    * coefficient sits inside a dense basket community; a high-rank,
    * low-cc node is a hub bridging communities).
    *
    * The scale device is DEGREE-ORDERED ORIENTATION (Chiba & Nishizeki
    * 1985's compact-forward, the MapReduce posture of Suri &
    * Vassilvitskii 2011): every edge points toward its higher-(degree,
    * id) endpoint, so out-degree is bounded by O(√m) on any graph and
    * the wedge self-join — the only quadratic-looking step — generates
    * O(m^1.5) candidates worst-case instead of Σ deg² (a hub with a
    * million neighbors emits NO wedges at its own key; its edges
    * orient INTO it). Each triangle is found exactly once (its
    * orientation-minimal apex), then exploded to its three corners for
    * per-node counts. The closure probe is a LEFT SEMI join on the
    * id-canonical undirected edge set — no fanout. cc = 2·Δ/(deg·(deg−1))
    * reported as a half-up DECIMAL(38,0) micro snap ([[Classifier]]
    * ratio posture), so the whole frame has a FULL DuckDB oracle.
    *
    * Output: (node, degree, n_triangles, cc_micro), every node of the
    * deduplicated self-loop-free edge set present (degree-1 nodes at
    * cc 0). */
  def triangles(edges: DataFrame): DataFrame = {
    // id-canonical undirected edge set: read by the degree count, both
    // orientation joins, and the closure probe (localCheckpoint per
    // the persistence contract)
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"))
    // wedges at each apex u over its (bounded) out-neighborhood; the
    // e1.v < e2.v canonical order IS und's (a < b) order, so the
    // closure probe is a direct key match
    val tris = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
      .join(und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_semi")
    val perNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc_micro", expr(
        """CASE WHEN degree < 2 THEN CAST(0 AS BIGINT) ELSE
          | CAST((CAST(n_triangles AS DECIMAL(38,0)) * 4000000
          |   + degree * (degree - 1))
          |  div (CAST(degree AS DECIMAL(38,0)) * (degree - 1) * 2) AS BIGINT)
          |END""".stripMargin))
      .select("node", "degree", "n_triangles", "cc_micro")
      .orderBy("node")
  }
}
