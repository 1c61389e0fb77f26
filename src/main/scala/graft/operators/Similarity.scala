package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, random-hyperplane LSH bucketing as the approximate scale
  * path.
  *
  * Scale posture (100 TB): the query set is broadcast against a full
  * corpus scan (never corpus×corpus); the per-query top-k window
  * shuffles once on query_id. Cosines are computed in double via
  * codegen'd zip_with/aggregate folds and snapped to 6 decimals before
  * ranking so ordering is reproducible across engines. The LSH variant
  * replaces the scan with an equi-join on a 16-bit hyperplane-sign
  * bucket — O(corpus) bucketing + per-bucket candidates.
  */
object Similarity {

  /** Shared rank tail of the ANN top-k family: bounded graft_topk per
    * query (map-side partial top-k — see [[embedTopK]]), exploded back
    * to (neighbor_id, cos_sim, rank) rows. NULL scores (undefined
    * cosines, e.g. a zero-norm vector under non-ANSI division) are
    * EXCLUDED from ranking — the row_number window this replaced
    * ranked them last with NULL cos_sim; a similarity undefined for a
    * degenerate vector should not occupy a top-k slot. */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(expr(s"graft_topk(cos_r, vec_id, $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("cos_sim"), (col("idx") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")

  /** vec_id + double-cast vector + L2 norm (norm via the native
    * codegen'd graft_dot — see graft.functions.DotProduct). */
  private def withNorm(emb: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr("sqrt(graft_dot(v, v))"))
  }

  /** vec_id + the unit-normalized vector `vn`: the frame every IVF, PQ
    * and SemDeDup path trains on, assigns, probes and reranks. */
  private def normalized(emb: DataFrame): DataFrame =
    withNorm(emb)
      .withColumn("vn", expr("transform(v, x -> x / norm)"))
      .select("vec_id", "vn")

  /** Exact cosine top-k: neighbors of each query vector (vec_id <
    * nQueries) over the whole corpus, ranked by snapped cosine.
    *
    * The rank is a bounded `graft_topk` aggregate, not a window: the
    * window form shuffles ALL |queries|×|corpus| scored candidates and
    * sorts each query's partition, while the aggregate's map-side
    * partial pass collapses every partition to k candidates per query
    * before the exchange — the shuffle carries O(k·partitions) rows
    * per query. Equality with the window formulation is asserted in
    * spec (the (score DESC, id ASC) order is total, so both are
    * deterministic and identical). */
  def embedTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dot", expr("graft_dot(v, qv)"))
      .withColumn("cos_r", round(col("dot") / (col("norm") * col("qn")), 6))
      .transform(topKByCos(_, k))
  }

  /** Corpus-centroid outlier report: the k vectors FARTHEST (lowest
    * cosine) from the corpus mean embedding — the cheap first-pass
    * outlier screen an embedding-quality audit runs before
    * per-cluster diagnostics ([[clusterQuality]]): mislabeled,
    * truncated, or off-distribution vectors surface at the bottom of
    * the centroid-cosine ranking.
    *
    * Scale shape: the centroid is ONE per-position partial-combined
    * aggregate (posexplode → dim-keyed mean — dim rows total, a
    * constant), broadcast back as a single array row; scoring is a
    * narrow map over the corpus through the codegen `graft_dot`; the
    * bottom-k is a TakeOrdered, never a full sort. Engine-stable per
    * the StableStats discipline: elements snap to 6 decimals first, so
    * each position's TRUE sum is a multiple of 1e-6 and
    * `round(sum, 6)` lands on the identical double regardless of
    * accumulation order. The centroid is the per-position SUM, not the
    * mean — cosine is scale-invariant, so dividing by the count buys
    * nothing and loses determinism: sum/n can land EXACTLY on a
    * half-boundary of the rounding scale (a 1e-6-multiple over n=500
    * hits x.xxxxxx5 dead on), where engines' decimal round-trips
    * legitimately disagree on the last unit. The un-divided sum stays
    * a 1e-6 multiple, which is never on a boundary at its own scale. */
  def embedOutliers(emb: DataFrame, k: Int = 25): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr("sqrt(graft_dot(v, v))"))
    val cent = emb
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(round(sum(round(col("x"), 6)), 6).as("m"))
      // dim rows — a bounded collect into the broadcast centroid array
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("c"))
      .withColumn("cn", expr("sqrt(graft_dot(c, c))"))
    e.crossJoin(broadcast(cent))
      .withColumn("cos_centroid",
        round(expr("graft_dot(v, c)") / (col("norm") * col("cn")), 6))
      .select("vec_id", "label", "cos_centroid")
      .orderBy(col("cos_centroid").asc, col("vec_id"))
      .limit(k)
  }

  /** vec_id, v, and the `planes`-bit random-hyperplane sign bucket via
    * the native codegen `graft_lsh` (hyperplane coefficients derived
    * from xxhash64(plane*64+i) — fully deterministic, no RNG state to
    * ship to executors; bit-compatible with the interpreted-lambda
    * formulation it replaced, asserted in VectorExpressionsSpec). */
  private def withBucket(emb: DataFrame, planes: Int): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", expr(s"element_at(graft_lsh(v, $planes, 1), 1)"))
  }

  /** Random-hyperplane LSH bucket occupancy (the ANN index structure).
    * Vectors sharing a bucket are ANN candidates. */
  def embedLshBuckets(emb: DataFrame, planes: Int = 16): DataFrame =
    withBucket(emb, planes)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"), min("vec_id").as("min_vec_id"))
      .orderBy("bucket")

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    * generation (vectors sharing any of `tables` bucket keys), exact
    * cosine rerank, threshold filter — the semantic-dedup mode of the
    * dedup family (complements Dedup.minhashPairs' lexical mode).
    * O(corpus·tables) bucketing + per-bucket pairs; no corpus². */
  def embedNearDupPairs(
      emb: DataFrame, threshold: Double = 0.95,
      planes: Int = 12, tables: Int = 4,
      bucketCap: Long = Long.MaxValue): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    // candidate generation and dedup on SLIM (id, id) pairs — the full
    // double vectors never ride through the bucket self-join or the
    // dedup shuffle (the same slim pattern as Dedup.minhashPairs).
    // bucketCap bounds per-bucket occupancy before the self-join — a
    // k-copy vector cluster otherwise emits k²/2 pairs per table (see
    // Dedup.capBuckets for the lossless/lossy trade)
    val b = Dedup.capBuckets(bucketed(emb, planes, tables), Seq("t", "bucket"), bucketCap)
    val candidates = b.as("a")
      .join(b.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val e = withNorm(emb)
    candidates
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb")), "vec_b")
      .withColumn("cos_sim", round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Deterministic training sample for Lloyd refinement: the corpus's
    * `trainFactor · nCentroids` xxhash64-ranked vectors (the seed
    * centroids are this ordering's prefix, so seeds ⊂ sample by
    * construction). Exposed for the spec that pins the train/add
    * split.
    *
    * The sample REPARTITIONS after the limit: a global limit collapses
    * to ONE partition, which would run every Lloyd assignment pass of
    * a k ∝ n model single-threaded (measured 13.5 s/iter vs 3.8 s for
    * the 4×-larger parallel corpus scan on the 100× replica — the
    * dominant term of the whole SemDeDup entry). The sample SET is
    * unchanged (same ordering, same prefix); downstream means are
    * integer-exact, so the partitioning is free to change. */
  private[graft] def ivfTrainingSample(
      normalized: DataFrame, nCentroids: Int, trainFactor: Int): DataFrame = {
    val parts = normalized.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val n = trainFactor * nCentroids
    // SCALE-ADAPTIVE partitioning (guide §2): the sample size is known
    // exactly (trainFactor · nCentroids), so size the training frame
    // at ~2k vectors per partition instead of a flat
    // shuffle-partitions fan-out — a bounded sample sliced into 32
    // near-empty partitions pays per-task scheduling on EVERY Lloyd
    // pass (2 iters × 3 jobs) for no parallelism, while a k ∝ n
    // corpus sample still fans out to the session cap. Lloyd means
    // are integer-exact DECIMAL sums, so the result is bit-identical
    // under any partitioning (the ivfModel contract).
    val target = math.max(1, math.min(parts, (n + 2047) / 2048))
    normalized.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(n)
      .repartition(target)
  }

  /** Normalized corpus + deterministic Lloyd-refined centroids — the
    * shared IVF model behind [[ivfIndex]] (and so every IVF top-k
    * form), [[embedClusterStats]], [[clusterQuality]] and SemDeDup.
    * Returns (corpus (vec_id, vn), centroids (cid, cvec)).
    *
    * Lloyd trains on a SAMPLE (the FAISS-style train/add split):
    * centroid statistics converge on ~tens of vectors per centroid
    * long before the full corpus adds information, so each refinement
    * pass costs sample×dim instead of corpus×dim — at 100 TB that is
    * the difference between an iteration touching everything and one
    * touching a bounded frame. The sample is the deterministic
    * xxhash64 rank order (no RNG; reproducible across runs and
    * cluster sizes); the FULL corpus is assigned exactly once, by the
    * caller's final [[assignTo]]. */
  private[graft] def ivfModel(
      emb: DataFrame, nCentroids: Int, lloydIters: Int,
      trainFactor: Int = 64): (DataFrame, DataFrame) = {
    // < 1 would make the training frame empty (or smaller than the
    // seed set) and every assignment null downstream
    require(trainFactor >= 1, "trainFactor must be >= 1")
    val e = normalized(emb)
      // localCheckpoint per the persistence contract: eager,
      // ContextCleaner-released — an internal .cache() would pin
      // blocks across repeated index builds in a long-lived session
      .localCheckpoint()

    // localCheckpoint: the sample feeds every Lloyd pass — materialize
    // the TakeOrdered once instead of re-sorting the corpus per iter
    val train = ivfTrainingSample(e, nCentroids, trainFactor).localCheckpoint()

    // deterministic seed centroids: the hash-rank prefix. Taking it
    // from the materialized sample (whose top-n IS the corpus top-n —
    // same total order) costs a sort of the tiny train frame instead
    // of a second corpus pass.
    var centroids = train.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nCentroids)
      .select(row_number().over(Window.orderBy("vec_id")).as("cid"), col("vn").as("cvec"))

    for (_ <- 1 to lloydIters) {
      // per-dimension mean in EXACT integer arithmetic: each member
      // coordinate snaps to pico units and sums in DECIMAL (exact,
      // associative-commutative), so the centroid is bit-identical
      // under ANY partitioning of the (now parallel) training frame —
      // a float avg() would drift in the last ulp with partial-merge
      // order and make the trained model partition-dependent (the
      // pageRank integer-mass discipline applied to Lloyd).
      val means = assignTo(train, centroids)
        .select(col("cid"), posexplode(col("vn")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(
          expr("sum(CAST(round(x * 1e12) AS DECIMAL(38,0)))").as("sx"),
          count(lit(1)).as("cnt"))
        .select(col("cid"), col("pos"),
          (col("sx").cast("double") / (col("cnt") * lit(1e12))).as("mx"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)").as("cvec"))
      // re-normalize so cosine assignment stays a plain dot product
      centroids = means.select(col("cid"),
        expr("transform(cvec, x -> x / sqrt(graft_dot(cvec, cvec)))").as("cvec"))
        .localCheckpoint()
    }
    (e, centroids)
  }

  /** Nearest-centroid assignment as a NARROW map: all centroids ride
    * as one broadcast cid-ascending array and each row folds to its
    * argmax centroid — no row blow-up, no shuffle per Lloyd pass. Ties
    * pick the smallest cid (array_position returns the first maximum;
    * the array is cid-sorted), matching a (sim DESC, cid ASC) window.
    * Output: vec_id, vn, cid, sim (cosine to the winning centroid). */
  private[graft] def assignTo(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.agg(expr("array_sort(collect_list(struct(cid, cvec)))").as("cents"))
    vectors.crossJoin(broadcast(cents))
      .withColumn("sims", expr("transform(cents, c -> graft_dot(vn, c.cvec))"))
      .withColumn("sim", expr("array_max(sims)"))
      .withColumn("cid",
        expr("element_at(cents, CAST(array_position(sims, sim) AS INT)).cid"))
      .select("vec_id", "vn", "cid", "sim")
  }

  /** IVF cluster occupancy report (the diversity/coverage summary a
    * semantic-clustering pass produces): per-cluster sizes, smallest
    * member id as a stable exemplar, and the mean cosine of members to
    * their centroid (cluster coherence). Sizes and exemplars are
    * exact; the mean rides per-row 6-decimal snapped cosines through
    * an engine-stable two-round mean. */
  def embedClusterStats(
      emb: DataFrame, nCentroids: Int = 16, lloydIters: Int = 2,
      trainFactor: Int = 64): DataFrame = {
    val (e, centroids) = ivfModel(emb, nCentroids, lloydIters, trainFactor)
    assignTo(e, centroids)
      .select(col("cid"), col("vec_id"), round(col("sim"), 6).as("cos_sim"))
      .groupBy("cid")
      .agg(
        count(lit(1)).as("n_vectors"),
        min("vec_id").as("exemplar_id"),
        round(round(sum("cos_sim"), 4) / count(lit(1)), 4).as("mean_cos"))
      .orderBy("cid")
  }

  /** Cluster quality triage (prune-whole-clusters curation): joins the
    * semantic cluster assignment with per-document text quality
    * signals — per cluster: size, engine-stable mean classifier score,
    * dominant predicted language with its share, stable exemplar. The
    * doc-keyed quality frames join the slim (vec_id→cid) assignment on
    * the id key; everything downstream runs on |clusters|-sized
    * aggregates. */
  def clusterQuality(emb: DataFrame, docs: DataFrame,
      nCentroids: Int = 16, lloydIters: Int = 2,
      trainFactor: Int = 64): DataFrame = {
    val (e, centroids) = ivfModel(emb, nCentroids, lloydIters, trainFactor)
    val assigned = assignTo(e, centroids).select(col("vec_id").as("doc_id"), col("cid"))
    val quality = graft.operators.TextAnalysis.classifierScore(docs)
      .select(col("doc_id"), col("score"))
    val lang = graft.operators.TextAnalysis.langId(docs)
      .select(col("doc_id"), col("predicted"))
    // ONE pass to a (cluster, language)-grained aggregate; the two
    // consumers below (dominant-language pick and cluster rollup) read
    // the checkpointed tiny frame instead of re-executing the doc
    // scans and joins (Spark re-runs a branching subplan per consumer)
    val per = assigned.join(quality, "doc_id").join(lang, "doc_id")
      .groupBy("cid", "predicted")
      .agg(count(lit(1)).as("n_lang"),
        min("doc_id").as("min_id"),
        round(sum("score"), 4).as("s_score"))
      .localCheckpoint()
    val topLang = per.groupBy("cid")
      .agg(max_by(col("predicted"),
        struct(col("n_lang"), col("predicted"))).as("dominant_lang"),
        max("n_lang").as("n_dominant"))
    per.groupBy("cid")
      .agg(sum("n_lang").as("n_docs"),
        min("min_id").as("exemplar_id"),
        round(round(sum("s_score"), 4) / sum("n_lang"), 4).as("mean_score"))
      .join(topLang, "cid")
      .withColumn("dominant_share",
        round(col("n_dominant").cast("double") / col("n_docs"), 4))
      .select(col("cid"), col("n_docs"), col("exemplar_id"), col("mean_score"),
        col("dominant_lang"), col("dominant_share"))
      .orderBy("cid")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space with k-means, then compare vectors for semantic
    * near-duplication ONLY within each cluster — the paper's sharding
    * device, bounding the candidate mass at Σ|cluster|²/2 ≈ n²/2k
    * instead of n²/2 (k grows with the corpus; the LSH-banded
    * [[embedNearDupPairs]] is the other bounding discipline, this one
    * follows the paper). Within-cluster pairs at cosine ≥ `tau`
    * resolve to connected components (star contraction, cross-CLUSTER
    * components cannot form by construction); each component keeps
    * its min vec_id.
    *
    * The paper's known limitation is inherited and spec-pinned: a
    * near-duplicate pair SPLIT ACROSS cluster boundaries is never
    * compared — SemDeDup trades that recall for the bounded join.
    *
    * k SCALES WITH THE CORPUS, as in the paper (they grow the
    * cluster count with n, holding cluster SIZE roughly fixed):
    * `nCentroids = max(1, ceil(n / clusterSize))` unless overridden,
    * so the within-cluster pair mass stays ~n·clusterSize/2 — LINEAR
    * in the corpus — instead of n²/2k at fixed k (a fixed k=16 at
    * 100× data turns the pair join into 7.8e9 candidates; observed
    * mid-probe, which is why the default is the paper's). The
    * remaining n·k assignment term is a narrow broadcast map.
    *
    * Spark shape: deterministic sample-trained Lloyd ([[ivfModel]]),
    * narrow broadcast assignment, ONE cid-keyed self-join (the only
    * corpus-sized shuffle), component resolution on the slim pair
    * frame. Output: (vec_id, cid, kept) for every vector, ordered by
    * vec_id — rows-only as a driver entry (trained centroids have no
    * SQL twin); the within-cluster semantics are pinned in spec
    * against a local brute force. */
  def semDeDup(
      emb: DataFrame, nCentroids: Option[Int] = None, tau: Double = 0.9,
      clusterSize: Long = 250L, keepFarthest: Boolean = false,
      lloydIters: Int = 2, trainFactor: Int = 64): DataFrame = {
    val (e, centroids) =
      semDeDupModel(emb, nCentroids, clusterSize, lloydIters, trainFactor)
    semDeDupFromAssignment(assignTo(e, centroids), tau, keepFarthest)
  }

  /** The SemDeDup model — [[ivfModel]] with k sized by the paper's
    * k ∝ n rule unless given. Every SemDeDup form assigns against it
    * with the FLAT broadcast scan: an exact coarse-then-fine
    * assignment was measured 6× SLOWER on the 64-dim 100× replica
    * (26.2 vs 3.8 s — in high dimension k-means cells overlap, the
    * radius bound pruned almost nothing, and the candidate machinery
    * cost more per dot), while the ACTUAL n·k bottleneck was the Lloyd
    * training passes running single-threaded off the one-partition
    * sample — fixed in [[ivfTrainingSample]] (13.5 → ~1 s per pass). */
  private def semDeDupModel(
      emb: DataFrame, nCentroids: Option[Int], clusterSize: Long,
      lloydIters: Int, trainFactor: Int): (DataFrame, DataFrame) = {
    require(clusterSize >= 1L,
      s"semDeDup: clusterSize must be >= 1, got $clusterSize")
    val k = nCentroids.getOrElse {
      // one cheap count action sizes the cluster grid (bounded: the
      // paper's k ∝ n contract)
      val n = emb.count()
      math.max(1L, (n + clusterSize - 1L) / clusterSize).toInt
    }
    ivfModel(emb, k, lloydIters, trainFactor)
  }

  /** The PERSISTABLE slim assignment artifact (vec_id, cid, sim) —
    * what a serving path stores instead of re-training Lloyd and
    * re-scanning n·k centroid dots per run; [[semDeDupFromIndex]]
    * consumes it. */
  def semDeDupAssign(
      emb: DataFrame, nCentroids: Option[Int] = None,
      clusterSize: Long = 250L,
      lloydIters: Int = 2, trainFactor: Int = 64): DataFrame =
    semDeDupIndex(emb, nCentroids, clusterSize, lloydIters, trainFactor)._1

  /** Serve the SemDeDup verdict from a persisted slim assignment:
    * vectors re-normalize NARROWLY from the corpus (no training, no
    * n·k assignment scan) and join the (vec_id, cid, sim) artifact;
    * bit-equal to the inline form because assignment at fixed
    * centroids is deterministic (spec-asserted). */
  def semDeDupFromIndex(
      emb: DataFrame, assignments: DataFrame, tau: Double = 0.9,
      keepFarthest: Boolean = false): DataFrame =
    semDeDupFromAssignment(
      normalized(emb).join(assignments.select("vec_id", "cid", "sim"), Seq("vec_id")),
      tau, keepFarthest)

  /** The SemDeDup index pair — (slim (vec_id, cid, sim) assignment,
    * centroids) trained ONCE on this corpus with the paper's k ∝ n
    * sizing: what a serving/streaming path persists so later vectors
    * can assign against FIXED centroids ([[semDeDupAssignAgainst]])
    * and verdicts re-resolve only in touched clusters
    * ([[semDeDupIncremental]]). One call guarantees assignments match
    * the returned centroids exactly (the [[ivfIndex]] contract). */
  def semDeDupIndex(
      emb: DataFrame, nCentroids: Option[Int] = None,
      clusterSize: Long = 250L, lloydIters: Int = 2,
      trainFactor: Int = 64): (DataFrame, DataFrame) = {
    val (e, centroids) =
      semDeDupModel(emb, nCentroids, clusterSize, lloydIters, trainFactor)
    (assignTo(e, centroids).select("vec_id", "cid", "sim"), centroids)
  }

  /** SemDeDup assignment of NEW vectors against FIXED persisted
    * centroids — the [[ivfAssignAgainst]] contract carrying `sim`
    * (the centroid cosine the keep-farthest rule ranks by): the
    * narrow broadcast map, bit-identical to what [[semDeDupIndex]]
    * would have produced had these vectors been present (assignment
    * at fixed centroids is deterministic). */
  def semDeDupAssignAgainst(emb: DataFrame, cents: DataFrame): DataFrame =
    assignTo(normalized(emb), cents).select("vec_id", "cid", "sim")

  /** INCREMENTAL SemDeDup — fold newly-assigned vectors into a prior
    * verdict without re-resolving the whole corpus: connected
    * components NEVER cross cluster boundaries (the within-cluster
    * join is SemDeDup's sharding device), so a new vector can change
    * verdicts only inside its own cluster. Clusters in `touched`
    * re-resolve over ALL their members (prior + new, vectors
    * re-normalized narrowly from the corpus); every untouched
    * cluster's (vec_id, cid, kept) rows pass through VERBATIM.
    * `assignments` is the LIVE slim frame (prior ∪ new),
    * `priorVerdict` the persisted (vec_id, cid, kept) output of a
    * prior run, `touched` any frame with the touched cluster ids in
    * `cid`. Output: the [[semDeDup]] contract over the union corpus —
    * incremental == full is spec-asserted. */
  def semDeDupIncremental(
      emb: DataFrame, assignments: DataFrame, priorVerdict: DataFrame,
      touched: DataFrame, tau: Double = 0.9,
      keepFarthest: Boolean = false): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val t = touched.select("cid").distinct().localCheckpoint()
    val untouched = priorVerdict
      .join(t, Seq("cid"), "left_anti")
      .select("vec_id", "cid", "kept")
    val refreshed = semDeDupFromAssignment(
      normalized(emb).join(assignments.join(t, Seq("cid"), "left_semi")
        .select("vec_id", "cid", "sim"), Seq("vec_id")),
      tau, keepFarthest)
    untouched.unionByName(refreshed.select("vec_id", "cid", "kept"))
      .orderBy("vec_id")
  }

  /** The verdict from any (vec_id, vn, cid, sim) assignment frame:
    * within-cluster pairs at cosine ≥ tau → star-contraction
    * components → one survivor per component. `keepFarthest = false`
    * keeps the component's min vec_id (the repo's stable default);
    * `true` keeps the member FARTHEST from its centroid — lowest
    * sim, ties to min vec_id — the paper's own rule ("keep the most
    * atypical example", SemDeDup §3: typical members are what the
    * cluster already represents). */
  private def semDeDupFromAssignment(
      assigned: DataFrame, tau: Double, keepFarthest: Boolean): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"semDeDup: tau must be in (0,1], got $tau")
    val asg = assigned.select("vec_id", "vn", "cid", "sim").localCheckpoint()
    val pairs = asg.select(col("cid"), col("vec_id").as("ia"), col("vn").as("va"))
      .join(asg.select(col("cid"), col("vec_id").as("ib"), col("vn").as("vb")),
        Seq("cid"))
      .filter(col("ia") < col("ib"))
      .filter(expr("graft_dot(va, vb)") >= tau)
      .select(col("ia").as("doc_a"), col("ib").as("doc_b"))
    val labels = Dedup.duplicateLabelsStar(pairs)
      .withColumnRenamed("id", "vec_id")
    if (!keepFarthest)
      asg.select("vec_id", "cid")
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          (col("label").isNull || col("label") === col("vec_id")).as("kept"))
        .orderBy("vec_id")
    else {
      val lab = asg.select("vec_id", "cid", "sim")
        .join(labels, Seq("vec_id"), "left")
      // partial-combinable struct min picks (lowest sim, then min id)
      // per component — the bounded keeper frame joins back slim
      val keepers = lab.filter(col("label").isNotNull)
        .groupBy("label")
        .agg(min(struct(col("sim"), col("vec_id"))).as("kmin"))
        .select(col("label"), col("kmin.vec_id").as("keeper"))
      lab.join(keepers, Seq("label"), "left")
        .select(col("vec_id"), col("cid"),
          (col("label").isNull || col("vec_id") === col("keeper")).as("kept"))
        .orderBy("vec_id")
    }
  }

  /** Train ONCE, return (assignments, centroids) — the IVF artifact
    * pair: assignments are the slim (vec_id, cid) posting-list keys
    * (12 bytes/vector) and centroids the tiny (cid, cvec) table.
    * Persist both through Sinks; [[embedIvfTopKFromIndex]] serves
    * without retraining or re-assigning. One call guarantees the
    * assignments were computed against exactly the centroids returned
    * (two separate trainings could not rely on bit-identical
    * floating-point means) — the [[pqIndex]] contract. */
  def ivfIndex(
      emb: DataFrame, nCentroids: Int = 16, lloydIters: Int = 2,
      trainFactor: Int = 64): (DataFrame, DataFrame) = {
    val (e, centroids) = ivfModel(emb, nCentroids, lloydIters, trainFactor)
    (assignTo(e, centroids).select("vec_id", "cid"), centroids)
  }

  /** Assignment of NEW vectors against FIXED persisted centroids — the
    * FAISS add()-after-train() contract: returns (vec_id, cid) in
    * [[ivfIndex]]'s assign layout via the same broadcast narrow map,
    * so the rows are bit-identical to what ivfIndex would have
    * produced had these vectors been present at training time
    * (assignment at fixed centroids is deterministic — the equality
    * [[graft.streaming.IvfSignedStream]] serves and its spec proves). */
  def ivfAssignAgainst(emb: DataFrame, cents: DataFrame): DataFrame =
    assignTo(normalized(emb), cents).select("vec_id", "cid")

  /** Each query's (vec_id < nQueries) centroid lists ranked by
    * (sim DESC, cid ASC), the first `nProbe` kept: (query_id, qv, cid,
    * sim, rn) — the probe every IVF search joins its posting lists
    * against. */
  private def probeLists(
      e: DataFrame, cents: DataFrame, nQueries: Int, nProbe: Int): DataFrame = {
    val wq = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))
    e.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(cents))
      .withColumn("sim", expr("graft_dot(vn, cvec)"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("query_id"), col("vn").as("qv"), col("cid"),
        col("sim"), col("rn"))
  }

  /** The rerank pool: each query's `n` best approximate scores
    * (`acos`) through the bounded graft_topk partial aggregate, as
    * (query_id, vec_id) rows. */
  private def survivorPool(scored: DataFrame, n: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(expr(s"graft_topk(acos, vec_id, $n)").as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))

  /** IVF (inverted-file) ANN top-k: deterministic seed centroids
    * (hash-ranked corpus vectors), Lloyd refinement via relational
    * aggregation (posexplode → per-dimension mean → re-assemble), then
    * probe: each query searches only the `nProbe` nearest centroid
    * lists, exact-reranked with graft_dot. The 100 TB shape: assignment
    * is a narrow map ([[assignTo]]), list probing replaces the full
    * scan with O(corpus·nProbe/nCentroids) candidates, and the final
    * rank is a bounded graft_topk partial aggregate. Trains the
    * [[ivfIndex]] pair and serves it through [[embedIvfTopKFromIndex]]. */
  def embedIvfTopK(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 16, lloydIters: Int = 2, nProbe: Int = 4,
      trainFactor: Int = 64): DataFrame = {
    val (assign, cents) = ivfIndex(emb, nCentroids, lloydIters, trainFactor)
    embedIvfTopKFromIndex(assign, cents, emb, nQueries, k, nProbe)
  }

  /** [[embedIvfTopK]] with BOTH persisted artifacts supplied by the
    * caller — the serving shape: the fp corpus joins its STORED list
    * assignment on vec_id (co-keyed — at scale the corpus and its
    * posting lists bucket on the same key and the join is
    * Exchange-free), queries probe the broadcast centroid table, and
    * no Lloyd pass or re-assignment appears in the plan. Bit-equal to
    * the inline form on the same artifacts (spec, across a parquet
    * round-trip). */
  def embedIvfTopKFromIndex(
      assign: DataFrame, cents: DataFrame, emb: DataFrame,
      nQueries: Int = 10, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val e = normalized(emb)
    val probes = probeLists(e, cents, nQueries, nProbe)
      .select("query_id", "qv", "cid")
    // no dedup needed: each vector carries exactly one cid and a
    // query's probe cids are distinct, so (query_id, vec_id) pairs are
    // unique by construction. Rank via the bounded graft_topk partial
    // aggregate (see embedTopK) — probed candidates never ride a
    // window sort.
    e.join(assign.select("vec_id", "cid"), "vec_id")
      .join(broadcast(probes), Seq("cid")).filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_r", round(expr("graft_dot(vn, qv)"), 6))
      .transform(topKByCos(_, k))
  }

  /** IVF × SQ composition — the two orthogonal ANN scale axes in one
    * plan (the FAISS IVF-SQ analog): IVF list probing cuts the
    * CANDIDATE count to ~corpus·nProbe/nCentroids, the int8 index cuts
    * the BYTES each surviving candidate costs to score, and the fp
    * corpus is touched only for the rerankFactor·k survivors per
    * query. One quantized artifact ([[sqIndex]]) keyed into the IVF
    * lists serves both this and the flat [[embedSqTopK]] — vn never
    * rides the probe join. Trains the [[ivfIndex]] pair and the int8
    * index, then serves them through [[embedIvfSqTopKFromIndex]]. */
  def embedIvfSqTopK(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 16, lloydIters: Int = 2, nProbe: Int = 4,
      rerankFactor: Int = 4, trainFactor: Int = 64): DataFrame = {
    val (assign, cents) = ivfIndex(emb, nCentroids, lloydIters, trainFactor)
    // ONE quantization pass serves both the posting lists and the
    // query-side projection (the index feeds two consumers, which
    // would otherwise re-scan and re-quantize the full corpus — on
    // the path whose point is fewer bytes scanned)
    embedIvfSqTopKFromIndex(assign, cents, sqIndex(emb).localCheckpoint(),
      emb, nQueries, k, nProbe, rerankFactor)
  }

  /** [[embedIvfSqTopK]] COMPOSED from the persisted artifacts — the
    * point of flat (non-residual) fine codes: the IVF posting lists
    * (assign, cents from [[ivfIndex]]) and the int8 index
    * ([[sqIndex]]) are INDEPENDENT artifacts, so the composition joins
    * them on vec_id at serve time with zero retraining or
    * re-quantization; the fp corpus serves only queries and the rerank
    * pool. Bit-equal to the inline form on same-parameter artifacts
    * (spec, across a parquet round-trip). */
  def embedIvfSqTopKFromIndex(
      assign: DataFrame, cents: DataFrame, sqIdx: DataFrame,
      emb: DataFrame, nQueries: Int = 10, k: Int = 5, nProbe: Int = 4,
      rerankFactor: Int = 4): DataFrame = {
    val e = normalized(emb)
    val lists = sqIdx.join(assign.select("vec_id", "cid"), "vec_id")
    val qSq = sqIdx.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("scale").as("qscale"), col("norm").as("sqn"))
    val probes = probeLists(e, cents, nQueries, nProbe)
      .select("query_id", "cid")
      .join(qSq, "query_id")
    val survivors = survivorPool(
      lists.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("acos", round(
          expr("graft_dot(cast(qv as array<double>), cast(qqv as array<double>))") *
            col("scale") * col("qscale") / (col("norm") * col("sqn")), 6)),
      rerankFactor * k)
    exactRerank(survivors, e, nQueries, k)
  }

  /** (vec_id, sub, svec): the normalized vector split into m
    * contiguous subvectors — the PQ decomposition. dim must be
    * divisible by m (the FAISS precondition): slice would silently
    * drop a ragged tail and every score would underweight those
    * coordinates, so the split FAILS LOUDLY per row via raise_error
    * inside the split expression (a pruning-proof, negligible codegen
    * branch — a detached check column would be optimized away). */
  private def pqSubvectors(e: DataFrame, m: Int): DataFrame =
    e.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), " +
          s"s -> IF(size(vn) % $m = 0, " +
          s"slice(vn, s * (size(vn) div $m) + 1, size(vn) div $m), " +
          s"raise_error('PQ requires dim divisible by m=$m')))"))
      .as(Seq("sub", "svec")))

  /** Nearest per-subspace centroid, L2 argmin as a NARROW map: each
    * subspace's centroids ride as one broadcast cid-ascending array
    * (grouped by sub) and every subvector folds to its argmin — the
    * [[assignTo]] pattern per subspace. Ties pick the smallest cid. */
  private def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    val bySub = cents.groupBy("sub")
      .agg(expr("array_sort(collect_list(struct(cid, cvec)))").as("cents"))
    subs.join(broadcast(bySub), "sub")
      .withColumn("d2s", expr("transform(cents, c -> " +
        "graft_dot(svec, svec) - 2 * graft_dot(svec, c.cvec) + graft_dot(c.cvec, c.cvec))"))
      .withColumn("dmin", expr("array_min(d2s)"))
      .withColumn("cid",
        expr("element_at(cents, CAST(array_position(d2s, dmin) AS INT)).cid"))
      .select("vec_id", "sub", "svec", "cid")
  }

  /** Per-subspace PQ codebooks: [[ivfModel]]'s deterministic
    * hash-rank-sample Lloyd, keyed by (sub, cid) so all m subspaces
    * train through ONE aggregation per pass (not m sequential
    * k-means). L2 objective (the PQ standard even for inner-product
    * scoring, FAISS ProductQuantizer semantics); sub-centroids are NOT
    * re-normalized — they approximate coordinates, not directions. */
  private def pqModel(
      e: DataFrame, m: Int, nCodes: Int, lloydIters: Int,
      trainFactor: Int): DataFrame = {
    require(trainFactor >= 1, "trainFactor must be >= 1")
    // codes are 1-based tinyints: cid 128+ would wrap negative in the
    // cast and graft_pq_adc would NULL every affected score — the
    // corpus would silently vanish from results. FAISS's 256-code
    // configuration needs a smallint code column; until then, reject.
    require(nCodes >= 1 && nCodes <= 127,
      s"nCodes must be in [1, 127] (1-based tinyint codes), got $nCodes")
    val train = ivfTrainingSample(e, nCodes, trainFactor).localCheckpoint()
    val trainSubs = pqSubvectors(train, m)
    var cents = pqSubvectors(
        train.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nCodes), m)
      .select(col("sub"),
        row_number().over(Window.partitionBy("sub").orderBy("vec_id")).as("cid"),
        col("svec").as("cvec"))
    for (_ <- 1 to lloydIters) {
      cents = pqAssign(trainSubs, cents)
        .select(col("sub"), col("cid"), posexplode(col("svec")).as(Seq("pos", "x")))
        .groupBy("sub", "cid", "pos").agg(avg("x").as("mx"))
        .groupBy("sub", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)").as("cvec"))
        .localCheckpoint()
    }
    // contiguous 1..n cids per subspace even if Lloyd dropped a
    // centroid (empty assignment set): codes index ADC LUT rows by
    // cid, so a gap would misalign every lookup after it. Bounded
    // window: ≤ nCodes rows per sub.
    cents.select(col("sub"),
      row_number().over(Window.partitionBy("sub").orderBy("cid")).as("cid"),
      col("cvec"))
  }

  /** Per-query ADC lookup table: lut[s] is sub s's cid-ascending
    * partial dots. Row order mirrors the code layout by construction —
    * cids are contiguous (pqModel renumbers), so code c indexes
    * straight into position c−1 of its sub's row. queries × m × nCodes
    * values: tiny, built relationally, broadcast by the caller. */
  private def pqLut(
      e: DataFrame, m: Int, cents: DataFrame, nQueries: Int): DataFrame =
    pqSubvectors(e.filter(col("vec_id") < nQueries), m)
      .select(col("vec_id").as("query_id"), col("sub"), col("svec").as("qsvec"))
      .join(cents, "sub")
      .withColumn("partial", expr("graft_dot(qsvec, cvec)"))
      .groupBy("query_id", "sub")
      .agg(expr("transform(array_sort(collect_list(struct(cid, partial))), " +
        "s -> s.partial)").as("lrow"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, lrow))), " +
        "s -> s.lrow)").as("lut"))

  /** vec_id + the m sub-ordered tinyint codes — the packed scan form
    * shared by [[pqIndex]] and the residual [[embedIvfPqTopK]] layout. */
  private def pqEncode(e: DataFrame, m: Int, cents: DataFrame): DataFrame =
    pqAssign(pqSubvectors(e, m), cents)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, cid))), " +
        "s -> cast(s.cid as tinyint))").as("codes"))

  /** The packed PQ artifact: vec_id + m tinyint codes — 64-dim fp32
    * collapses to 8 bytes of codes (~32× smaller than the corpus; the
    * compression ratio is spec-asserted against real parquet bytes).
    * Persist through Sinks; [[embedPqTopKFromIndex]] scores from the
    * [[pqIndex]] pair it is the first half of. */
  def pqCodes(
      emb: DataFrame, m: Int = 8, nCodes: Int = 16,
      lloydIters: Int = 2, trainFactor: Int = 64): DataFrame =
    pqIndex(emb, m, nCodes, lloydIters, trainFactor)._1.orderBy("vec_id")

  /** Train ONCE, return (codes, codebooks) — the artifact pair
    * [[embedPqTopKFromIndex]] serves from after a parquet round-trip.
    * One call guarantees the codes were encoded against exactly the
    * codebooks returned (two separate trainings could not rely on
    * bit-identical floating-point means). */
  def pqIndex(
      emb: DataFrame, m: Int = 8, nCodes: Int = 16,
      lloydIters: Int = 2, trainFactor: Int = 64): (DataFrame, DataFrame) = {
    val e = normalized(emb)
    val cents = pqModel(e, m, nCodes, lloydIters, trainFactor)
    (pqEncode(e, m, cents), cents)
  }

  /** Product-quantization ANN top-k (Jégou et al. 2011; the FAISS
    * IndexPQ pattern): per-subspace codebooks → m-code corpus → ADC
    * scoring — approx cos(q, x) = Σ_s dot(q_s, cvec[s][code_s(x)]).
    *
    * ADC runs through the native `graft_pq_adc` codegen kernel: the
    * per-query lookup table (m × nCodes partial dots, assembled
    * relationally — tiny) rides a broadcast against the packed
    * m-tinyint code scan, each candidate scores with one table-walk
    * inside whole-stage codegen, and the ONLY shuffle after the
    * broadcast is graft_topk's bounded partial aggregate (k·partitions
    * rows per query — never one row per scored (query, vector) pair,
    * which is corpus-sized). At 100 TB the scored pass reads the
    * ~32×-smaller code artifact; no lambda or UDF touches the hot
    * path. Trains the [[pqIndex]] pair and serves it through
    * [[embedPqTopKFromIndex]]. */
  def embedPqTopK(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      m: Int = 8, nCodes: Int = 16, lloydIters: Int = 2,
      rerankFactor: Int = 8, trainFactor: Int = 64): DataFrame = {
    val (codes, cents) = pqIndex(emb, m, nCodes, lloydIters, trainFactor)
    embedPqTopKFromIndex(codes, cents, emb, nQueries, k, m, rerankFactor)
  }

  /** [[embedPqTopK]] with BOTH persisted artifacts supplied by the
    * caller — the production shape: the scoring pass reads the
    * ~32×-smaller code parquet and the tiny codebook parquet instead
    * of retraining/re-encoding per query; the fp corpus serves only
    * queries and the rerank pool. `m` must match the codes' width
    * (a mismatch NULLs every ADC score — graft_pq_adc fails loudly on
    * ragged inputs). Bit-equal to the inline form across the parquet
    * round-trip (spec). */
  def embedPqTopKFromIndex(
      codes: DataFrame, cents: DataFrame, emb: DataFrame,
      nQueries: Int = 10, k: Int = 5, m: Int = 8,
      rerankFactor: Int = 8): DataFrame =
    pqSearch(codes, cents, normalized(emb), nQueries, k, m, rerankFactor)

  /** (vec_id, embedding) with the vectors unit-normalized — the frame
    * [[Opq.opqTrain]] trains on and [[opqRotate]] rotates: for a
    * cosine index, the variance structure OPQ balances must be the
    * quantized (normalized) vectors', not the raw magnitudes'. */
  private def opqNormalized(emb: DataFrame): DataFrame =
    normalized(emb).withColumnRenamed("vn", "embedding")

  /** The corpus carried into rotated coordinates: (vec_id, embedding)
    * where embedding = R·(x/‖x‖). A NARROW map — one codegen graft_dot
    * per output dimension, the rotation rows riding the plan as
    * literals (the [[Pca.pcaProject]] posture). The rotation is
    * orthonormal, so dot products and norms are preserved: downstream
    * cosine scores equal the original-space scores and the exact
    * rerank needs no inverse transform. */
  def opqRotate(emb: DataFrame, model: Opq.OpqModel): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    opqNormalized(emb)
      .select(col("vec_id"),
        Opq.rotateCol(col("embedding"), model).as("embedding"))
  }

  /** OPQ × PQ (Ge et al. 2013; FAISS `OPQMatrix,PQm`): learn the
    * variance-balancing rotation, carry the corpus into rotated
    * coordinates, then run the UNCHANGED PQ pipeline there — training,
    * ADC scoring, and exact rerank all compose because the rotation
    * preserves dot products. Flat PQ splits raw contiguous
    * coordinates, so with anisotropic embeddings one subspace hoards
    * the variance while others quantize noise; the rotation spends the
    * same (m × nCodes) code budget where the structure is (recall@k ≥
    * flat PQ at equal parameters on an anisotropic corpus —
    * spec-asserted; on isotropic data the two coincide, which is why
    * flat stays the default). */
  def embedOpqPqTopK(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      m: Int = 8, nCodes: Int = 16, lloydIters: Int = 2,
      rerankFactor: Int = 8, trainFactor: Int = 64,
      maxTrain: Int = 4096, outDim: Int = -1): DataFrame = {
    val model = Opq.opqTrain(opqNormalized(emb), m, maxTrain, outDim)
    val rotated = opqRotate(emb, model)
    if (outDim <= 0)
      // rotate once: the rotated corpus feeds training, encoding, the
      // LUT and the rerank, and each would re-run the d-wide rotation
      embedPqTopK(rotated.localCheckpoint(), nQueries, k, m, nCodes,
        lloydIters, rerankFactor, trainFactor)
    else {
      // FAISS OPQ<M>_<outdim>: rotate AND project before quantizing —
      // the PQ stage sees outDim-wide input at the same code budget.
      // The LUT/ADC pass runs in reduced space (matching the codes);
      // the survivor pool reranks in ORIGINAL space so the output
      // keeps the true-cosine contract every other family honors
      // (reduced-space cosines drop the tail eigenvalue mass).
      val eOrig = normalized(emb)
      val eRed = normalized(rotated)
        .localCheckpoint() // feeds training, encoding, and the LUT
      val cents = pqModel(eRed, m, nCodes, lloydIters, trainFactor)
      pqSearch(pqEncode(eRed, m, cents), cents, eRed, nQueries, k, m,
        rerankFactor, rerankE = Some(eOrig))
    }
  }

  /** Train ONCE, return (codes, codebooks, rotation artifact) — the
    * triple [[embedOpqPqTopKFromIndex]] serves from after a parquet
    * round-trip. The codes/codebooks live in ROTATED space; the
    * rotation artifact ([[Opq.opqModelFrame]], ≤ d rows) is what lets
    * a later serving call carry queries into that space. */
  def opqPqIndex(
      emb: DataFrame, m: Int = 8, nCodes: Int = 16,
      lloydIters: Int = 2, trainFactor: Int = 64,
      maxTrain: Int = 4096): (DataFrame, DataFrame, DataFrame) = {
    val model = Opq.opqTrain(opqNormalized(emb), m, maxTrain)
    val (codes, cents) =
      pqIndex(opqRotate(emb, model), m, nCodes, lloydIters, trainFactor)
    (codes, cents, Opq.opqModelFrame(emb.sparkSession, model))
  }

  /** [[embedOpqPqTopK]] served entirely from the persisted triple:
    * rotate the fp corpus with the artifact rotation (narrow map),
    * then the standard ADC scan over the rotated-space codes. The fp
    * corpus is read only for queries and the rerank pool, exactly as
    * in the flat indexed path. Bit-equal to the inline form across the
    * parquet round-trip (spec). */
  def embedOpqPqTopKFromIndex(
      codes: DataFrame, cents: DataFrame, rot: DataFrame, emb: DataFrame,
      nQueries: Int = 10, k: Int = 5, m: Int = 8,
      rerankFactor: Int = 8): DataFrame =
    embedPqTopKFromIndex(codes, cents,
      opqRotate(emb, Opq.opqModelFromFrame(rot)),
      nQueries, k, m, rerankFactor)

  /** Shared exact-rerank tail: join the bounded survivor pool back to
    * the fp corpus, score against the broadcast queries, keep top-k. */
  private def exactRerank(
      survivors: DataFrame, e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vn").as("fqv"))
    survivors.join(e, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos_r", round(expr("graft_dot(vn, fqv)"), 6))
      .transform(topKByCos(_, k))
  }

  /** Shared PQ search tail: broadcast per-query LUT against the code
    * scan through `graft_pq_adc`, bounded graft_topk pool, exact fp
    * rerank. `rerankE` overrides the rerank frame — a
    * dimension-reduced index LUTs in reduced space but must rerank in
    * ORIGINAL space (reduced cosines approximate; the output contract
    * is true cosines). */
  private def pqSearch(
      codes: DataFrame, cents: DataFrame, e: DataFrame,
      nQueries: Int, k: Int, m: Int, rerankFactor: Int,
      rerankE: Option[DataFrame] = None): DataFrame = {
    val lut = pqLut(e, m, cents, nQueries)
    val survivors = survivorPool(
      codes.join(broadcast(lut), col("vec_id") =!= col("query_id"))
        .withColumn("acos", round(expr("graft_pq_adc(codes, lut)"), 6)),
      rerankFactor * k)
    exactRerank(survivors, rerankE.getOrElse(e), nQueries, k)
  }

  /** IVF × PQ — the flagship billion-scale configuration (FAISS
    * IndexIVFPQ's shape): coarse centroid lists bound the CANDIDATE
    * set to ~corpus·nProbe/nCentroids, each probed candidate scores as
    * m bytes through the native `graft_pq_adc` kernel, and the fp
    * corpus is read only for the rerankFactor·k survivors per query.
    *
    * Code layout (flat, the default): codes quantize the normalized
    * VECTORS — ONE artifact shared with [[embedPqTopK]]'s flat path;
    * the exact rerank absorbs the (modest) accuracy gap.
    *
    * `residual = true` opts into FAISS IndexIVFPQ's by_residual
    * layout: codes quantize r = vn − cvec(list), whose dynamic range
    * is far smaller than the vectors', so equal (m, nCodes) spends its
    * bits on finer structure (recall@k ≥ the flat codes at equal
    * parameters — spec-asserted on the planted corpus). The classic
    * objection — per-probe LUT rebuilds — does not apply under the DOT
    * metric: score = dot(q, c + r̂) = dot(q, c) + dot(q, r̂), where
    * dot(q, c) is EXACT from the probe join's own centroid similarity
    * and dot(q, r̂) reads the ONE list-independent LUT of q against
    * the shared residual codebooks. The cost is a fork of the code
    * artifact away from the flat family's — why flat stays default. */
  def embedIvfPqTopK(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 16, lloydIters: Int = 2, nProbe: Int = 4,
      m: Int = 8, nCodes: Int = 16, rerankFactor: Int = 8,
      trainFactor: Int = 64, residual: Boolean = false): DataFrame =
    if (!residual) {
      val (assign, coarse) = ivfIndex(emb, nCentroids, lloydIters, trainFactor)
      val (codes, cents) = pqIndex(emb, m, nCodes, lloydIters, trainFactor)
      embedIvfPqTopKFromIndex(assign, coarse, codes, cents, emb,
        nQueries, k, nProbe, m, rerankFactor)
    } else {
      val (e, coarse) = ivfModel(emb, nCentroids, lloydIters, trainFactor)
      // ONE assignment pass feeds both the posting-list ids and the
      // residual construction — checkpointed because two consumers
      // branch from it
      val assigned = assignTo(e, coarse).select("vec_id", "vn", "cid")
        .localCheckpoint()
      // the per-list residuals (localCheckpoint: feeds PQ training AND
      // encoding)
      val enc = assigned
        .join(broadcast(coarse), "cid")
        .select(col("vec_id"), expr("zip_with(vn, cvec, (a, b) -> a - b)").as("vn"))
        .localCheckpoint()
      val cents = pqModel(enc, m, nCodes, lloydIters, trainFactor)
      ivfPqSearch(pqEncode(enc, m, cents), assigned, coarse, cents, e,
        nQueries, k, nProbe, m, rerankFactor, residual = true)
    }

  /** [[embedIvfPqTopK]] (flat codes) COMPOSED from the persisted
    * artifacts: IVF posting lists ([[ivfIndex]]) joined with the
    * SHARED flat PQ code artifact ([[pqIndex]] — the same codes the
    * flat path serves) on vec_id, scored through `graft_pq_adc`
    * against the per-query LUT from the persisted codebooks. Zero
    * retraining/re-encoding at serve time; this is why flat codes are
    * the default layout (residual codes fork the artifact per coarse
    * list and cannot compose this way). Bit-equal to the inline flat
    * form on same-parameter artifacts (spec, across a parquet
    * round-trip). */
  def embedIvfPqTopKFromIndex(
      assign: DataFrame, coarse: DataFrame, codes: DataFrame,
      cents: DataFrame, emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nProbe: Int = 4, m: Int = 8, rerankFactor: Int = 8): DataFrame =
    ivfPqSearch(codes, assign, coarse, cents, normalized(emb),
      nQueries, k, nProbe, m, rerankFactor, residual = false)

  /** Shared IVF-PQ search: the (vec_id, codes) rows keyed into their
    * (vec_id, cid) posting lists, probed by each query's `nProbe`
    * nearest coarse lists, scored through `graft_pq_adc` against the
    * query's LUT (slim int8 lists: vn rides neither the probe join nor
    * the scoring scan), pooled to rerankFactor·k survivors and exactly
    * reranked. `residual` codes quantize vn − cvec(list), so the
    * probe's exact query-to-centroid dot is added as the score's
    * coarse term. */
  private def ivfPqSearch(
      codes: DataFrame, assign: DataFrame, coarse: DataFrame,
      cents: DataFrame, e: DataFrame, nQueries: Int, k: Int, nProbe: Int,
      m: Int, rerankFactor: Int, residual: Boolean): DataFrame = {
    val lists = codes.join(assign.select("vec_id", "cid"), "vec_id")
    val probes = probeLists(e, coarse, nQueries, nProbe)
      .select("query_id", "cid", "sim")
      .join(pqLut(e, m, cents, nQueries), "query_id")
    val adc = expr("graft_pq_adc(codes, lut)")
    val survivors = survivorPool(
      lists.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("acos", round(if (residual) col("sim") + adc else adc, 6)),
      rerankFactor * k)
    exactRerank(survivors, e, nQueries, k)
  }

  /** Multi-table bucketing: one row per (vector, table) with the
    * table's hyperplane-sign bucket, via the native codegen
    * `graft_lsh` (one coefficient-table pass per vector instead of
    * tables×planes×dim interpreted closure calls). Slim: ids and
    * buckets only — vectors are re-joined after candidate dedup. */
  private def bucketed(emb: DataFrame, planes: Int, tables: Int): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        posexplode(expr(s"graft_lsh(v, $planes, $tables)")).as(Seq("t", "bucket")))
  }

  /** Approximate top-k via multi-table LSH: `tables` independent
    * hyperplane hashings (seed-offset planes), candidates = union of
    * per-table bucket matches (equi-join on (table, bucket) — never a
    * corpus scan per query), exact-rerank with the native graft_dot.
    * The 100 TB shape: O(corpus·tables) bucketing once, per-query work
    * bounded by bucket occupancy; recall rises as 1-(1-p)^tables. */
  def embedLshTopK(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      planes: Int = 8, tables: Int = 4): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    // slim candidates: the (t, bucket) probe join and cross-table dedup
    // carry ids only; vectors join back once per surviving candidate
    val b = bucketed(emb, planes, tables)
    val qb = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("t").as("qt"), col("bucket").as("qbucket"))
    val candidates = b.join(broadcast(qb),
        col("t") === col("qt") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id") // union across tables
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    candidates
      .join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos_r", round(expr("graft_dot(v, qv)") / (col("norm") * col("qn")), 6))
      .transform(topKByCos(_, k))
  }

  /** Default inline builders for the ANN index families, overridable
    * per method via `impls` (the persisted-artifact serving hook the
    * meters share). */
  private def annBuilders(
      emb: DataFrame, nQueries: Int, k: Int,
      impls: Map[String, () => DataFrame]): Map[String, () => DataFrame] =
    Map(
      "lsh" -> (() => embedLshTopK(emb, nQueries, k)),
      "ivf" -> (() => embedIvfTopK(emb, nQueries, k)),
      "sq" -> (() => embedSqTopK(emb, nQueries, k)),
      "pq" -> (() => embedPqTopK(emb, nQueries, k)),
      "ivf_sq" -> (() => embedIvfSqTopK(emb, nQueries, k)),
      "ivf_pq" -> (() => embedIvfPqTopK(emb, nQueries, k)),
      "opq" -> (() => embedOpqPqTopK(emb, nQueries, k))) ++ impls

  /** ANN index-quality meter: recall@k of each approximate index family
    * against the exact cosine top-k on the SAME queries — the
    * pre-flight report an ANN rollout reads before trusting an index
    * parameterization (the FAISS-bench recall table, relationally).
    * One row per method: mean and min per-query recall, query/k config.
    *
    * The exact baseline is computed ONCE (localCheckpoint) and every
    * method's result joins against it on slim (query_id, neighbor_id)
    * pairs; the denominator is each query's ACTUAL exact-neighbor count
    * (≤ k on small corpora), so recall is well-defined at any scale.
    * Methods absent a query entirely (an over-pruned LSH probe) still
    * contribute recall 0 rows via the method × query grid. Everything
    * here is deterministic, so the meter is reproducible run to run.
    *
    * `impls` overrides a method's default inline builder — the hook a
    * caller with PERSISTED index artifacts uses to meter the serving
    * paths (e.g. embedSqTopKFromIndex over the parquet int8 index)
    * instead of retraining per call; the indexed forms are spec-
    * asserted bit-equal to the inline forms, so the recall values are
    * identical, only the training cost disappears. */
  def annRecall(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      methods: Seq[String] = Seq("lsh", "ivf", "sq", "pq"),
      impls: Map[String, () => DataFrame] = Map.empty): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val known = annBuilders(emb, nQueries, k, impls)
    val unknown = methods.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown ANN methods: ${unknown.mkString(", ")}")
    val exact = embedTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint() // one baseline pass, reused per method
    val approx = methods.map { name =>
      known(name)().select(lit(name).as("method"),
        col("query_id"), col("neighbor_id"))
    }.reduce(_ unionAll _)
    val perQuery = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .crossJoin(methods.toDF("method"))
      .join(approx.join(exact, Seq("query_id", "neighbor_id"))
          .groupBy("method", "query_id").agg(count(lit(1)).as("n_hit")),
        Seq("method", "query_id"), "left")
      .withColumn("recall",
        coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
    perQuery.groupBy("method")
      .agg(count(lit(1)).as("n_queries"),
        round(round(sum("recall"), 6) / count(lit(1)), 4).as("mean_recall"),
        round(min("recall"), 4).as("min_recall"))
      .withColumn("k", lit(k))
      .orderBy("method")
  }

  /** Ranking-quality report over the ANN families: MRR of the true
    * nearest neighbor and NDCG@k of each approximate ranking against
    * the exact cosine ranking — the report an index choice is actually
    * made on ([[annRecall]] says how many of the right neighbors come
    * back; these say whether they come back in the right ORDER, and
    * whether the single most important one comes back at all).
    *
    * Exact-integer discipline (the pageRank/dsirWeights posture): the
    * 1/log2(rank+1) position discounts are precomputed driver-side as
    * half-up micro literals (element_at on a k-long literal array), so
    * every DCG term is gain × disc_micro — an exact integer — and the
    * per-query DCG / IDCG / reciprocal-rank values are exact integer
    * sums, bit-identical across partition counts and aggregation
    * orders. Gains are graded by exact rank (`k+1-exact_rank`); IDCG
    * comes from the exact frame itself, so NDCG stays well-defined
    * when a query has fewer than k exact neighbors; MRR scores the
    * exact rank-1 neighbor's reciprocal approximate rank, 0 when the
    * method misses it entirely. Same `impls` serving hook as
    * [[annRecall]]. One row per method:
    * (method, n_queries, mean_mrr, mean_ndcg, min_ndcg, k). */
  def annMetrics(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      methods: Seq[String] = Seq("lsh", "ivf", "sq", "pq"),
      impls: Map[String, () => DataFrame] = Map.empty): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val known = annBuilders(emb, nQueries, k, impls)
    val unknown = methods.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown ANN methods: ${unknown.mkString(", ")}")
    val discMicro: Seq[Long] = (1 to k).map { j =>
      java.math.BigDecimal.valueOf(1.0 / (math.log(j + 1.0) / math.log(2.0)))
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
    }
    val disc = typedlit(discMicro)
    val exact = embedTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("exact_rank"))
      .localCheckpoint() // one baseline pass, reused per method
    val idcg = exact
      .groupBy("query_id")
      .agg(sum((lit(k + 1) - col("exact_rank"))
        * element_at(disc, col("exact_rank"))).as("idcg_micro"))
    val approx = methods.map { name =>
      known(name)().select(lit(name).as("method"),
        col("query_id"), col("neighbor_id"), col("rank"))
    }.reduce(_ unionAll _)
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("method", "query_id")
      .agg(
        sum((lit(k + 1) - col("exact_rank")) * element_at(disc, col("rank")))
          .as("dcg_micro"),
        // half-up micro of 1/approx_rank of the exact rank-1 neighbor
        max(when(col("exact_rank") === 1,
          expr("(2000000 + rank) div (2 * rank)")).otherwise(lit(0L)))
          .as("rr_micro"))
    val perQuery = idcg.crossJoin(methods.toDF("method"))
      .join(hits, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("rr_micro"), lit(0L)).as("rr_micro"),
        round(coalesce(col("dcg_micro"), lit(0L)).cast("double")
          / col("idcg_micro"), 6).as("ndcg"))
    perQuery.groupBy("method")
      .agg(count(lit(1)).as("n_queries"),
        round(sum("rr_micro").cast("double") / (count(lit(1)) * 1e6), 4)
          .as("mean_mrr"),
        round(round(sum("ndcg"), 6) / count(lit(1)), 4).as("mean_ndcg"),
        round(min("ndcg"), 4).as("min_ndcg"))
      .withColumn("k", lit(k))
      .orderBy("method")
  }

  /** IVF tuning curve: recall@k AND probed-candidate cost per nProbe
    * setting — the sweep an index rollout actually reads to pick
    * nProbe (the FAISS-bench recall/speed tradeoff table,
    * relationally; [[annRecall]] meters one parameterization, this
    * walks the knob). The model trains ONCE ([[ivfIndex]]) and every
    * sweep point serves from the same artifacts — at 100 TB the sweep
    * costs |probes| bounded probe passes, never |probes| trainings.
    *
    * Cost is reported exactly: `candidates_scanned` counts the posting
    * rows each query's probed lists would score (self excluded) —
    * derived from the assignment's list sizes and the ONE shared
    * centroid ranking, not a re-scan — and `candidate_frac` normalizes
    * by the brute-force denominator nQueries·(N−1). Recall follows
    * [[annRecall]]'s arithmetic against the exact baseline. One row
    * per sweep point; the driver entry is rows-only (the trained
    * centroids are float sums with engine-unfixed partition order),
    * with the sweep arithmetic pinned against a local recompute from
    * the proven probe-path outputs in spec. */
  def ivfTuning(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 16, lloydIters: Int = 2,
      probes: Seq[Int] = Seq(1, 2, 4, 8),
      trainFactor: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(probes.nonEmpty && probes == probes.distinct.sorted,
      s"probes must be distinct and ascending, got $probes")
    require(probes.forall(p => p >= 1 && p <= nCentroids),
      s"every probe count must be in [1, $nCentroids], got $probes")
    graft.functions.VectorFunctions.register(spark)
    val (assignRaw, centsRaw) = ivfIndex(emb, nCentroids, lloydIters, trainFactor)
    val assign = assignRaw.localCheckpoint() // one training, |probes| consumers
    val cents = centsRaw.localCheckpoint()
    val exact = embedTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val probesDf = probes.toDF("n_probe")
    // centroid ranking per query is shared by all sweep points: rank
    // once to max(probes), a point keeps rn <= its n_probe
    val ranked = probeLists(normalized(emb), cents, nQueries, probes.max)
      .select("query_id", "cid", "rn")
    val listSizes = assign.groupBy("cid").agg(count(lit(1)).as("sz"))
    val own = assign.select(col("vec_id").as("query_id"), col("cid"),
      lit(1L).as("self"))
    val cost = ranked.join(probesDf, col("rn") <= col("n_probe"))
      .join(listSizes, Seq("cid"))
      .join(own, Seq("query_id", "cid"), "left")
      .groupBy("n_probe")
      .agg(sum(col("sz") - coalesce(col("self"), lit(0L)))
        .as("candidates_scanned"))
    val approx = probes.map { p =>
      embedIvfTopKFromIndex(assign, cents, emb, nQueries, k, p)
        .select(lit(p).as("n_probe"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionAll _)
    val perQuery = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .crossJoin(probesDf)
      .join(approx.join(exact, Seq("query_id", "neighbor_id"))
          .groupBy("n_probe", "query_id").agg(count(lit(1)).as("n_hit")),
        Seq("n_probe", "query_id"), "left")
      .withColumn("recall",
        coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
    val nTotal = emb.agg(count(lit(1)).as("n_corpus"))
    perQuery.groupBy("n_probe")
      .agg(count(lit(1)).as("n_queries"),
        round(round(sum("recall"), 6) / count(lit(1)), 4).as("mean_recall"),
        round(min("recall"), 4).as("min_recall"))
      .join(cost, Seq("n_probe"))
      .crossJoin(broadcast(nTotal))
      .withColumn("candidate_frac",
        round(col("candidates_scanned").cast("double")
          / (col("n_queries") * (col("n_corpus") - 1)), 4))
      .select(col("n_probe"), col("n_queries"), col("mean_recall"),
        col("min_recall"), col("candidates_scanned"), col("candidate_frac"))
      .withColumn("k", lit(k))
      .orderBy("n_probe")
  }

  /** Batch-vs-index semantic near-duplicate pairs over a PERSISTED
    * int8 index in [[sqIndex]] layout (vec_id, qv, scale, norm) — the
    * embedding-space twin of Dedup.minhashPairsAgainst, for the
    * streaming ingest gate. Hyperplane buckets derive from the
    * DEQUANTIZED stored vector on BOTH sides (a narrow codegen pass
    * over the index scan; nothing beyond the sqIndex columns is
    * stored), so batch and corpus hash identically up to int8
    * perturbation and the multi-table union absorbs boundary flips.
    * The new side is a micro-batch by definition: its slim bucket keys
    * and quantized rows BROADCAST against the index, which is scanned
    * once and never shuffled. `est_cos` is the int8 approximate cosine
    * (coordinate error ~1e-2; callers pick thresholds with that margin
    * in mind — the spec plants dups and non-dups clear of the band).
    * Persistence contract: no internal cache — callers own `idx`. */
  def sqNearDupAgainst(
      newEmb: DataFrame, idx: DataFrame, threshold: Double = 0.9,
      planes: Int = 12, tables: Int = 4,
      bucketCap: Long = Long.MaxValue): DataFrame = {
    graft.functions.VectorFunctions.register(newEmb.sparkSession)
    def bucketsOf(df: DataFrame): DataFrame = df
      .withColumn("dv", expr("transform(qv, c -> cast(c as double) * scale)"))
      .select(col("vec_id"),
        posexplode(expr(s"graft_lsh(dv, $planes, $tables)")).as(Seq("t", "bucket")))
    // quantize the batch exactly like the index; localCheckpoint (the
    // persistence contract's eager, ContextCleaner-released form)
    // because both the bucket build and the score join read it — a
    // micro-batch is small, recomputation would just double the pass
    val newIdx = sqIndex(newEmb).localCheckpoint()
    val bNew = bucketsOf(newIdx)
      .select(col("vec_id").as("vec_new"), col("t"), col("bucket"))
    val bIdx = Dedup.capBuckets(bucketsOf(idx), Seq("t", "bucket"), bucketCap)
    val candidates = bIdx.join(broadcast(bNew), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("vec_new"))
      .select(col("vec_new"), col("vec_id").as("vec_corpus"))
      .dropDuplicates("vec_new", "vec_corpus") // union across tables
    val n = newIdx.select(col("vec_id").as("vec_new"), col("qv").as("qa"),
      col("scale").as("sa"), col("norm").as("na"))
    val c = idx.select(col("vec_id").as("vec_corpus"), col("qv").as("qb"),
      col("scale").as("sb"), col("norm").as("nb"))
    candidates.join(broadcast(n), "vec_new").join(c, "vec_corpus")
      .withColumn("est_cos", round(
        expr("graft_dot(cast(qa as array<double>), cast(qb as array<double>))") *
          col("sa") * col("sb") / (col("na") * col("nb")), 6))
      .filter(col("est_cos") >= threshold)
      .select(col("vec_new"), col("vec_corpus"), col("est_cos"))
      .orderBy("vec_new", "vec_corpus")
  }

  /** Per-vector symmetric int8 scalar quantization of the corpus — the
    * compact ANN index (the FAISS IndexScalarQuantizer QT_8bit
    * pattern, re-expressed relationally): `scale = max|x|/127`,
    * `qv[i] = round(x[i]/scale)` as tinyint, plus the EXACT fp norm so
    * the rerank never re-derives it. The stored index is ~4× smaller
    * than the fp32 corpus — at 100 TB of embeddings the approximate
    * scoring pass scans ~25 TB, and only the rerank pool's fp vectors
    * are read again. Persist through Sinks and read back for the
    * production shape; [[embedSqTopK]] builds it inline. */
  def sqIndex(emb: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr("sqrt(graft_dot(v, v))"))
      // 1e-30 floor: an all-zero vector quantizes to zeros instead of
      // dividing by zero (its cosine is NULL-excluded downstream anyway)
      .withColumn("scale",
        greatest(expr("array_max(transform(v, x -> abs(x)))"), lit(1e-30)) / 127.0)
      .select(col("vec_id"),
        expr("transform(v, x -> cast(round(x / scale) as tinyint))").as("qv"),
        col("scale"), col("norm"))
  }

  /** Scalar-quantized ANN top-k: approximate scoring over the int8
    * index, exact fp rerank of the survivors.
    *
    * approx cosine = scale_c·scale_q·Σ(qc_i·qq_i) / (norm_c·norm_q) —
    * the int8 dot is exact in double (|q| ≤ 127), so the only error is
    * coordinate quantization; recall vs the exact baseline is
    * spec-asserted. Both passes are bounded: pass 1 scans the slim
    * index once against the broadcast query set and keeps
    * rerankFactor·k ids per query through the bounded graft_topk
    * partial aggregate (map-side top-k, same shape as [[embedTopK]]);
    * pass 2 joins only those ids back to fp vectors. Unlike the LSH and
    * IVF paths this still reads the whole (quantized) corpus per query
    * batch — it is the memory/IO-reduction axis, composable with IVF's
    * candidate-reduction axis. */
  def embedSqTopK(
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      rerankFactor: Int = 4): DataFrame =
    embedSqTopKFromIndex(sqIndex(emb), emb, nQueries, k, rerankFactor)

  /** [[embedSqTopK]] with the int8 index SUPPLIED by the caller — the
    * production shape: at 100 TB the scoring pass reads the persisted
    * ~4×-smaller [[sqIndex]] artifact instead of re-quantizing the fp
    * corpus per query, and the fp corpus is touched only for the
    * rerank pool. Bit-equal to the inline form by construction
    * (delegation; parquet round-trip equality asserted in spec). */
  def embedSqTopKFromIndex(
      idx: DataFrame, emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      rerankFactor: Int = 4): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val qi = idx.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("scale").as("qscale"), col("norm").as("qn"))
    val survivors = survivorPool(
      idx.join(broadcast(qi), col("vec_id") =!= col("query_id"))
        .withColumn("acos", round(
          expr("graft_dot(cast(qv as array<double>), cast(qqv as array<double>))") *
            col("scale") * col("qscale") / (col("norm") * col("qn")), 6)),
      rerankFactor * k)
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("fqv"), col("norm").as("fqn"))
    survivors
      .join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos_r", round(expr("graft_dot(v, fqv)") / (col("norm") * col("fqn")), 6))
      .transform(topKByCos(_, k))
  }
}
