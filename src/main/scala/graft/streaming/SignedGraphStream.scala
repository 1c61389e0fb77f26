package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Graph

/** REMOVAL-AWARE streaming graph maintenance — the [[DeltaLayout]]
  * discipline extended from grow-only edge deltas to SIGNED ones (the
  * reference's data model deletes rows: rabbitmq-to-postgres/app.py:98
  * declares ON DELETE CASCADE, and its upserts REPLACE rows — a store
  * delisting a product must shrink the served graph, not only grow
  * it). One harness carries every graph face, because the additive
  * split is identical for all of them:
  *
  *  - each micro-batch lands its canonical signed rows
  *    (a, b, op ∈ add|remove) under its batch_id partition —
  *    append-only, idempotent under retry (dynamic partition
  *    overwrite), with LOUD landing guards (unknown op, or one pair
  *    carrying both ops inside one batch, raises instead of landing
  *    an ambiguous delta);
  *  - the NET delta over the live partitions resolves per pair by
  *    LAST op in batch order (max_by over the bounded live rows): an
  *    edge added then removed nets to a removal, removed then
  *    re-added nets to an add — the [[graft.operators.Etl
  *    .snapshotDiff]] contract replayed against stream time;
  *  - SERVING folds (net adds, net removals) through the batch-side
  *    SIGNED operators ([[Graph.componentsSigned]] /
  *    [[Graph.corenessSigned]] / [[Graph.trianglesSigned]] /
  *    [[Graph.kTrussSigned]]): only delta-touched components
  *    re-contract/re-peel, untouched rows pass through verbatim
  *    behind the fail-loud artifact guard;
  *  - COMPACTION folds the net delta into every face present under
  *    the seed root ((edges, labels) always; coreness / triangles /
  *    truss when the face is seeded) under the standard watermark +
  *    crash-safe [[DeltaLayout.swapLive]] discipline — a batch
  *    committed mid-compact stays a live delta above the new
  *    watermark.
  *
  * The measured driver entry (q_stream_components_signed) seeds from
  * the PERSISTED prior artifact (yesterday's graph), streams the
  * signed delta toward TODAY'S graph (adds AND removals — the
  * delisted slice genuinely shrinks components), compacts mid-stream,
  * and serves — which must hash-match the SAME full-graph
  * reachability oracle as q_components_delete over
  * (prior − removals) ∪ adds: stream-maintained == full recompute
  * over the delisted graph, proven by the gate.
  *
  * An insert-only stream is the special case whose ops are all `add`,
  * so this machine also serves the insert-only entries
  * (q_stream_components, q_stream_coreness, q_stream_ktruss): they
  * stage today's graph minus the persisted prior (full ∖ prior),
  * tagged `add`, and must equal the full recompute over today's
  * graph (the q_components / q_coreness oracles; the truss is
  * rows-only, its stream == full-peel equality spec-asserted). */
object SignedGraphStream {

  /** Launch maintenance over a streaming signed edge frame
    * (src, dst, op): each batch canonicalizes ONLY its own rows and
    * lands them under its batch_id partition; batches at or below the
    * seed's compaction watermark are skipped (already folded in).
    * Landing is where ambiguity dies loudly: an op outside
    * {add, remove}, or one canonical pair carrying BOTH ops in a
    * single batch, raises — net resolution across batches is
    * well-defined (last op wins), inside a batch it is not. */
  def signedMaintain(
      newOps: DataFrame, seedRoot: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    DeltaLayout.maintain(newOps, seedRoot, checkpoint) { (batch, batchId) =>
      // ONE partial-combined aggregation lands the guarded rows
      // (guide §2.4): collect_set dedups ops per pair map-side and
      // a 2-element set IS the ambiguity — the previous
      // dropDuplicates + count + join-back shape paid three
      // exchanges per micro-batch for the same verdict.
      DeltaLayout.landBatch(batch
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"),
          when(col("op").isin("add", "remove"), col("op"))
            .otherwise(raise_error(concat(
              lit("signedMaintain: op must be add|remove, got "),
              col("op")))).as("op"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b")
        .agg(collect_set(col("op")).as("ops"))
        .select(col("a"), col("b"),
          when(size(col("ops")) > 1, raise_error(concat(
              lit("signedMaintain: pair ("), col("a").cast("string"),
              lit(","), col("b").cast("string"),
              lit(") carries both add AND remove in one batch"))))
            .otherwise(element_at(col("ops"), 1)).as("op")),
        batchId, deltaPath)
    }

  /** The live signed rows (a, b, op, batch_id): batches above the
    * seed's watermark and at or below `upTo`. A missing/partition-less
    * delta directory yields an empty frame in the seed edge schema. */
  private def liveOps(
      spark: SparkSession, seedRoot: String, deltaPath: String,
      upTo: Long): DataFrame = {
    val folded = DeltaLayout.foldedThrough(spark, seedRoot)
    if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath))
      spark.read.parquet(s"$seedRoot/edges").select(col("a"), col("b"))
        .withColumn("op", lit("add")).withColumn("batch_id", lit(0L))
        .limit(0)
    else
      spark.read.parquet(deltaPath)
        .filter(col("batch_id").cast("long") > folded &&
          col("batch_id").cast("long") <= upTo)
        .select(col("a"), col("b"), col("op"),
          col("batch_id").cast("long").as("batch_id"))
  }

  /** The NET (adds, removals) pair over the live delta partitions:
    * per canonical pair, the LAST op in batch order wins (max_by on
    * the bounded live rows — landing guarantees one op per pair per
    * batch, so the argmax is unique). Returned as canonical (a, b)
    * frames: landing canonicalized every pair and the grouping makes
    * them distinct. */
  private[streaming] def netDelta(
      spark: SparkSession, seedRoot: String, deltaPath: String,
      upTo: Long): (DataFrame, DataFrame) = {
    val net = liveOps(spark, seedRoot, deltaPath, upTo)
      .groupBy("a", "b").agg(expr("max_by(op, batch_id)").as("op"))
      .localCheckpoint()
    (net.filter(col("op") === "add").select("a", "b"),
      net.filter(col("op") === "remove").select("a", "b"))
  }

  /** The net delta over every live batch as raw (src, dst, w) frames —
    * the signed operators' input contract. */
  private def liveNetDelta(
      spark: SparkSession, seedRoot: String,
      deltaPath: String): (DataFrame, DataFrame) = {
    val (adds, removals) = netDelta(spark, seedRoot, deltaPath, Long.MaxValue)
    def raw(d: DataFrame) =
      d.select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
    (raw(adds), raw(removals))
  }

  /** Live component stats over (seed − net removals) ∪ net adds —
    * the [[Graph.components]] contract over everything the signed
    * stream has ingested so far. */
  def serveComponents(
      spark: SparkSession, seedRoot: String, deltaPath: String): DataFrame = {
    // EMPTY-DELTA FAST PATH (guide §2.4): no live batch → the signed
    // fold is a provable no-op, serve the two bounded aggregations
    // straight off the seed pair. Row-identity is spec-asserted.
    if (!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaPath))
      return Graph.componentStatsOf(
        spark.read.parquet(s"$seedRoot/labels"),
        spark.read.parquet(s"$seedRoot/edges"))
    val (adds, removals) = liveNetDelta(spark, seedRoot, deltaPath)
    Graph.componentsSigned(
      spark.read.parquet(s"$seedRoot/edges"),
      spark.read.parquet(s"$seedRoot/labels"), adds, removals)
  }

  /** Live coreness decomposition over the signed fold (seed triple +
    * net delta through [[Graph.corenessSigned]]). */
  def serveCoreness(
      spark: SparkSession, seedRoot: String, deltaPath: String): DataFrame = {
    // EMPTY-DELTA FAST PATH (guide §2.4): no live batch → the signed
    // re-peel is a provable no-op, serve the coreness face verbatim.
    if (!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaPath))
      return spark.read.parquet(s"$seedRoot/coreness")
        .select("node", "coreness")
    val (adds, removals) = liveNetDelta(spark, seedRoot, deltaPath)
    Graph.corenessSigned(
      spark.read.parquet(s"$seedRoot/edges"),
      spark.read.parquet(s"$seedRoot/labels"),
      spark.read.parquet(s"$seedRoot/coreness"), adds, removals)
  }

  /** Live per-node triangle counts over the signed fold. */
  def serveTriangles(
      spark: SparkSession, seedRoot: String, deltaPath: String): DataFrame = {
    // EMPTY-DELTA FAST PATH (guide §2.4): no live batch → the signed
    // wedge re-join is a provable no-op, serve the triangle face.
    if (!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaPath))
      return spark.read.parquet(s"$seedRoot/triangles")
        .select("node", "degree", "n_triangles", "cc_micro")
    val (adds, removals) = liveNetDelta(spark, seedRoot, deltaPath)
    Graph.trianglesSigned(
      spark.read.parquet(s"$seedRoot/edges"),
      spark.read.parquet(s"$seedRoot/labels"),
      spark.read.parquet(s"$seedRoot/triangles"), adds, removals)
  }

  /** Live k-truss over the signed fold. */
  def serveTruss(
      spark: SparkSession, seedRoot: String, deltaPath: String,
      k: Int): DataFrame = {
    // EMPTY-DELTA FAST PATH (guide §2.4): no live batch → the signed
    // re-peel is a provable no-op, serve the truss face verbatim.
    if (!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaPath))
      return spark.read.parquet(s"$seedRoot/truss")
        .select("a", "b", "support")
    val (adds, removals) = liveNetDelta(spark, seedRoot, deltaPath)
    Graph.kTrussSigned(
      spark.read.parquet(s"$seedRoot/edges"),
      spark.read.parquet(s"$seedRoot/labels"),
      spark.read.parquet(s"$seedRoot/truss"), adds, removals, k)
  }

  /** Fold the net signed delta into EVERY face present under the seed
    * root: edges become (seed − removals) ∪ adds, labels re-merge
    * through [[Graph.signedLabels]], and each optional face
    * (coreness / triangles / truss) re-derives through its signed
    * operator — touched components only. Watermark + crash-safe
    * rename swap; folded partitions delete, a batch committed
    * mid-compact stays live above the new watermark. */
  def compact(
      spark: SparkSession, seedRoot: String, deltaPath: String,
      trussK: Int = 3): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = DeltaLayout.fs(spark, seedRoot)
    DeltaLayout.fold(spark, seedRoot, deltaPath) { (upTo, tmp) =>
      val seedE = spark.read.parquet(s"$seedRoot/edges")
      val seedL = spark.read.parquet(s"$seedRoot/labels")
      val (adds, removals0) = netDelta(spark, seedRoot, deltaPath, upTo)
      // no net removal (an insert-only stream, or every removal since
      // netted out): fold as a pure insertion, without the anti-joins
      // against an empty removal set — one cheap job over the
      // checkpointed net delta saves several per compaction
      val removals = Some(removals0).filterNot(_.isEmpty)
      // lazy — materialized by its face write below
      val survivors = removals.fold(seedE.select("a", "b"))(r =>
        seedE.select("a", "b").join(r, Seq("a", "b"), "left_anti"))
      val newE = survivors.unionByName(adds).distinct()
      // ONE shared fold scope feeds every face present under the seed
      // root (guide §1.2): the labels face and each density face
      // previously recomputed the full-prior-edge semi-join per face,
      // and coreness/truss re-ran the star contraction a second time
      val scope = Graph.foldScope(seedE, seedL, adds, removals)
      // every face present is an independent job chain over the shared
      // scope — overlap them (guide §2.6)
      val faceTasks = Seq.newBuilder[() => Unit]
      faceTasks += (() => newE.write.mode("overwrite").parquet(s"$tmp/edges"))
      faceTasks += (() => Graph.labelsFromScope(seedL, scope)
        .write.mode("overwrite").parquet(s"$tmp/labels"))
      if (fs.exists(new Path(s"$seedRoot/coreness")))
        faceTasks += (() => Graph.corenessFromScope(seedL,
            spark.read.parquet(s"$seedRoot/coreness"), scope)
          .write.mode("overwrite").parquet(s"$tmp/coreness"))
      if (fs.exists(new Path(s"$seedRoot/triangles")))
        faceTasks += (() => Graph.trianglesFromScope(seedL,
            spark.read.parquet(s"$seedRoot/triangles"), scope)
          .write.mode("overwrite").parquet(s"$tmp/triangles"))
      if (fs.exists(new Path(s"$seedRoot/truss")))
        faceTasks += (() => Graph.kTrussFromScope(seedL,
            spark.read.parquet(s"$seedRoot/truss"), scope, trussK)
          .write.mode("overwrite").parquet(s"$tmp/truss"))
      DeltaLayout.overlap(faceTasks.result())
    }
  }

  /** Seed (or rebuild) a stream root from a raw (src, dst[, w]) edge
    * frame — the artifact layout [[compact]] folds into: the canonical
    * edges, their star labels, and each named density face
    * ("coreness", "triangles", or "truss": the 3-truss, compact's
    * default). */
  def seed(edges: DataFrame, seedRoot: String, faces: Seq[String]): Unit = {
    val canon = Graph.canonicalEdges(edges)
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
    canon.write.mode("overwrite").parquet(s"$seedRoot/edges")
    graft.operators.Dedup.duplicateLabelsStar(
        canon.select(col("a").as("doc_a"), col("b").as("doc_b")))
      .write.mode("overwrite").parquet(s"$seedRoot/labels")
    faces.foreach {
      case "coreness" => Graph.corenessSharded(und)
        .write.mode("overwrite").parquet(s"$seedRoot/coreness")
      case "triangles" => Graph.triangles(und)
        .write.mode("overwrite").parquet(s"$seedRoot/triangles")
      case "truss" => Graph.kTrussSharded(und, 3)
        .write.mode("overwrite").parquet(s"$seedRoot/truss")
      case other => throw new IllegalArgumentException(
        s"seed: unknown face $other")
    }
  }

  /** The signed entries' source: the persisted adds/removals artifact
    * faces as one (src, dst, op) frame. The two faces are DISJOINT
    * pair sets (adds = today ∖ prior, removals = prior ∖ today), so
    * no pair carries both ops and the batch split is free to mix them
    * arbitrarily; cross-batch net resolution (add-then-remove,
    * remove-then-re-add) is exercised by the spec's hand-ordered
    * batches, not by these entries. */
  private def signedSource(spark: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.cpRemovalsShared(spark, dir)
      .select(col("src"), col("dst"), lit("remove").as("op"))
      .unionByName(graft.SparkEntry.cpAddsShared(spark, dir)
        .select(col("src"), col("dst"), lit("add").as("op")))

  /** The insert-only entries' source: the full co-purchase graph minus
    * the persisted prior (yesterday's graph — prior ⊆ full because
    * pair counts only grow), every pair tagged `add`. */
  private def addsSource(spark: SparkSession, dir: String): DataFrame = {
    val (priorE, _) = graft.SparkEntry.cpIndexShared(spark, dir)
    Graph.canonicalEdges(graft.operators.Purchases.coPurchaseGraph(
        graft.Tables.lineitem(spark, dir), minCount = 2L))
      .join(priorE.select("a", "b"), Seq("a", "b"), "left_anti")
      .select(col("a").as("src"), col("b").as("dst"), lit("add").as("op"))
  }

  /** Shared lifecycle of the measured graph-stream entries on
    * [[DeltaLayout.run]]: stage seed faces + the entry's
    * (src, dst, op) `source`, split into two files so the stream sees
    * more than one micro-batch, stream every batch, compact
    * mid-lifecycle, serve. The stream owns a private COPY of the
    * persisted prior because compaction rewrites it. `seedFaces`
    * writes the face artifacts the served operator folds into. */
  private def signedRun(
      spark: SparkSession, dir: String, entry: String,
      source: (SparkSession, String) => DataFrame, seedFaces: Seq[String],
      serve: (String, String) => DataFrame): DataFrame =
    DeltaLayout.run(spark, entry, compacts = true,
      (seedRoot, srcDir) => {
        val (priorE, priorL) = graft.SparkEntry.cpIndexShared(spark, dir)
        // validate the face list BEFORE the pool: an unknown face must
        // raise on the caller's thread, not inside a Future
        val faceWrites: Seq[() => Unit] = seedFaces.map {
          case "coreness" => () => graft.SparkEntry.cpCorenessShared(spark, dir)
            .write.mode("overwrite").parquet(s"$seedRoot/coreness")
          case "triangles" => () => graft.SparkEntry.cpTrianglesShared(spark, dir)
            .write.mode("overwrite").parquet(s"$seedRoot/triangles")
          case "truss" => () => graft.SparkEntry.cpTrussShared(spark, dir)
            .write.mode("overwrite").parquet(s"$seedRoot/truss")
          case other => throw new IllegalArgumentException(
            s"signedRun: unknown seed face $other")
        }
        val staged = source(spark, dir)
        // the face copies and the source staging are independent
        // writes — overlap them (guide §2.6)
        DeltaLayout.overlap(Seq[() => Unit](
          () => priorE.write.mode("overwrite").parquet(s"$seedRoot/edges"),
          () => priorL.write.mode("overwrite").parquet(s"$seedRoot/labels"),
          () => staged.repartition(2).write.mode("overwrite")
            .parquet(srcDir)) ++ faceWrites)
        staged
      },
      signedMaintain, compact(spark, _, _), serve)

  /** q_stream_components_signed: hash-matches the q_components_delete
    * oracle — the full reachability CTE over the delisted graph. */
  def componentsSignedRun(spark: SparkSession, dir: String): DataFrame =
    signedRun(spark, dir, "q_stream_components_signed",
        signedSource, Seq.empty, serveComponents(spark, _, _))
      .orderBy("component")

  /** q_stream_coreness_signed: hash-matches the q_coreness_delete
    * oracle — the 23-CTE peel ladder over the delisted graph. */
  def corenessSignedRun(spark: SparkSession, dir: String): DataFrame =
    signedRun(spark, dir, "q_stream_coreness_signed",
        signedSource, Seq("coreness"), serveCoreness(spark, _, _))
      .orderBy("node")

  /** q_stream_triangles_signed: hash-matches the q_triangles_delete
    * oracle — the full wedge join over the delisted graph. */
  def trianglesSignedRun(spark: SparkSession, dir: String): DataFrame =
    signedRun(spark, dir, "q_stream_triangles_signed",
        signedSource, Seq("triangles"), serveTriangles(spark, _, _))
      .orderBy("node")

  /** q_stream_ktruss_signed: rows-only for the q_ktruss reason;
    * stream == signed == full-peel equality spec-asserted. */
  def trussSignedRun(spark: SparkSession, dir: String): DataFrame =
    signedRun(spark, dir, "q_stream_ktruss_signed",
        signedSource, Seq("truss"), serveTruss(spark, _, _, 3))
      .orderBy("a", "b")

  /** q_stream_components: the insert-only stream (all-`add` ops of
    * full ∖ prior) — hash-matches the full-graph q_components
    * reachability oracle. */
  def componentsMaintainRun(spark: SparkSession, dir: String): DataFrame =
    signedRun(spark, dir, "q_stream_components",
        addsSource, Seq.empty, serveComponents(spark, _, _))
      .orderBy("component")

  /** q_stream_coreness: the insert-only stream — hash-matches the
    * full-graph q_coreness 23-CTE peel-ladder oracle. */
  def corenessMaintainRun(spark: SparkSession, dir: String): DataFrame =
    signedRun(spark, dir, "q_stream_coreness",
        addsSource, Seq("coreness"), serveCoreness(spark, _, _))
      .orderBy("node")

  /** q_stream_ktruss: the insert-only stream — rows-only for the
    * q_ktruss reason; stream == full-peel equality spec-asserted. */
  def trussMaintainRun(spark: SparkSession, dir: String): DataFrame =
    signedRun(spark, dir, "q_stream_ktruss",
        addsSource, Seq("truss"), serveTruss(spark, _, _, 3))
      .orderBy("a", "b")
}
