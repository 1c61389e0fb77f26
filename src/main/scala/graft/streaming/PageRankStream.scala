package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Graph

/** Streaming PAGERANK maintenance — the TENTH [[DeltaLayout]]
  * instance, completing the CENTRALITY face's lifecycle (batch
  * [[Graph.pageRank]] / incremental warm-start / streaming) and the
  * graph family's full lifecycle matrix. Two ways this stream differs
  * from the exact-state ones (components/coreness/triangles/truss):
  *
  *   - The additive state is WEIGHTED: micro-batches land per-pair
  *     weight INCREMENTS (a new pair lands its full weight) and the
  *     live graph is the per-(a, b) SUM of seed weights and live
  *     increments — an upsert-free, commutative fold. Increments are
  *     SIGNED: a delisting lands dw = −w and the pair sums out of the
  *     graph (loud when a fold goes negative), so this stream is
  *     removal-aware through its additive layout alone — no net-op
  *     resolution needed, unlike the exact-state signed harness
  *     ([[SignedGraphStream]]).
  *   - Serving is a WARM-START CASCADE, not an exact re-derivation:
  *     ranks are damped-iteration approximations of the stationary
  *     distribution, so serve(seed + delta) and serve(compact(seed,
  *     delta)) are both valid rank frames but not bit-equal —
  *     compaction ADVANCES the warm point (each fold runs the
  *     iteration budget from the previous output, landing strictly
  *     closer to stationarity; [[Graph.pageRank]]'s affine-contraction
  *     argument makes any stale prior safe). What IS pinned, exactly:
  *     serving equals the DIRECT warm [[Graph.pageRank]] call over
  *     the same (edges, ranks, delta) state at every instant, and
  *     rank mass is conserved (spec-asserted; rows-only at the
  *     driver for the q_product_rank no-SQL-iteration reason). */
object PageRankStream {

  /** Seed (or rebuild) the persisted (edges, ranks) pair from a raw
    * weighted edge frame (src, dst, w). */
  def seedRanks(edges: DataFrame, seedRoot: String): Unit = {
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum("w").as("w"))
      .localCheckpoint()
    canon.write.mode("overwrite").parquet(s"$seedRoot/edges")
    Graph.pageRank(
        canon.select(col("a").as("src"), col("b").as("dst"), col("w")))
      .select("node", "rank_micro")
      .write.mode("overwrite").parquet(s"$seedRoot/ranks")
  }

  /** Launch maintenance over a streaming weight-increment frame
    * (src, dst, w): each batch lands its canonical-oriented per-pair
    * increment sum under its batch_id partition; batches at or below
    * the seed's compaction watermark are skipped (already folded). */
  def ranksMaintain(
      newEdges: DataFrame, seedRoot: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    DeltaLayout.landEach(newEdges, seedRoot, deltaPath, checkpoint) {
      _.select(
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"), col("w"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(sum("w").as("w"))
    }

  private def liveDeltaIncrements(
      spark: SparkSession, seedRoot: String, deltaPath: String,
      upTo: Long): DataFrame =
    // distinctRows = false: increments are ADDITIVE — the same pair in
    // two batches must count twice in the sum fold
    DeltaLayout.liveDeltaRows(spark, seedRoot, deltaPath, upTo,
      Seq("a", "b", "w"), s"$seedRoot/edges", distinctRows = false)

  /** The live weighted graph: per-(a, b) sum of seed weights and live
    * increments — the commutative fold both serve and compact share.
    * Increments are SIGNED (the [[Graph.pageRankSigned]] contract
    * riding the additive layout for free): a delisted pair arrives as
    * dw = −w and sums to zero, dropping from the served graph; a
    * negative fold means the delta disagrees with the seed artifact
    * and raises LOUDLY — this is what makes the centrality stream
    * removal-aware like its four signed siblings. */
  private def foldedGraph(
      spark: SparkSession, seedRoot: String, deltaPath: String,
      upTo: Long): DataFrame = {
    // EMPTY-DELTA FAST PATH (guide §2.4 — remove the shuffle
    // outright): with no live increment the seed IS the fold — it was
    // written per-pair-UNIQUE by seedRanks' groupBy or this very
    // function at the last compaction, so the sum-fold is an identity
    // over it and only the scan-level guard/filter remain (no
    // exchange). The warm rank sweep downstream is unchanged (serving
    // stays the direct warm cascade the contract pins).
    if (!DeltaLayout.hasLiveBatches(spark, seedRoot, deltaPath))
      return spark.read.parquet(s"$seedRoot/edges")
        .select(col("a"), col("b"),
          when(col("w") < 0, raise_error(concat(
              lit("PageRankStream: folded weight < 0 for pair ("),
              col("a").cast("string"), lit(","), col("b").cast("string"),
              lit(") — signed increments disagree with the seed"))))
            .otherwise(col("w")).as("w"))
        .filter(col("w") > 0)
    spark.read.parquet(s"$seedRoot/edges").select("a", "b", "w")
      .unionByName(liveDeltaIncrements(spark, seedRoot, deltaPath, upTo))
      .groupBy("a", "b").agg(sum("w").as("w"))
      .select(col("a"), col("b"),
        when(col("w") < 0, raise_error(concat(
            lit("PageRankStream: folded weight < 0 for pair ("),
            col("a").cast("string"), lit(","), col("b").cast("string"),
            lit(") — signed increments disagree with the seed"))))
          .otherwise(col("w")).as("w"))
      .filter(col("w") > 0)
  }

  /** The live rank frame: one warm [[Graph.pageRank]] sweep over the
    * folded live graph, started from the seed ranks. A missing/empty
    * delta directory serves the warm sweep over the seed alone. */
  def serveRanks(
      spark: SparkSession, seedRoot: String, deltaPath: String): DataFrame =
    Graph.pageRank(
      foldedGraph(spark, seedRoot, deltaPath, Long.MaxValue)
        .select(col("a").as("src"), col("b").as("dst"), col("w")),
      startRanks = Some(spark.read.parquet(s"$seedRoot/ranks")))

  /** Fold live increments into the seed pair: edges sum-fold, ranks
    * ADVANCE through one warm sweep over the folded graph (the
    * compacted seed serves strictly closer to stationarity than the
    * one it replaces); watermark + crash-safe swap. */
  def compact(spark: SparkSession, seedRoot: String, deltaPath: String): Unit = {
    DeltaLayout.fold(spark, seedRoot, deltaPath) { (upTo, tmp) =>
      // checkpointed: TWO consumers (the edges write and the warm sweep)
      val newE = foldedGraph(spark, seedRoot, deltaPath, upTo)
        .localCheckpoint()
      // the edges write and the warm rank sweep are independent job
      // chains off the materialized fold — overlap them (guide §2.6)
      DeltaLayout.overlap(Seq(
        () => newE.write.mode("overwrite").parquet(s"$tmp/edges"),
        () => Graph.pageRank(
            newE.select(col("a").as("src"), col("b").as("dst"), col("w")),
            startRanks = Some(spark.read.parquet(s"$seedRoot/ranks")))
          .select("node", "rank_micro")
          .write.mode("overwrite").parquet(s"$tmp/ranks")))
    }
  }

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_pagerank): seed from the PERSISTED prior (weighted
    * edges, ranks) pair, stream the per-pair weight increments
    * (full − prior, strictly positive because pair counts only grow),
    * compact mid-stream (advancing the warm point), serve — must
    * exactly equal the direct warm cascade over the same states
    * (spec-asserted). The stream owns a private COPY of the seed
    * because compaction rewrites it. */
  def ranksMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
    val full = graft.operators.Purchases.coPurchaseGraph(li, minCount = 2L)
      .select(col("src").as("a"), col("dst").as("b"), col("w"))
      .localCheckpoint()
    DeltaLayout.run(spark, "q_stream_pagerank", compacts = true,
      (seedRoot, srcDir) => {
        val prior = graft.SparkEntry.cpWeightedShared(spark, dir)
        // per-pair INCREMENT: full − prior weight (new pairs land
        // whole) — strictly positive because pair counts only grow;
        // derived from the SAME artifact frame the edges copy writes
        val d = full
          .join(prior.select(col("a"), col("b"), col("w").as("pw")),
            Seq("a", "b"), "left")
          .select(col("a").as("src"), col("b").as("dst"),
            (col("w") - coalesce(col("pw"), lit(0L))).as("w"))
          .filter(col("w") > 0L)
        // three independent writes — overlap them (guide §2.6)
        DeltaLayout.overlap(Seq(
          () => prior.write.mode("overwrite").parquet(s"$seedRoot/edges"),
          () => graft.SparkEntry.cpRanksShared(spark, dir)
            .write.mode("overwrite").parquet(s"$seedRoot/ranks"),
          () => d.repartition(2).write.mode("overwrite").parquet(srcDir)))
        d
      },
      ranksMaintain, compact(spark, _, _), serveRanks(spark, _, _))
      // the compaction ADVANCES the warm point; the serve warm-starts
      // from the compacted ranks over the full fold
      .orderBy(desc("rank_micro"), col("node"))
  }
}
