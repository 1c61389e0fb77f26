package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Expectations
import graft.operators.Expectations.Check

/** Structured Streaming form of the data-quality gate: the per-row
  * check subset of [[Expectations]] ([[Expectations.rowAudit]]) runs
  * on an ingest stream exactly as in batch — NotNull / InRange /
  * AcceptedValues are pure projections and the referential check is a
  * stream-static join against the (broadcast) parent key set, so the
  * verdicts of a micro-batch depend on its own rows alone. This
  * is the gate a warehouse load puts in front of a landing sink:
  * every arriving row reports which declared constraints it violates
  * BEFORE it lands, instead of poisoning downstream aggregates
  * ([[Expectations.verify]] stays the per-load batch verdict).
  * Stateless + stream-static → the micro-batch union is row-identical
  * to the batch scan, so the measured entry shares its full SQL
  * oracle (equality asserted in StreamingSpec). */
object ExpectationsStream {

  /** Bounded end-to-end run ([[DeltaLayout.gateRun]]): stage the fact
    * table as one file, run each micro-batch through
    * [[Expectations.rowAudit]] with static parents, and serve the
    * complete per-row verdict set (ordered). */
  def gateRun(
      spark: SparkSession, facts: DataFrame,
      parents: Map[String, DataFrame], idCols: Seq[String],
      checks: Seq[Check]): DataFrame =
    DeltaLayout.gateRun(spark, "q_stream_expectations", facts) {
      Expectations.rowAudit(_, parents, idCols, checks, ordered = false)
    }.orderBy(idCols.map(col) :+ col("violated"): _*)

  // ---- Streaming VERDICT maintenance (a DeltaLayout stream) ----
  //
  // [[Expectations.partials]] counters are LINEAR (scalar/key/fkval
  // rows sum; the parentkey set merges idempotently — mergePartials
  // pins its cnt to 1), so the seed + per-batch delta partitions
  // layout of [[AdditiveStream]] serves the whole-table
  // verdicts exactly: a verdict table served mid-stream is provably
  // identical to verify() over everything ingested so far, and the
  // measured entry hash-matches the SAME full-battery oracle.

  /** Seed (or rebuild) the persisted verdict-partial table —
    * kind-partitioned (guide §6: partition by the low-cardinality
    * column every serve filters on), so [[liveVerdicts]]' split
    * serving reads each verdict branch's partitions only: at scale
    * the artifact's mass is the per-key uniqueness rows, which the
    * scalar/FK branches never touch. */
  def seedPartials(
      tables: Map[String, DataFrame], checks: Seq[(String, Check)],
      seedPath: String): Unit =
    Expectations.partials(tables, checks)
      .write.mode("overwrite").partitionBy("kind").parquet(seedPath)

  /** Launch maintenance over a streaming fact frame: each micro-batch
    * computes partials over ITS OWN rows (the other battery tables
    * ride as empty frames — their counters live in the seed) and
    * lands them under its batch_id partition (dynamic overwrite: a
    * retried batch replaces its previous attempt, never
    * double-counts). Batches at or below the seed's compaction
    * watermark are skipped (already folded in). */
  def partialsMaintain(
      newFacts: DataFrame, factTable: String,
      emptyTables: Map[String, DataFrame],
      checks: Seq[(String, Check)],
      seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery = {
    // a batch can only move counters for checks ON the fact table —
    // everything else is empty here, its counters live in the seed.
    // ONE folded partials() call over the subset, then the subset's
    // local check_seq remaps to the full battery's via a literal map
    // (per-check partials calls would rescan the batch per check).
    val factChecks = checks.zipWithIndex
      .filter { case ((t, _), _) => t == factTable }
    // fail at LAUNCH, not inside foreachBatch: with zero fact-table
    // checks every micro-batch would throw (Expectations.partials
    // requires a non-empty battery) and the stream dies at runtime
    require(factChecks.nonEmpty,
      s"partialsMaintain: no check in the battery targets fact table " +
        s"'$factTable' — nothing to maintain")
    val subset = factChecks.map(_._1)
    val seqMap = map(factChecks.zipWithIndex.flatMap {
      case ((_, gi), j) => Seq(lit(j + 1), lit(gi + 1)) }: _*)
    DeltaLayout.landEach(newFacts, seedPath, deltaPath, checkpoint) { batch =>
      Expectations.partials(emptyTables + (factTable -> batch), subset)
        .withColumn("check_seq", element_at(seqMap, col("check_seq")))
    }
  }

  /** The live verdict table: seed ⊕ delta partitions above the
    * compaction watermark, served through
    * [[Expectations.serveVerdicts]]. A missing delta dir serves the
    * seed alone. */
  def liveVerdicts(
      spark: SparkSession, seedPath: String, deltaPath: String,
      checks: Seq[(String, Check)]): DataFrame = {
    // SPLIT serving (guide §6 + §2.4): the seed artifact stays a LAZY
    // kind-partitioned scan — each verdict branch's kind filter prunes
    // at planning time — and the bounded delta rows ride the split's
    // one checkpoint; bit-equal to serveVerdicts(mergePartials(...))
    // (the serveVerdictsSplit contract, spec-asserted; the driver's
    // full-battery oracle proves it independently).
    val (seed, delta) = seedAndDelta(spark, seedPath, deltaPath, Long.MaxValue)
    Expectations.serveVerdictsSplit(seed, delta, checks)
  }

  /** The seed partials and the live delta partials at or below
    * `upTo` (empty when no delta partition landed). */
  private def seedAndDelta(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long): (DataFrame, DataFrame) = {
    val seed = spark.read.parquet(seedPath)
      .select("check_seq", "kind", "k", "cnt")
    if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath))
      (seed, seed.limit(0))
    else {
      val folded = DeltaLayout.foldedThrough(spark, seedPath)
      (seed, spark.read.parquet(deltaPath)
        .filter(col("batch_id").cast("long") > folded
          && col("batch_id").cast("long") <= upTo)
        .select("check_seq", "kind", "k", "cnt"))
    }
  }

  /** Fold accumulated deltas into a fresh seed (the fixed-batch-range
    * compact all DeltaLayout instances share): a micro-batch committed
    * mid-compact stays a live delta for the next fold; served
    * verdicts are unchanged by construction (spec asserts equality
    * across a compaction). */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit = {
    // consumed once by the write — no checkpoint (it would merge to
    // blocks and then copy the blocks out); kind-partitioned like the
    // seed so post-compaction serves keep their partition pruning
    DeltaLayout.fold(spark, seedPath, deltaPath) { (upTo, tmp) =>
      val (seed, delta) = seedAndDelta(spark, seedPath, deltaPath, upTo)
      Expectations.mergePartials(Seq(seed, delta))
        .write.mode("overwrite").partitionBy("kind").parquet(tmp)
    }
  }

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_verdicts): the seed verifies lineitem evens plus the
    * full dimensions, lineitem odds stream through maintenance (a
    * mid-stream compaction inside the measured path), and the served
    * verdict table must hash-match verify() over the WHOLE battery —
    * the same full-battery oracle as q_expectations. */
  def verdictsMaintainRun(
      spark: SparkSession, tables: Map[String, DataFrame],
      factTable: String, checks: Seq[(String, Check)]): DataFrame = {
    val facts = tables(factTable)
    val emptyTables = tables.map { case (n, df) => n -> df.limit(0) }
    DeltaLayout.run(spark, "q_stream_verdicts", compacts = true,
      (seed, src) => DeltaLayout.stageHalves(facts, facts.columns.head,
        evens => seedPartials(tables + (factTable -> evens), checks, seed), src),
      partialsMaintain(_, factTable, emptyTables, checks, _, _, _),
      compact(spark, _, _), liveVerdicts(spark, _, _, checks))
      .orderBy("check_seq")
  }
}
