package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Classifier, Etl, Sketches}

/** Streaming maintenance of a LINEAR partial table — one
  * [[DeltaLayout]] machine for every state whose merge is a sum of
  * partials: count-min counters ([[Sketches.cmsPartials]]), NB
  * per-class term counts ([[Classifier.nbCounts]]) and the
  * per-(source, lang) corpus rollup ([[Etl.corpusRollup]]). Each is
  * linear in the rows it covers, so
  *
  *  - seed = `partials` of the seed rows;
  *  - land = `partials` of one micro-batch, under its batch_id
  *    partition (a retried batch replaces its own attempt);
  *  - live = seed ∪ live deltas, grouped by `keys` and `sums` summed —
  *    a frame bounded by the key cardinality × batches, never by the
  *    rows ingested;
  *  - compact = the live frame for the fold's fixed batch range,
  *    written once as the new seed.
  *
  * A table served mid-stream is therefore identical to `partials`
  * over everything ingested so far: the measured entries seed from
  * half the corpus, stream the other half, and hash-match the SAME
  * direct-build oracles as their batch twins (q_cms_build,
  * q_nb_score, q_rollup_incremental). */
final class AdditiveStream(
    val partials: DataFrame => DataFrame,
    keys: Seq[String], sums: Seq[String]) {

  /** Seed (or rebuild) the persisted partial table. */
  def seed(rows: DataFrame, seedPath: String): Unit =
    partials(rows).write.mode("overwrite").parquet(seedPath)

  /** Launch maintenance over a streaming row frame: each batch lands
    * the partials of ITS OWN rows. */
  def maintain(
      newRows: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    DeltaLayout.maintain(newRows, seedPath, checkpoint) { (batch, batchId) =>
      DeltaLayout.landBatch(partials(batch), batchId, deltaPath)
    }

  /** Seed ∪ the delta batches above the watermark and at or below
    * `upTo`, summed per key. A missing or partition-less delta
    * directory serves the seed alone. */
  private def liveUpTo(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long): DataFrame = {
    val seed = DeltaLayout.readParquet(spark, seedPath)
      .select((keys ++ sums).map(col): _*)
    // additive: the same key in two batches must count twice
    val merged =
      if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) seed
      else seed.unionByName(DeltaLayout.liveDeltaRows(spark, seedPath,
        deltaPath, upTo, keys ++ sums, seedPath, distinctRows = false))
    merged.groupBy(keys.map(col): _*)
      .agg(sum(sums.head).as(sums.head), sums.tail.map(c => sum(c).as(c)): _*)
  }

  /** The live table (unordered). */
  def live(spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    liveUpTo(spark, seedPath, deltaPath, Long.MaxValue)

  /** The fold's write: the live table for batch_id ≤ `upTo`, written
    * once under `tmp` — what [[compact]] hands [[DeltaLayout.fold]]. */
  def foldWrite(spark: SparkSession, seedPath: String, deltaPath: String)(
      upTo: Long, tmp: String): Unit =
    liveUpTo(spark, seedPath, deltaPath, upTo)
      .write.mode("overwrite").parquet(tmp)

  /** Fold the live deltas into a fresh seed; served values are
    * unchanged by construction (spec-asserted). */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    DeltaLayout.fold(spark, seedPath, deltaPath)(
      foldWrite(spark, seedPath, deltaPath))

  /** The measured lifecycle: even doc_ids seed, odd ones arrive as ONE
    * micro-batch (one staged file), an optional compaction, and
    * `serve` over the live table. */
  def run(
      spark: SparkSession, entry: String, docs: DataFrame,
      compacts: Boolean)(serve: DataFrame => DataFrame): DataFrame =
    DeltaLayout.run(spark, entry, compacts,
      (seedPath, src) =>
        DeltaLayout.stageHalves(docs, "doc_id", seed(_, seedPath), src),
      maintain, compact(spark, _, _), (s, d) => serve(live(spark, s, d)))
}

/** The three measured additive entries and their tables. */
object AdditiveStream {

  /** Count-min counters (d, bucket, cnt) at the default depth/width. */
  val cms = new AdditiveStream(
    Sketches.cmsPartials(_), Seq("d", "bucket"), Seq("cnt"))

  /** NB (term, n_pos, n_neg) counts; `labeler` derives the
    * (doc_id, label) frame from each batch, so labels must be
    * computable batch-locally (e.g. from the doc's source column). */
  def nb(labeler: DataFrame => DataFrame): AdditiveStream = new AdditiveStream(
    d => Classifier.nbCounts(d, labeler(d)), Seq("term"), Seq("n_pos", "n_neg"))

  /** The per-(source, lang) corpus rollup. */
  val rollup = new AdditiveStream(Etl.corpusRollup,
    Seq("source", "lang"), Seq("n_docs", "n_tokens", "n_chars"))

  /** The src0+src1 target-domain labeler (the q_dsir_weights
    * convention the NB driver entries train against) — batch-local by
    * construction: the label is a function of the doc's own source
    * column. */
  def domainLabels(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("source").isInCollection(Seq("src0", "src1")).cast("int").as("label"))

  /** q_stream_cms: the served counters must hash-match the direct
    * sketch over the WHOLE table (the q_cms_build oracle); the
    * mid-stream compaction puts fold-then-serve under the hash gate. */
  def cmsMaintainRun(spark: SparkSession, dir: String): DataFrame =
    cms.run(spark, "q_stream_cms", graft.Tables.documents(spark, dir),
      compacts = true)(identity).orderBy("d", "bucket")

  /** q_stream_nb: scoring the WHOLE corpus against the model derived
    * from the served counts must hash-match the direct full-corpus
    * q_nb_score oracle; compacts mid-stream like q_stream_cms. */
  def nbMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    nb(domainLabels).run(spark, "q_stream_nb", docs, compacts = true)(
        counts => Classifier.nbScore(docs, Classifier.nbFromCounts(counts)))
      .orderBy("doc_id")
  }

  /** q_stream_rollup: the served rollup must hash-match the direct
    * rollup over the WHOLE table (shared oracle with
    * q_rollup_incremental's recompute); serves without compacting. */
  def rollupMaintainRun(spark: SparkSession, dir: String): DataFrame =
    rollup.run(spark, "q_stream_rollup", graft.Tables.documents(spark, dir),
      compacts = false)(_.filter(col("n_docs") > 0))
      .orderBy("source", "lang")
}
