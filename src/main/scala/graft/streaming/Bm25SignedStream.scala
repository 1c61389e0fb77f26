package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** REMOVAL-AWARE streaming BM25 index maintenance — the deletion
  * lifecycle extended beyond the graph family to the RETRIEVAL one
  * (the reference's upserts REPLACE rows and its deletes cascade:
  * rabbitmq-to-postgres/app.py:98 — a document index over that data
  * model must honor replacement and deletion, not only arrival).
  * The harness takes signed rows (doc_id, text, op ∈ add|remove)
  * with last-writer-wins semantics through the shared
  * [[SignedIndexLayout]] state machine: an `add` of an existing id
  * REPLACES it, a `remove` deletes BY ID (deletion events carry
  * keys, not bodies), net state per doc resolves by LAST op in
  * batch order.
  *
  * The BM25-specific half is the corpus statistics: the layout
  * maintains a second signed face of per-doc lengths (`doclen` —
  * one (doc_id, dl) row per live doc) alongside the postings, so
  * serving aggregates (n_docs, tot_tokens) from that SLIM face and
  * never scans the postings beyond the term-pruned row groups. That
  * is what makes removal exact AND scale-safe: a dropped doc
  * vanishes from df, idf, and avgdl because its doclen row leaves
  * the live face, while the scoring path stays a term-IN-pruned
  * scan — a search served from the signed state is provably
  * identical to a full rebuild over the surviving corpus (both
  * driver entries hash-match the SAME full-corpus DuckDB oracle as
  * q_bm25_search; the pushdown is pinned in PlanRegressionSpec). An
  * append-only stream is the all-`add` case of the same machine. */
object Bm25SignedStream {

  private val Cols = Seq("term", "doc_id", "tf", "dl")
  private val DlCols = Seq("doc_id", "dl")

  /** The per-doc length face of a postings frame: one (doc_id, dl)
    * row per doc that HAS postings (a termless doc contributes
    * nothing to df or avgdl on either serving path). */
  private def doclenOf(postings: DataFrame): DataFrame =
    postings.select("doc_id", "dl").distinct()

  /** Seed (or rebuild) the persisted index from a corpus frame —
    * the postings face plus the slim per-doc `doclen` face the
    * signed serve aggregates corpus statistics from. */
  def seedIndex(docs: DataFrame, seedPath: String): Unit = {
    val p = Retrieval.bm25Index(docs)._1.localCheckpoint()
    p.write.mode("overwrite").parquet(s"$seedPath/postings")
    doclenOf(p).write.mode("overwrite").parquet(s"$seedPath/doclen")
  }

  /** Launch maintenance over a streaming signed frame
    * (doc_id, text, op). Batches at or below the compaction
    * watermark are skipped (already folded in). */
  def indexMaintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    SignedIndexLayout.maintain(newOps, seedPath, deltaPath, checkpoint,
      docs => Retrieval.bm25Index(docs)._1, "Bm25SignedStream",
      // the doclen face is a projection of the postings face the
      // layout just materialized — deriving it from that frame saves
      // a SECOND full bm25Index tokenization pass per micro-batch
      // (the r13 verdict's measured 42% maintain-side regression)
      extraFaces = Seq("doclen" ->
        ((_, postings) => doclenOf(postings))))

  /** Serve a BM25 search over the signed live state: meta
    * (n_docs, tot_tokens) aggregates the slim live doclen face (one
    * row per doc) so removals subtract from df, idf, and avgdl
    * exactly, and the postings frame stays LAZY so the term IN
    * filter reaches every postings scan (file/row-group pruning —
    * never a full-index materialization per serve). */
  def serveSearch(
      spark: SparkSession, seedPath: String, deltaPath: String,
      queries: DataFrame, termsLiteral: Seq[String], k: Int = 10): DataFrame = {
    val live = SignedIndexLayout
      .resolve(spark, seedPath, deltaPath, Long.MaxValue)
    val p = SignedIndexLayout
      .liveFace(spark, seedPath, deltaPath, live, Cols)
    val meta = SignedIndexLayout
      .liveFace(spark, seedPath, deltaPath, live, DlCols, face = "doclen")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tokens"))
    Retrieval.bm25FromIndex(p, meta, queries, termsLiteral, k = k)
  }

  /** Fold the net signed state into a fresh seed (both faces). */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    SignedIndexLayout.compact(spark, seedPath, deltaPath, Cols,
      extraFaces = Seq("doclen" -> DlCols))

  /** Bounded end-to-end run — the measured driver entries, whose
    * served search must hash-match the SAME full-corpus DuckDB oracle
    * as q_bm25_search (stream-maintained == full rebuild over the
    * surviving corpus, proven by the gate). `stage` is the entry's
    * lifecycle: q_stream_bm25_signed stages
    * [[SignedIndexLayout.stageSignedCorpus]] (yesterday's corpus with
    * a stale and a deleted slice; today's adds, replacements and
    * removals by id) and compacts mid-lifecycle; q_stream_bm25 stages
    * [[SignedIndexLayout.stageAllAdds]] (even ids seed, odd ids
    * arrive) and serves without compacting. */
  def searchMaintainRun(
      spark: SparkSession, dir: String,
      queries: DataFrame, termsLiteral: Seq[String], entry: String,
      stage: SignedIndexLayout.Staging, compacts: Boolean): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    DeltaLayout.run(spark, entry, compacts,
      (seed, src) => stage(docs, seedIndex(_, seed), src), indexMaintain,
      compact(spark, _, _),
      serveSearch(spark, _, _, queries, termsLiteral))
  }
}
