package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** REMOVAL-AWARE streaming positional-index maintenance — the
  * [[Bm25SignedStream]] posture for the phrase index, riding the
  * SAME [[SignedIndexLayout]] state machine (one machinery, two
  * indexes). Simpler than BM25 because positions carry no
  * corpus-global statistics: the live postings ARE the whole served
  * state, so removal-awareness is purely the layout's
  * last-writer-wins reconstruction — a replaced doc serves its new
  * positions, a removed doc's phrases stop matching, period.
  * Both measured driver entries hash-match the SAME full-corpus
  * DuckDB oracle as q_phrase_search over the surviving corpus; the
  * append-only one is the all-`add` case of the same machine. */
object PhraseSignedStream {

  private val Cols = Seq("term", "doc_id", "pos")

  /** Seed (or rebuild) the persisted positional postings. */
  def seedIndex(docs: DataFrame, seedPath: String): Unit =
    Retrieval.positionalIndex(docs)
      .write.mode("overwrite").parquet(s"$seedPath/postings")

  /** Launch maintenance over a streaming signed frame
    * (doc_id, text, op). */
  def indexMaintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    SignedIndexLayout.maintain(newOps, seedPath, deltaPath, checkpoint,
      Retrieval.positionalIndex(_), "PhraseSignedStream")

  /** Serve an exact phrase search over the signed live state. */
  def serveSearch(
      spark: SparkSession, seedPath: String, deltaPath: String,
      queries: DataFrame, termsLiteral: Seq[String] = Nil,
      k: Int = 10): DataFrame =
    Retrieval.phraseFromIndex(
      SignedIndexLayout.livePostings(
        spark, seedPath, deltaPath, Long.MaxValue, Cols),
      queries, k = k, queryTermsLiteral = termsLiteral)

  /** Fold the net signed state into a fresh postings seed. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    SignedIndexLayout.compact(spark, seedPath, deltaPath, Cols)

  /** Bounded end-to-end run — the measured driver entries, which
    * hash-match the full-corpus q_phrase_search oracle over the
    * surviving corpus. `stage` is the entry's lifecycle, as in
    * [[Bm25SignedStream.searchMaintainRun]]: q_stream_phrase_signed
    * stages the signed corpus and compacts mid-lifecycle,
    * q_stream_phrase stages all-`add` arrivals without compacting. */
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
