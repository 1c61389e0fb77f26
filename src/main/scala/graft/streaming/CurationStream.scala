package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured Streaming form of the curation quality gate: the
  * STATELESS per-row stages (lang / length / quality) run on a
  * document stream exactly as they do in batch, because
  * [[graft.operators.Curation.curationSignals]] is one narrow
  * projection — no sort, no join, no shuffle, so each micro-batch's
  * verdicts depend on its own rows alone. This is the gate an ingest
  * pipeline puts in front of a landing sink; the corpus-level stages
  * (repetition, duplicate) stay batch concerns (or pair with
  * dropDuplicatesWithinWatermark). Every gate here is a
  * [[DeltaLayout.gateRun]]: the documents are staged as one file, each
  * micro-batch lands its verdicts as its batch_id partition, and the
  * landed verdicts are served.
  */
object CurationStream {

  /** Bounded end-to-end run of the streaming quality gate over the
    * documents table — the measured driver entry for the streaming
    * curation surface (q_stream_quality_gate). Row-identical to the
    * batch curationSignals (asserted in StreamingSpec), so the entry
    * shares a plain SQL oracle. */
  def qualityGateRun(
      spark: SparkSession, dir: String, wantLang: String = "en",
      minTokens: Int = 20, maxTokens: Int = 5000): DataFrame =
    DeltaLayout.gateRun(spark, "q_stream_quality_gate",
        graft.Tables.documents(spark, dir)) {
      graft.operators.Curation.curationSignals(_, wantLang, minTokens, maxTokens)
        .select("doc_id", "lang_pred", "n_tokens", "row_keep", "row_reason")
    }.orderBy("doc_id")

  /** Bounded end-to-end run of the streaming AUDIT gate
    * ([[graft.operators.Retrieval.auditScan]] over a document
    * stream) — the ingest-time blocklist: every arriving doc reports
    * its first matching audit pattern before landing. Stateless, so
    * the stream is row-identical to the batch scan (shared SQL
    * oracle; equality asserted in StreamingSpec). */
  def auditGateRun(
      spark: SparkSession, dir: String, patterns: Seq[String]): DataFrame =
    DeltaLayout.gateRun(spark, "q_stream_audit_gate",
        graft.Tables.documents(spark, dir)) {
      graft.operators.Retrieval.auditScan(_, patterns)
    }.orderBy("doc_id")

  /** The phrase-decontamination verdicts of one micro-batch of
    * documents against `phrases` (phrase_id, phrase_text). */
  def phraseVerdicts(phrases: Seq[(Long, String)])(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.operators.Retrieval.decontaminatePhrase(
      docs, phrases.toDF("phrase_id", "phrase_text"))
  }

  /** Bounded end-to-end run of the streaming PHRASE-decontamination
    * gate ([[phraseVerdicts]] over a document stream) — the
    * verbatim-sequence ingest guard: every arriving doc reports whether
    * it quotes a benchmark phrase before landing. The phrase verdict is
    * PER-DOC LOCAL (a doc contains the sequence or not, independent of
    * the rest of the corpus), so the union of per-micro-batch verdicts
    * is exactly the whole-corpus scan and the entry shares
    * q_decontaminate_phrase's FULL oracle. */
  def phraseGateRun(
      spark: SparkSession, dir: String,
      phrases: Seq[(Long, String)]): DataFrame =
    DeltaLayout.gateRun(spark, "q_stream_phrase_gate",
        graft.Tables.documents(spark, dir))(phraseVerdicts(phrases))
      .orderBy("doc_id")
}
