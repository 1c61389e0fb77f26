package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** REMOVAL-AWARE dedup-gate signature maintenance — the
  * [[SignedIndexLayout]] state machine instantiated for the ingest
  * gate's signature indexes (fourth instantiation: BM25, phrase,
  * IVF, now the dedup gate), closing the highest-leverage gap in the
  * deletion matrix: a document deleted upstream (the reference's ON
  * DELETE CASCADE contract, rabbitmq-to-postgres/app.py:98) must
  * leave the gate's indexes too, or the gate FALSELY SUPPRESSES a
  * legitimate re-submission of the deleted content by pairing it
  * against a ghost.
  *
  * Both signature families the gate family serves ride as faces of
  * ONE signed layout — the MinHash signatures ((doc_id, sig), the
  * primary `postings` face, what [[DedupStream.nearDupGate]] probes)
  * and the SimHash fingerprints ((doc_id, fp), the `fingerprints`
  * face, the [[Dedup.fingerprintPairsAgainst]] probe side) — so one
  * ops stream keeps BOTH removal-exact: an add of an existing id
  * re-sketches it (content changed → new signatures, the
  * upsert-replace case), a remove deletes by id, net state per doc
  * resolves by last op in batch order. The live faces are
  * bit-identical to sketching the surviving corpus directly
  * (sketching is deterministic — no RNG anywhere in the signature
  * path), proven in spec; the driver entry is rows-only because
  * MinHash estimates have no SQL twin (the q_dedup_minhash reason).
  */
object DedupSignedStream {

  private val SigCols = Seq("doc_id", "sig")
  private val FpCols = Seq("doc_id", "fp")

  /** Probe-slice id tag for the staged run's re-submissions (fresh
    * ids for arriving content) — a third namespace bit alongside
    * [[SignedIndexLayout.AlienIdBit]]. */
  private val ProbeIdBit: Long = 1L << 41

  /** The SimHash fingerprint face of a corpus slice — the exact
    * sketch [[Dedup.simhashPairs]] computes (graft_simhash over
    * lowercased whitespace tokens), factored so the signed face and
    * the batch operator can never drift. */
  private[graft] def simhashFps(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs.withColumn("toks", split(lower(col("text")), " ", -1))
      .select(col("doc_id"), expr("graft_simhash(toks)").as("fp"))
  }

  /** Seed (or rebuild) both signature faces from a corpus frame. */
  def seedIndex(
      docs: DataFrame, seedPath: String,
      shingleLen: Int = 3, numHashes: Int = 64): Unit = {
    Dedup.minhashSignatures(docs, shingleLen, numHashes)
      .write.mode("overwrite").parquet(s"$seedPath/postings")
    simhashFps(docs)
      .write.mode("overwrite").parquet(s"$seedPath/fingerprints")
  }

  /** Launch maintenance over a streaming signed frame
    * (doc_id, text, op): each batch's adds sketch ONCE per face (a
    * narrow codegen pass over the small batch), removals land as
    * ops rows only. */
  def indexMaintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String, shingleLen: Int = 3,
      numHashes: Int = 64): StreamingQuery =
    SignedIndexLayout.maintain(newOps, seedPath, deltaPath, checkpoint,
      docs => Dedup.minhashSignatures(docs, shingleLen, numHashes),
      "DedupSignedStream",
      extraFaces = Seq("fingerprints" ->
        ((adds, _) => simhashFps(adds))))

  /** The live MinHash signature index under last-writer-wins. */
  def liveSignatures(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    SignedIndexLayout.livePostings(
      spark, seedPath, deltaPath, Long.MaxValue, SigCols)

  /** The live SimHash fingerprint index under last-writer-wins. */
  def liveFingerprints(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    SignedIndexLayout.livePostings(
      spark, seedPath, deltaPath, Long.MaxValue, FpCols,
      face = "fingerprints")

  /** Gate a probe batch against the live signed MinHash index —
    * [[Dedup.minhashPairsAgainst]] over the reconstructed live face,
    * minus the probe's own ids (the [[DedupStream.nearDupGate]]
    * retry-hygiene move). The live frame is deliberately NOT
    * materialized: the pairs join consumes the index twice (band
    * keys + signature re-join), and two reconstruction scans of the
    * slim parquet faces beat pinning a corpus-sized signature frame
    * in executor memory (the gate's own append-only twin likewise
    * re-scans its parquet snapshot per consumer). */
  def gate(
      spark: SparkSession, seedPath: String, deltaPath: String,
      probeDocs: DataFrame, shingleLen: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val idx = liveSignatures(spark, seedPath, deltaPath)
      .join(broadcast(probeDocs.select("doc_id")), Seq("doc_id"), "left_anti")
    Dedup.minhashPairsAgainst(
      probeDocs, idx, shingleLen, numHashes, bands, threshold)
  }

  /** Gate a probe batch against the live SimHash fingerprint face —
    * the hamming chunk-LSH probe over the same signed state. */
  def gateFingerprints(
      spark: SparkSession, seedPath: String, deltaPath: String,
      probeDocs: DataFrame, maxHamming: Int = 3,
      bucketCap: Long = Long.MaxValue): DataFrame = {
    val idx = liveFingerprints(spark, seedPath, deltaPath)
      .join(broadcast(probeDocs.select("doc_id")), Seq("doc_id"), "left_anti")
    Dedup.fingerprintPairsAgainst(
      simhashFps(probeDocs), idx, maxHamming, bucketCap)
  }

  /** Fold the net signed state into a fresh seed (both faces). */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    SignedIndexLayout.compact(spark, seedPath, deltaPath, SigCols,
      extraFaces = Seq("fingerprints" -> FpCols))

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_dedup_signed): the seed indexes yesterday's corpus (a
    * third verbatim, a third STALE, and an alien slice whose content
    * is UNIQUE — word-reversed text, so it shares essentially no
    * shingles with any surviving doc); today's stream replaces the
    * stale third, adds the new third, and DELETES the aliens; a
    * compaction runs mid-lifecycle. The gate then probes a batch of
    * re-submissions: the deleted aliens' content under fresh ids —
    * which must emit ZERO pairs (the false-suppression case the
    * deletion machinery exists to prevent; against the stale index
    * every one of them would have been suppressed) — plus exact
    * copies of surviving docs, which must pair with their originals
    * at est 1.0. rows-only at the driver (MinHash has no SQL twin);
    * face equality vs direct sketches of the surviving corpus and
    * the before/after suppression flip are spec-pinned. */
  def gateMaintainRun(
      spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val reversedText =
      concat_ws(" ", reverse(split(col("text"), " ", -1))).as("text")
    // re-submissions: deleted-alien content (every 10th alien
    // source) under fresh ids ∪ exact copies of surviving docs
    val probe = docs.filter(col("doc_id") % 30 === 2)
      .select(col("doc_id").bitwiseOR(ProbeIdBit).as("doc_id"),
        reversedText)
      .unionByName(docs.filter(col("doc_id") % 30 === 0)
        .select(col("doc_id").bitwiseOR(ProbeIdBit).as("doc_id"),
          col("text")))
    DeltaLayout.run(spark, "q_stream_dedup_signed", compacts = true,
      (seed, src) => SignedIndexLayout.stageSignedCorpus(reversedText)(
        docs, seedIndex(_, seed), src),
      indexMaintain(_, _, _, _), compact(spark, _, _),
      gate(spark, _, _, probe, threshold = threshold))
      .orderBy("doc_new", "doc_corpus")
  }
}
