package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.sources.Multimodal

/** REMOVAL-AWARE image fingerprint-index maintenance — the
  * [[SignedIndexLayout]] state machine instantiated for the
  * multimodal family (fifth instantiation), completing its deletion
  * column: [[ImageStream]]'s grow-only index has no remove op, so an
  * image deleted upstream keeps gating new arrivals against its
  * ghost fingerprints — a legitimate re-crawl of withdrawn-and-
  * re-published content would be suppressed forever.
  *
  * Signed rows carry the whole media record as payload columns
  * (media_id, modality, payload, width, height, sample_rate, op):
  * adds decode IN-BATCH to (codec, ahash, dhash) fingerprints — the
  * [[Multimodal.imageFingerprints]] narrow pass, payload bytes never
  * shuffle and never persist in the index — removes carry the id
  * with an empty payload (deletion events have keys, not bodies).
  * The live face is bit-identical to fingerprinting the surviving
  * corpus directly (decode is deterministic), spec-pinned; rows-only
  * at the driver because DuckDB cannot decode images. */
object ImageSignedStream {

  private val FpCols = Seq("media_id", "codec", "ahash", "dhash")
  private val PayloadCols =
    Seq("modality", "payload", "width", "height", "sample_rate")

  /** Seed (or rebuild) the persisted fingerprint face from a
    * fingerprint frame (media_id, codec, ahash, dhash). */
  def seedIndex(fps: DataFrame, seedPath: String): Unit =
    fps.select(FpCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$seedPath/postings")

  /** Launch maintenance over a streaming signed media frame
    * ([[Multimodal.MediaRecord]] columns + op). */
  def indexMaintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    SignedIndexLayout.maintain(newOps, seedPath, deltaPath, checkpoint,
      adds => {
        val spark = adds.sparkSession
        import spark.implicits._
        Multimodal.imageFingerprints(adds.as[Multimodal.MediaRecord]).toDF()
      },
      "ImageSignedStream", idCol = "media_id", payloadCols = PayloadCols)

  /** The live fingerprint index under last-writer-wins. */
  def liveFingerprints(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    SignedIndexLayout.livePostings(
      spark, seedPath, deltaPath, Long.MaxValue, FpCols, idCol = "media_id")

  /** Gate arriving images against the live signed index: fingerprint
    * the arrivals in-batch, probe the dHash face through the 16-bit
    * chunk-bucket join ([[Dedup.fingerprintPairsAgainst]] — never
    * all-pairs), carry aHash as corroboration exactly like
    * [[ImageStream.imageGate]]. A removed image's fingerprints are
    * not in the live face, so its ghost can suppress nothing. */
  def gate(
      spark: SparkSession, seedPath: String, deltaPath: String,
      newMedia: DataFrame, maxHamming: Int = 6,
      bucketCap: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val fps = Multimodal.imageFingerprints(
        newMedia.as[Multimodal.MediaRecord])
      .toDF().localCheckpoint()
    // NOT materialized: the probe consumes the index twice (chunk
    // buckets + the ahash re-join) and two reconstruction scans of
    // the slim fingerprint faces beat pinning a corpus-sized frame
    // in executor memory (the DedupSignedStream.gate reasoning)
    val idx = liveFingerprints(spark, seedPath, deltaPath)
      .join(broadcast(fps.select("media_id")), Seq("media_id"), "left_anti")
    Dedup.fingerprintPairsAgainst(
        fps.select(col("media_id").as("doc_id"), col("dhash").as("fp")),
        idx.select(col("media_id").as("doc_id"), col("dhash").as("fp")),
        maxHamming, bucketCap)
      .join(fps.select(col("media_id").as("doc_new"),
        col("ahash").as("ah_n")), Seq("doc_new"))
      .join(idx.select(col("media_id").as("doc_corpus"),
        col("ahash").as("ah_c")), Seq("doc_corpus"))
      .select(col("doc_new").as("media_new"),
        col("doc_corpus").as("media_corpus"),
        col("hamming").as("hamming_d"),
        expr("bit_count(ah_n ^ ah_c)").as("hamming_a"))
  }

  /** Fold the net signed state into a fresh fingerprint seed. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    SignedIndexLayout.compact(spark, seedPath, deltaPath, FpCols,
      idCol = "media_id")

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_image_signed): the seed holds the BASE images'
    * fingerprints (a projection of the shared artifact — the corpus
    * is never re-decoded); the signed stream REMOVES the originals
    * of the BMP-twin class (doc_id % 50 == 0) and re-adds one slice
    * of originals verbatim (the replace case — fingerprints must not
    * change), compacting mid-lifecycle. The gate then receives ALL
    * planted twins: twins of surviving originals must still match at
    * hamming 0, twins of the REMOVED originals must emit NO pairs —
    * deleted content re-admits cleanly instead of being suppressed
    * by its ghost. rows-only (DuckDB cannot decode PNGs); live-face
    * equality vs direct fingerprints of the survivors and the
    * suppression flip are spec-pinned. */
  def imageMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    import Multimodal.TwinIdBit
    val docs = graft.Tables.documents(spark, dir)
    val twins = Multimodal.syntheticImages(docs
        .filter(col("doc_id") % 50 === 0 || col("doc_id") % 50 === 10))
      .filter(col("media_id") >= TwinIdBit)
      .toDF()
    DeltaLayout.run(spark, "q_stream_image_signed", compacts = true,
      (seed, src) => {
        val fps = graft.SparkEntry.imageFpShared(spark, dir)
        seedIndex(fps.filter(col("media_id") < TwinIdBit), seed)
        // ops: remove the %50==0 originals; re-add the %50==10
        // originals verbatim (replace — only their docs re-render);
        // two files so the stream sees more than one micro-batch
        val readds = Multimodal.syntheticImages(
            docs.filter(col("doc_id") % 50 === 10))
          .toDF()
          .filter(col("media_id") < TwinIdBit)
          .withColumn("op", lit("add"))
        val removes = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("media_id"), lit("image").as("modality"),
            lit(Array.emptyByteArray).as("payload"), lit(0).as("width"),
            lit(0).as("height"), lit(0).as("sample_rate"),
            lit("remove").as("op"))
        val ops = readds.unionByName(removes)
        ops.repartition(2).write.mode("overwrite").parquet(src)
        ops
      },
      indexMaintain, compact(spark, _, _),
      gate(spark, _, _, twins, maxHamming = 6, bucketCap = 1000L))
      .orderBy("media_new", "media_corpus")
  }
}
