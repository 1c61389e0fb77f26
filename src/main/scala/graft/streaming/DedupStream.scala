package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming ingest-time near-duplicate gate: the operational mode a
  * 100 TB pipeline actually runs — documents arrive as a stream and
  * dedup against a PERSISTED MinHash signature index
  * ([[Dedup.minhashSignatures]] written to parquet), never
  * re-sketching the corpus. The streaming twin of q_dedup_incremental
  * (reference raw_hash idempotency, rabbitmq-to-postgres/app.py,
  * extended to near-duplicates).
  *
  * Per micro-batch, inside foreachBatch:
  *   1. sketch the batch (one narrow codegen pass),
  *   2. band-join it against the index snapshot and emit the
  *      above-threshold (doc_new, doc_corpus, est_jaccard) pairs —
  *      exactly [[Dedup.minhashPairsAgainst]], so batch/stream pair
  *      sets are identical by construction (asserted in spec),
  *   3. optionally write the batch's signatures into its own
  *      `batch_id=` partition of the index so later batches also dedup
  *      against earlier stream arrivals — the index grows with the
  *      corpus, still without any re-sketch.
  *
  * Exactly-once: BOTH sinks partition by batch_id with dynamic
  * partition overwrite, so a retried micro-batch REPLACES its own
  * pairs AND its own index partition instead of double-appending.
  * Retry hygiene on the read side too: a failure landing between the
  * index write and the checkpoint commit leaves the batch's own
  * signatures in the snapshot the retry reads, so the gate anti-joins
  * the batch's doc_ids out of the snapshot — without it the rerun
  * would emit self-pairs (est 1.0) and intra-batch pairs the original
  * run never produced. The index must be seeded through [[seedIndex]]
  * (or any writer using the same `batch_id=` partition layout).
  */
object DedupStream {

  /** Seed (or re-seed) the persisted signature index from a corpus
    * frame. Written partitioned by `batch_id` (seed rows use -1) so
    * the gate's growth writes — which land each micro-batch in its own
    * partition under dynamic overwrite — share one layout with the
    * seed. */
  def seedIndex(
      docs: DataFrame, indexPath: String,
      shingleLen: Int = 3, numHashes: Int = 64): Unit =
    Dedup.minhashSignatures(docs, shingleLen, numHashes)
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(indexPath)

  /** Launch the gate over a streaming documents frame (doc_id, text,
    * ...). `indexPath` must hold a signature index in [[seedIndex]]'s
    * layout; pairs land under `pairsPath` partitioned by batch_id. */
  def nearDupGate(
      newDocs: DataFrame,
      indexPath: String,
      pairsPath: String,
      checkpoint: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      growIndex: Boolean = true): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val docs = batch.toDF()
        // index snapshot for THIS batch, minus the batch's own ids: on
        // a retry whose failed predecessor already wrote the growth
        // partition, the snapshot contains this batch's signatures —
        // joining against them would emit self-pairs and intra-batch
        // pairs. A micro-batch's id set is small by definition, so the
        // anti-join broadcasts and the index never shuffles.
        val idx = spark.read.parquet(indexPath)
          .join(broadcast(docs.select("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("sig"))
        DeltaLayout.landBatch(
          Dedup.minhashPairsAgainst(docs, idx, shingleLen, numHashes, bands, threshold)
            // defense in depth: a doc_id duplicated IN THE INDEX by an
            // out-of-band writer duplicates its pair rows (candidate
            // dedup runs before the signature re-join, so the re-join
            // fans back out) — collapse at the sink boundary
            .dropDuplicates("doc_new", "doc_corpus"),
          batchId, pairsPath)
        // idempotent growth, mirroring the pairs sink: the batch's
        // signatures REPLACE their own batch_id partition on retry
        // instead of double-appending
        if (growIndex) DeltaLayout.landBatch(
          Dedup.minhashSignatures(docs, shingleLen, numHashes),
          batchId, indexPath)
      }
      .start()

  /** Bounded end-to-end run over the documents table — the measured
    * driver entry for the streaming near-dup ingest gate
    * (q_stream_neardup_gate), following the [[DriftStream
    * .driftMonitorRun]] pattern: stage a deterministic micro-batch
    * (the even doc_ids) as the stream source, seed the persisted
    * signature index from the FULL corpus, run the gate to completion
    * with the index frozen (growIndex=false — the serving
    * measurement), and return the emitted pair set. With no trigger
    * cap every staged file lands in micro-batch 0, so the output is
    * one deterministic (doc_new, doc_corpus, est_jaccard) frame:
    * exactly [[Dedup.minhashPairsAgainst]](batch, corpus − batch) by
    * the gate's construction (the spec asserts that equality). MinHash
    * estimates are not SQL-expressible, so the driver records this
    * rows-only; accuracy is covered by the minhash calibration spec.
    * The result is localCheckpoint'd so the staged source, index, and
    * sink can be deleted before returning. */
  def nearDupGateRun(
      spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_neardup_stream")
    val src = root.resolve("src").toString
    val indexPath = root.resolve("index").toString
    val pairsPath = root.resolve("pairs").toString
    StreamMeter.timeSeed("q_stream_neardup_gate") {
      docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(src)
      seedIndex(docs, indexPath)
    }

    val q = nearDupGate(
      spark.readStream.schema(docs.schema).parquet(src),
      indexPath, pairsPath, root.resolve("ckpt").toString,
      threshold = threshold, growIndex = false)
    try q.processAllAvailable() finally q.stop()

    val result = spark.read.parquet(pairsPath)
      .select("doc_new", "doc_corpus", "est_jaccard")
      .localCheckpoint()
      .orderBy("doc_new", "doc_corpus")
    DeltaLayout.rmTree(root)
    result
  }

  /** Index maintenance for a long-running gate: collapse any doc_id
    * present more than once (keep the FIRST arrival — lowest batch_id
    * — so maintenance never changes which corpus doc a future pair
    * reports) and rewrite each batch partition as one file. Growth
    * adds a small file set per micro-batch; after days of 1-minute
    * triggers the snapshot read pays thousands of file opens before
    * any data, the classic small-file tax. Gate output is unchanged
    * by construction (spec-asserted): duplicates only ever ADD
    * duplicate candidate rows, and the band keys derive from the
    * signature alone. Shared mechanics (rename-swap rewrite, crash
    * posture) live in [[IndexMaintenance.collapseAndCompact]]. */
  def maintainIndex(spark: SparkSession, indexPath: String): Unit =
    IndexMaintenance.collapseAndCompact(spark, indexPath, "doc_id")
}
