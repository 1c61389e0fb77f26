package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming ingest-time SEMANTIC near-duplicate gate: embeddings
  * arrive as a stream and dedup against a PERSISTED int8 quantized
  * index ([[graft.operators.Similarity.sqIndex]] written to parquet) —
  * the embedding-space sibling of [[DedupStream.nearDupGate]]'s
  * lexical MinHash gate, sharing its exactly-once mechanics verbatim:
  *
  *   - per micro-batch, [[Similarity.sqNearDupAgainst]] broadcasts the
  *     batch's quantized rows and bucket keys against the index scan —
  *     batch/stream pair sets are identical by construction (asserted
  *     in spec), and the index (4× smaller than the fp corpus) is
  *     never re-encoded or shuffled;
  *   - BOTH sinks land as batch_id partitions through
  *     [[DeltaLayout.maintain]] and [[DeltaLayout.landBatch]], so a
  *     retried micro-batch REPLACES its own pairs and its own index
  *     growth partition instead of double-appending;
  *   - the snapshot read anti-joins the batch's own vec_ids out, so a
  *     retry whose failed predecessor already grew the index cannot
  *     emit self-pairs or intra-batch pairs.
  */
object AnnStream {

  /** Seed (or re-seed) the persisted quantized index from a corpus
    * embedding frame. Written partitioned by `batch_id` (seed rows use
    * -1) so the gate's growth writes share one layout with the seed. */
  def seedIndex(emb: DataFrame, indexPath: String): Unit =
    Similarity.sqIndex(emb)
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(indexPath)

  /** Launch the gate over a streaming embeddings frame (vec_id,
    * embedding, ...). `indexPath` must hold an index in [[seedIndex]]'s
    * layout; pairs land under `pairsPath` partitioned by batch_id. */
  def semanticGate(
      newEmb: DataFrame,
      indexPath: String,
      pairsPath: String,
      checkpoint: String,
      threshold: Double = 0.9,
      planes: Int = 12,
      tables: Int = 4,
      growIndex: Boolean = true): StreamingQuery =
    DeltaLayout.maintain(newEmb, indexPath, checkpoint) { (emb, batchId) =>
      // index snapshot minus the batch's own ids (retry hygiene —
      // see DedupStream.nearDupGate); a micro-batch's id set is
      // small, so the anti-join broadcasts and the index never
      // shuffles
      val idx = DeltaLayout.readParquet(emb.sparkSession, indexPath)
        .join(broadcast(emb.select("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("qv"), col("scale"), col("norm"))
      DeltaLayout.landBatch(
        Similarity.sqNearDupAgainst(emb, idx, threshold, planes, tables)
          // defense in depth against an out-of-band writer duplicating
          // an index vec_id (the re-join fans candidates back out)
          .dropDuplicates("vec_new", "vec_corpus"),
        batchId, pairsPath)
      if (growIndex)
        DeltaLayout.landBatch(Similarity.sqIndex(emb), batchId, indexPath)
    }

  /** Index maintenance for a long-running gate — the
    * [[DedupStream.maintainIndex]] analog for the quantized layout:
    * collapse any vec_id present more than once (first arrival wins)
    * and compact the per-batch small files. Gate output is unchanged
    * by construction: duplicates only ever ADD duplicate candidate
    * rows, and buckets derive from the stored quantized vector alone.
    * Shared mechanics (rename-swap rewrite, crash posture) live in
    * [[IndexMaintenance.collapseAndCompact]]. */
  def maintainIndex(spark: SparkSession, indexPath: String): Unit =
    IndexMaintenance.collapseAndCompact(spark, indexPath, "vec_id")
}
