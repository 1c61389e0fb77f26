package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Classifier

/** Streaming Naive-Bayes maintenance: keep the domain classifier
  * current while labeled documents ARRIVE, without ever re-tokenizing
  * the lake — the streaming face of [[Classifier.nbCounts]] and
  * another instance of the [[DeltaLayout]] state pattern
  * ([[RollupStream]] for additive rollups, [[CmsStream]] for
  * count-min counters; NB per-class term counts are linear in
  * documents, so the same `seed + per-batch delta partitions` layout
  * serves exactly).
  *
  * Each micro-batch tokenizes ONLY its own documents, labels them with
  * the caller's labeler, and writes its (term, n_pos, n_neg) count
  * deltas under its batch_id partition (dynamic overwrite — a retried
  * batch replaces its previous attempt instead of double-counting).
  * Serving is a term-wise sum over `seed ∪ live deltas` followed by
  * [[Classifier.nbFromCounts]] — the smoothed weights re-derive from
  * the merged counts bit-identically to a direct [[Classifier.nbTrain]]
  * over everything ingested so far, so the measured driver entry seeds
  * from half the corpus, streams the other half, and hash-matches the
  * SAME full-corpus DuckDB oracle as q_nb_score. Compaction folds old
  * deltas into the seed ([[compact]]) without changing served counts.
  */
object NbStream {

  /** Seed (or rebuild) the persisted count table. */
  def seedNb(docs: DataFrame, labels: DataFrame, seedPath: String): Unit =
    Classifier.nbCounts(docs, labels)
      .write.mode("overwrite").parquet(seedPath)

  /** Launch maintenance over a streaming documents frame: each batch
    * lands its count deltas under its own batch_id partition; batches
    * at or below the seed's compaction watermark are skipped (already
    * folded in). `labeler` derives the (doc_id, label) frame from each
    * batch — labels must be computable batch-locally (e.g. from the
    * doc's source column), the same per-doc-local constraint as the
    * quality/audit gates. */
  def nbMaintain(
      newDocs: DataFrame,
      labeler: DataFrame => DataFrame,
      seedPath: String,
      deltaPath: String,
      checkpoint: String): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (batchId > DeltaLayout.foldedThrough(batch.sparkSession, seedPath)) {
          Classifier.nbCounts(batch.toDF(), labeler(batch.toDF()))
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(deltaPath)
        }
      }
      .start()

  /** The live count table: seed + delta partitions above the
    * compaction watermark, term-wise summed. A missing/empty delta
    * directory serves the seed alone. Feed through
    * [[Classifier.nbFromCounts]] for the scoring model. */
  def liveNbCounts(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    liveNbBounded(spark, seedPath, deltaPath, Long.MaxValue)

  /** [[liveNbCounts]] with an upper batch_id bound: [[compact]] folds
    * a FIXED batch range so a micro-batch committed while the fold is
    * writing is neither merged below its watermark nor deleted — it
    * stays a live delta for the next compact. */
  private def liveNbBounded(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long): DataFrame = {
    val seed = spark.read.parquet(seedPath).select("term", "n_pos", "n_neg")
    val merged =
      if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) seed
      else {
        val folded = DeltaLayout.foldedThrough(spark, seedPath)
        seed.unionByName(spark.read.parquet(deltaPath)
          .filter(col("batch_id").cast("long") > folded
            && col("batch_id").cast("long") <= upTo)
          .select("term", "n_pos", "n_neg"))
      }
    merged.groupBy("term").agg(
        sum("n_pos").as("n_pos"), sum("n_neg").as("n_neg"))
      .orderBy("term")
  }

  /** Fold accumulated delta partitions into a fresh seed so delta
    * state stays bounded — the [[CmsStream.compact]] move verbatim on
    * the term-count key: write the merged counts + the new watermark
    * under `seed__maint`, rename-swap over the seed, then delete ONLY
    * the folded delta partitions (a batch the stream commits
    * mid-compact stays live). Served counts unchanged by construction
    * — spec asserts bit-equality across a compaction. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    if (!DeltaLayout.hasDeltaPartitions(spark, deltaPath)) return // nothing to fold
    val fs = DeltaLayout.fs(spark, deltaPath)
    val maxBatch = DeltaLayout.maxBatchId(spark, deltaPath)
    // fold ONLY batches ≤ maxBatch: one committed between this read and
    // the swap stays a live delta (> the new watermark) for next time
    val merged = liveNbBounded(spark, seedPath, deltaPath, maxBatch)
      .localCheckpoint()
    val tmp = seedPath + "__maint"
    merged.write.mode("overwrite").parquet(tmp)
    val newFolded = math.max(maxBatch,
      DeltaLayout.foldedThrough(spark, seedPath))
    if (newFolded >= 0) DeltaLayout.writeFoldedMarker(fs, tmp, newFolded)
    DeltaLayout.swapLive(fs, tmp, seedPath)
    DeltaLayout.deleteFoldedPartitions(fs, new Path(deltaPath), newFolded)
  }

  /** The src0+src1 target-domain labeler (the q_dsir_weights
    * convention the NB driver entries train against) — batch-local by
    * construction: the label is a function of the doc's own source
    * column. */
  def domainLabels(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("source").isInCollection(Seq("src0", "src1")).cast("int").as("label"))

  /** Bounded end-to-end run — the measured driver entry (q_stream_nb):
    * even doc_ids seed the counts, odd ones stream through
    * maintenance, and scoring the WHOLE corpus against the served
    * model must hash-match the direct full-corpus oracle (the
    * q_nb_score SQL — counts are linear, so stream-maintained ==
    * direct-trained, exactly). A mid-stream compaction runs inside the
    * measured path so the fold-then-serve equivalence is part of what
    * the hash gate proves. */
  def nbMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_nb_stream")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    StreamMeter.timeSeed("q_stream_nb") {
      docs.filter(col("doc_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
      seedNb(docs.filter(col("doc_id") % 2 === 0),
        domainLabels(docs.filter(col("doc_id") % 2 === 0)), seedP)
    }

    val q = nbMaintain(
      spark.readStream.schema(docs.schema).parquet(src),
      domainLabels, seedP, deltaP, root.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    compact(spark, seedP, deltaP)

    val result = Classifier.nbScore(docs,
        Classifier.nbFromCounts(liveNbCounts(spark, seedP, deltaP)))
      .localCheckpoint()
    DeltaLayout.rmTree(root)
    result.orderBy("doc_id")
  }
}
