package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** Streaming POSITIONAL-index maintenance: keep the phrase-search
  * postings current while documents arrive — the streaming face of
  * [[Retrieval.positionalIndexIncremental]], and the [[Bm25Stream]]
  * layout minus the meta frame (positions carry no corpus-global
  * state: no df, no avgdl — the postings ARE the index, so each leg
  * of the seed/delta/compact dance handles ONE frame).
  *
  * Each micro-batch tokenizes ONLY its own documents and lands its
  * (term, doc_id, pos) rows under a `batch_id` partition (dynamic
  * overwrite — a retried batch replaces its previous attempt, the
  * exactly-once claim shared with RollupStream/Bm25Stream/CmsStream).
  * Because phrase serving is a pure function of the postings rows, a
  * search over `seed ∪ deltas` is provably identical to a full
  * rebuild over everything ingested — the measured driver entry seeds
  * from half the corpus, streams the other half, and hash-matches the
  * SAME full-corpus DuckDB oracle as q_phrase_search.
  *
  * Append-only contract: arriving doc_ids must be NEW (the upstream
  * near-dup gate's job); replacements go through the batch
  * incremental path. */
object PhraseStream {

  /** Seed (or rebuild) the persisted positional postings. */
  def seedIndex(docs: DataFrame, seedPath: String): Unit =
    Retrieval.positionalIndex(docs)
      .write.mode("overwrite").parquet(s"$seedPath/postings")

  /** Launch maintenance: each batch writes its own positional delta;
    * batches at or below the seed's compaction watermark are skipped
    * (already folded in). */
  def indexMaintain(
      newDocs: DataFrame,
      seedPath: String,
      deltaPath: String,
      checkpoint: String): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (batchId > DeltaLayout.foldedThrough(batch.sparkSession, seedPath)) {
          Retrieval.positionalIndex(batch.toDF())
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(s"$deltaPath/postings")
        }
      }
      .start()

  /** The live postings: seed ∪ delta partitions above the compaction
    * watermark. A missing delta directory (fresh state, or just
    * compacted) serves the seed alone. */
  def livePostings(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    livePostingsBounded(spark, seedPath, deltaPath, Long.MaxValue)

  /** [[livePostings]] with an upper batch_id bound — [[compact]] folds
    * a FIXED range so a batch committed mid-fold stays a live delta. */
  private def livePostingsBounded(
      spark: SparkSession, seedPath: String,
      deltaPath: String, upTo: Long): DataFrame = {
    val cols = Seq("term", "doc_id", "pos")
    val seed = spark.read.parquet(s"$seedPath/postings").select(cols.map(col): _*)
    if (!DeltaLayout.hasDeltaPartitions(spark, s"$deltaPath/postings")) seed
    else {
      val folded = DeltaLayout.foldedThrough(spark, seedPath)
      seed.unionByName(
        spark.read.parquet(s"$deltaPath/postings")
          .filter(col("batch_id").cast("long") > folded &&
            col("batch_id").cast("long") <= upTo)
          .select(cols.map(col): _*))
    }
  }

  /** Fold accumulated deltas into a fresh seed — the
    * [[Bm25Stream.compact]] move on the single postings frame:
    * rename-swap the merged seed, then delete ONLY folded delta
    * partitions so a concurrently committed batch survives. Served
    * results unchanged by construction (spec asserts bit-equality
    * across a compaction). */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val dp = new Path(s"$deltaPath/postings")
    val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!DeltaLayout.hasDeltaPartitions(spark, s"$deltaPath/postings")) return
    val maxBatch = spark.read.parquet(s"$deltaPath/postings")
      .agg(max(col("batch_id").cast("long"))).head() match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
    val merged = livePostingsBounded(spark, seedPath, deltaPath, maxBatch)
      .localCheckpoint()
    val tmp = seedPath + "__maint"
    merged.write.mode("overwrite").parquet(s"$tmp/postings")
    val newFolded = math.max(maxBatch,
      DeltaLayout.foldedThrough(spark, seedPath))
    if (newFolded >= 0) DeltaLayout.writeFoldedMarker(fs, tmp, newFolded)
    DeltaLayout.swapLive(fs, tmp, seedPath)
    DeltaLayout.deleteFoldedPartitions(
      fs, new Path(s"$deltaPath/postings"), newFolded)
  }

  /** Serve an exact phrase search over everything ingested so far. */
  def serveSearch(
      spark: SparkSession, seedPath: String, deltaPath: String,
      queries: DataFrame, termsLiteral: Seq[String] = Nil,
      k: Int = 10): DataFrame =
    Retrieval.phraseFromIndex(
      livePostings(spark, seedPath, deltaPath), queries,
      k = k, queryTermsLiteral = termsLiteral)

  /** Measured driver entry: seed from even doc_ids, stream the odd
    * half through maintenance, serve the driver's phrase set — must
    * hash-match the full-corpus q_phrase_search oracle. */
  def searchMaintainRun(
      spark: SparkSession, dir: String,
      queries: DataFrame, termsLiteral: Seq[String]): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_phrase_stream")
    val src = root.resolve("src").toString
    StreamMeter.timeSeed("q_stream_phrase") {
      docs.filter(col("doc_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
      seedIndex(docs.filter(col("doc_id") % 2 === 0), root.resolve("seed").toString)
    }

    val q = indexMaintain(
      spark.readStream.schema(docs.schema).parquet(src),
      root.resolve("seed").toString,
      root.resolve("delta").toString,
      root.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    val result = serveSearch(spark,
        root.resolve("seed").toString, root.resolve("delta").toString,
        queries, termsLiteral)
      .localCheckpoint()
    DeltaLayout.rmTree(root)
    result
  }
}
