package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** Streaming BM25 index maintenance: keep the inverted index current
  * while documents ARRIVE, without ever re-tokenizing the lake — the
  * streaming face of [[Retrieval.bm25IndexIncremental]] (whose batch
  * form handles removals/changes via the snapshot diff; an append-only
  * post-dedup-gate stream only adds).
  *
  * State layout is the [[RollupStream]] exactly-once trick applied to
  * the index pair: `seed postings/meta + per-batch delta partitions`.
  * Each micro-batch tokenizes ONLY its own documents and writes its
  * postings and its one-row meta delta under `batch_id` partitions
  * (dynamic overwrite — a RETRIED batch replaces its previous attempt
  * instead of double-counting). Because BM25 serving recomputes df and
  * avgdl from postings + meta at query time, a search served from
  * `seed ∪ deltas` is provably identical to one served from a full
  * rebuild over everything ingested so far — the measured driver
  * entry seeds from half the corpus, streams the other half, and
  * hash-matches the SAME full-corpus DuckDB oracle as q_bm25_search.
  *
  * Append-only contract: arriving doc_ids must be NEW (the upstream
  * near-dup gate's job); replacing a doc needs the batch incremental
  * path. Delta-partition growth is bounded by the standard compaction
  * move (fold deltas into the seed — the [[RollupStream.compact]]
  * pattern; served values unchanged, concurrent-batch-safe). */
object Bm25Stream {

  /** Seed (or rebuild) the persisted index pair. */
  def seedIndex(docs: DataFrame, seedPath: String): Unit = {
    val (postings, meta) = Retrieval.bm25Index(docs)
    postings.write.mode("overwrite").parquet(s"$seedPath/postings")
    meta.write.mode("overwrite").parquet(s"$seedPath/meta")
  }

  /** Launch maintenance over a streaming documents frame: each batch
    * lands its delta postings + meta under its own batch_id partition;
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
          val (p, m) = Retrieval.bm25Index(batch.toDF())
          p.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(s"$deltaPath/postings")
          m.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(s"$deltaPath/meta")
        }
      }
      .start()

  /** The live index pair: seed ∪ delta partitions above the
    * compaction watermark (postings by union, meta by one tiny sum).
    * A missing delta directory (fresh state, or just compacted)
    * serves the seed alone. */
  def liveIndex(
      spark: SparkSession, seedPath: String,
      deltaPath: String): (DataFrame, DataFrame) =
    liveIndexBounded(spark, seedPath, deltaPath, Long.MaxValue)

  /** [[liveIndex]] with an upper batch_id bound: [[compact]] folds a
    * FIXED batch range so a micro-batch committed while the fold is
    * writing is neither merged below its watermark nor deleted — it
    * stays a live delta for the next compact. */
  private def liveIndexBounded(
      spark: SparkSession, seedPath: String,
      deltaPath: String, upTo: Long): (DataFrame, DataFrame) = {
    val cols = Seq("term", "doc_id", "tf", "dl")
    val seedP = spark.read.parquet(s"$seedPath/postings").select(cols.map(col): _*)
    val seedM = spark.read.parquet(s"$seedPath/meta")
      .select("n_docs", "tot_tokens")
    if (!DeltaLayout.hasDeltaPartitions(spark, s"$deltaPath/postings")) (seedP, seedM)
    else {
      val folded = DeltaLayout.foldedThrough(spark, seedPath)
      def live = col("batch_id").cast("long") > folded &&
        col("batch_id").cast("long") <= upTo
      val p = seedP.unionByName(
        spark.read.parquet(s"$deltaPath/postings")
          .filter(live)
          .select(cols.map(col): _*))
      val m = seedM.unionByName(
          spark.read.parquet(s"$deltaPath/meta")
            .filter(live)
            .select("n_docs", "tot_tokens"))
        .agg(sum("n_docs").as("n_docs"), sum("tot_tokens").as("tot_tokens"))
      (p, m)
    }
  }

  /** Fold accumulated delta partitions into a fresh seed so delta
    * state stays bounded over the stream's lifetime — the
    * [[RollupStream.compact]] move applied to the index pair: write
    * the merged postings/meta + the new watermark under `seed__maint`,
    * rename-swap over the seed (crash-safe: a missing live seed fails
    * the next serve LOUDLY rather than under-counting), then delete
    * ONLY the folded delta partitions — a batch the stream commits
    * mid-compact stays live, so compact is safe to run concurrently
    * with maintenance.
    * Served results unchanged by construction — spec asserts
    * bit-equality across a compaction. */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val dp = new Path(s"$deltaPath/postings")
    val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!DeltaLayout.hasDeltaPartitions(spark, s"$deltaPath/postings")) return // nothing to fold
    val maxBatch = spark.read.parquet(s"$deltaPath/postings")
      .agg(max(col("batch_id").cast("long"))).head() match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
    // fold ONLY batches ≤ maxBatch: one committed between this read and
    // the swap stays a live delta (> the new watermark) for next time
    val (p, m) = liveIndexBounded(spark, seedPath, deltaPath, maxBatch)
    val (pc, mc) = (p.localCheckpoint(), m.localCheckpoint())
    val tmp = seedPath + "__maint"
    pc.write.mode("overwrite").parquet(s"$tmp/postings")
    mc.write.mode("overwrite").parquet(s"$tmp/meta")
    val newFolded = math.max(maxBatch,
      DeltaLayout.foldedThrough(spark, seedPath))
    if (newFolded >= 0) DeltaLayout.writeFoldedMarker(fs, tmp, newFolded)
    DeltaLayout.swapLive(fs, tmp, seedPath)
    // delete ONLY the folded partitions (batch_id ≤ the new watermark):
    // a micro-batch committed while compact ran sits above it, the
    // checkpoint never replays a committed batch, and a blanket delete
    // of the delta root would lose it permanently
    DeltaLayout.deleteFoldedPartitions(
      fs, new Path(s"$deltaPath/postings"), newFolded)
    DeltaLayout.deleteFoldedPartitions(
      fs, new Path(s"$deltaPath/meta"), newFolded)
  }

  /** Serve a BM25 search over everything ingested so far. */
  def serveSearch(
      spark: SparkSession, seedPath: String, deltaPath: String,
      queries: DataFrame, termsLiteral: Seq[String], k: Int = 10): DataFrame = {
    val (p, m) = liveIndex(spark, seedPath, deltaPath)
    Retrieval.bm25FromIndex(p, m, queries, termsLiteral, k = k)
  }

  /** Measured driver entry: seed from even doc_ids, stream the odd
    * half through maintenance, serve the driver's query set — must
    * hash-match the full-corpus q_bm25_search oracle. */
  def searchMaintainRun(
      spark: SparkSession, dir: String,
      queries: DataFrame, termsLiteral: Seq[String]): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_stream")
    val src = root.resolve("src").toString
    StreamMeter.timeSeed("q_stream_bm25") {
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
