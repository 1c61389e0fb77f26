package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructType}

/** The `seed artifact + per-batch delta partitions` exactly-once state
  * layout every maintained `*Stream` shares ([[AdditiveStream]],
  * [[SignedGraphStream]], [[SignedIndexLayout]], [[TrianglesStream]],
  * [[PageRankStream]], [[SemDedupStream]], [[ExpectationsStream]],
  * and the ingest gates: [[CurationStream]]'s quality, audit and
  * phrase gates, [[ExpectationsStream.gateRun]], the
  * [[EventsStream.sessionWindowRun]] sessions, [[DriftStream]],
  * [[DedupStream]], [[ImageStream]], [[AnnStream]] and
  * [[ResolutionStream]]), and the one home of its protocol:
  *
  *  - landing ([[maintain]], [[landBatch]]): a micro-batch at or below
  *    the seed's watermark is skipped (already folded — a late retry
  *    must not double-count); the rest land as a dynamic-overwrite
  *    `batch_id` partition, so a retried batch replaces its own
  *    attempt;
  *  - the compaction watermark rides INSIDE the seed directory
  *    ("_"-prefixed: invisible to the parquet reader, like _SUCCESS),
  *    so a compact's rename swap commits artifact + watermark
  *    atomically, and serving excludes delta partitions at or below
  *    it (their content lives in the seed);
  *  - folding ([[fold]]) writes the new seed for a FIXED batch range
  *    and deletes ONLY the folded partitions: a micro-batch the
  *    stream commits mid-compact sits above the new watermark, the
  *    streaming checkpoint never replays a committed batch, and a
  *    blanket delete of the delta root would lose it permanently;
  *  - the measured lifecycle ([[run]]): seed, one micro-batch per
  *    staged file (one file for a table split in halves,
  *    [[stageHalves]]), an optional compaction, serve. A gate is the
  *    lifecycle with no compaction: its seed is the reference it
  *    scores against (or nothing, [[gateRun]]), its batches land
  *    their verdicts ([[landEach]]) and it serves the landed rows.
  */
private[graft] object DeltaLayout {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run INDEPENDENT driver actions concurrently (guide §2.6 — overlap
    * independent jobs so one job's straggler tail back-fills with the
    * next job's tasks): the compaction/seed face writes each trigger
    * their own bounded job chain against disjoint output paths, and
    * serializing them leaves most cores idle through every tail. The
    * pool is sized to the task list (compactions have 2-5 faces);
    * failures propagate — the first failed task's exception rethrows
    * after the pool drains, exactly as the sequential form would. */
  private[streaming] def overlap(tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          tasks.map(t => scala.concurrent.Future(t()))),
        scala.concurrent.duration.Duration.Inf): Unit
    finally pool.shutdown()
  }

  /** Delete a local directory tree bottom-up (no-op when absent) —
    * the cleanup of every bounded harness's private temp root. The
    * `Files.walk` stream is closed before deleting: an open walk
    * holds its directories open until it is closed. */
  def rmTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }

  private def foldedMarker(seedPath: String) =
    new Path(seedPath + "/_folded_through")

  /** Batches with id ≤ this are folded into the seed (−1 = none). */
  def foldedThrough(spark: SparkSession, seedPath: String): Long = {
    val p = foldedMarker(seedPath)
    val f = fs(spark, seedPath)
    if (!f.exists(p)) -1L
    else {
      val in = f.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Write the watermark marker into `dir` (the pre-swap tmp seed). */
  private def writeFoldedMarker(f: FileSystem, dir: String, value: Long): Unit = {
    val out = f.create(new Path(dir + "/_folded_through"), true)
    try out.write(value.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** True iff `dir` holds at least one batch_id partition — a bare
    * existence check would hand a partition-less directory (all
    * partitions just compacted away) to the parquet reader, which
    * fails schema inference. */
  def hasDeltaPartitions(spark: SparkSession, dir: String): Boolean = {
    val dp = new Path(dir)
    val f = fs(spark, dir)
    f.exists(dp) &&
      f.listStatus(dp).exists(_.getPath.getName.startsWith("batch_id="))
  }

  /** True iff at least one landed delta batch is LIVE (above the
    * seed's compaction watermark) — a driver-side directory listing,
    * no Spark job. The empty-serve fast path every stream face shares:
    * right after a compaction folded everything, serving is a plain
    * read of the seed artifact, and the incremental fold machinery
    * (touched-set scoping, star contraction, re-peels — each a chain
    * of Spark jobs) is provably a no-op over an empty delta (the
    * untouched pass-through keeps every prior row and the refreshed
    * slice of an empty subgraph is empty; spec-asserted per face). */
  def hasLiveBatches(
      spark: SparkSession, seedPath: String, deltaPath: String): Boolean = {
    val folded = foldedThrough(spark, seedPath)
    batchIds(spark, deltaPath).exists(_ > folded)
  }

  /** The batch ids with a landed partition under `dir` — a driver-side
    * directory listing, bounded by the number of micro-batches. What a
    * multi-face writer consults to serve only batches whose COMMIT
    * face landed (a crash between two faces' writes must leave the
    * half-landed batch invisible, not half-served). */
  def batchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val dp = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(dp)) Seq.empty
    else f.listStatus(dp).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch_id="))
        scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
      else None
    }
  }

  /** Crash-safe replacement of the live artifact directory by the
    * complete `tmp` one. The old delete-then-rename left a window with
    * NO live directory at all (crash after the delete → serving fails,
    * or silently sees watermark −1, until someone hand-restores the
    * maint dir). Here the live root renames ASIDE first, so a COMPLETE
    * artifact exists at the live or a recoverable path at every
    * instant:  live → live__old,  tmp → live,  delete __old. A crash
    * between the renames leaves __old (prior) AND tmp (new) both
    * complete; a crash before the final delete leaves a stale __old
    * that the next swap clears. A failed second rename restores the
    * prior live before failing loudly. (Object-store renames are
    * copies — run this against a filesystem with atomic-ish rename or
    * behind a path pointer.) Callers: the `*Stream` compactions,
    * [[IndexMaintenance]], and `graft.sources.Sinks`' upsert and
    * compaction, which also recover a crash between the renames before
    * they read the live path. */
  def swapLive(f: FileSystem, tmp: String, live: String): Unit = {
    val liveP = new Path(live)
    val oldP = new Path(live + "__old")
    if (f.exists(oldP)) f.delete(oldP, true): Unit // stale from a prior crash
    if (f.exists(liveP) && !f.rename(liveP, oldP))
      throw new java.io.IOException(
        s"swapLive: rename $live -> $oldP failed; live artifact untouched, " +
          s"complete new artifact remains at $tmp")
    if (!f.rename(new Path(tmp), liveP)) {
      // the restore can itself fail — report what actually happened,
      // not what was attempted (an operator acting on "restored" when
      // nothing was would look for a serving artifact that isn't there)
      val restored = f.exists(oldP) && f.rename(oldP, liveP)
      throw new java.io.IOException(
        s"swapLive: rename $tmp -> $live failed; " +
          (if (restored) "prior live restored"
           else s"restore ALSO failed — recover manually from $oldP") +
          s", complete new artifact remains at $tmp")
    }
    f.delete(oldP, true): Unit
  }

  /** The live (unfolded) delta rows: batches above the seed's
    * watermark and at or below `upTo`, projected to `cols` —
    * the serving/compaction read every DeltaLayout stream shares. A
    * missing or partition-less delta directory yields an empty frame
    * with the schema of `emptySchemaFrom` (a seed subdirectory).
    * `distinctRows` dedups across batches (set-valued states: edges);
    * additive states (weight increments) must keep duplicates. */
  def liveDeltaRows(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long, cols: Seq[String], emptySchemaFrom: String,
      distinctRows: Boolean): DataFrame = {
    val folded = foldedThrough(spark, seedPath)
    if (!hasDeltaPartitions(spark, deltaPath))
      readParquet(spark, emptySchemaFrom)
        .select(cols.map(col): _*).limit(0)
    else {
      val live = readParquet(spark, deltaPath)
        .filter(col("batch_id") > folded && col("batch_id") <= upTo)
        .select(cols.map(col): _*)
      if (distinctRows) live.distinct() else live
    }
  }

  /** `spark.read.parquet(dir)` without its schema-inference Spark job:
    * the schema is the one Spark stored in the footer of one part file,
    * read on the driver. A `batch_id=` partitioned directory (a delta
    * face) gets `batch_id` as a long column. Falls back to inference
    * when no part file carries a Spark schema. */
  def readParquet(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    def parts(p: Path) = f.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
    val top = f.listStatus(new Path(dir)).toSeq
    val partitions = top.filter(_.getPath.getName.startsWith("batch_id="))
    val footerSchema = (parts(new Path(dir)) ++
        partitions.headOption.toSeq.flatMap(st => parts(st.getPath)))
      .headOption.flatMap { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            st, spark.sparkContext.hadoopConfiguration))
        try Option(r.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally r.close()
      }
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    footerSchema match {
      case Some(s) =>
        spark.read
          .schema(if (partitions.isEmpty) s else s.add("batch_id", "long"))
          .parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  /** Highest landed batch id in the delta directory (−1 when none) —
    * the [[batchIds]] listing, so a compaction learns its fold range
    * without submitting a Spark job. */
  def maxBatchId(spark: SparkSession, deltaPath: String): Long =
    batchIds(spark, deltaPath).maxOption.getOrElse(-1L)

  /** Delete ONLY the delta partitions folded into the seed
    * (batch_id ≤ `upTo`) — see the class doc for why a blanket delete
    * is a data-loss bug. */
  private[graft] def deleteFoldedPartitions(f: FileSystem, dir: Path, upTo: Long): Unit =
    if (f.exists(dir)) {
      f.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        val folded = n.startsWith("batch_id=") &&
          scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
            .exists(_ <= upTo)
        if (folded) f.delete(st.getPath, true): Unit
      }
    }

  /** Land one micro-batch's frame as its `batch_id` partition of
    * `dir`, dynamic overwrite: a retried batch replaces its previous
    * attempt instead of double-counting. */
  def landBatch(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** Launch maintenance over a streaming frame: every micro-batch
    * above the seed's compaction watermark goes to `land` with its
    * batch id; one at or below it is skipped (already folded in). */
  def maintain(newRows: DataFrame, seedPath: String, checkpoint: String)(
      land: (DataFrame, Long) => Unit): StreamingQuery =
    newRows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (batchId > foldedThrough(batch.sparkSession, seedPath))
          land(batch.toDF(), batchId)
      }
      .start()

  /** [[maintain]] with one face: every micro-batch lands `delta` of
    * its own rows as its `batch_id` partition of `deltaPath` — so a
    * replayed batch replaces its rows instead of appending them
    * twice. */
  def landEach(
      newRows: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String)(delta: DataFrame => DataFrame): StreamingQuery =
    maintain(newRows, seedPath, checkpoint) { (batch, batchId) =>
      landBatch(delta(batch), batchId, deltaPath)
    }

  /** The compaction commit every stream shares: with at least one
    * partition under the commit face (`deltaPath/commitFace`, or the
    * delta root itself), `write(upTo, tmp)` writes the new seed faces
    * under `seedPath__maint` for the fixed range batch_id ≤ `upTo`;
    * the watermark marker lands beside them, [[swapLive]] commits
    * both, and the folded partitions of every face directory under
    * the delta root are deleted. A batch committed while `write` runs
    * sits above `upTo` and stays live. */
  def fold(
      spark: SparkSession, seedPath: String, deltaPath: String,
      commitFace: String = "")(write: (Long, String) => Unit): Unit = {
    val commit = if (commitFace.isEmpty) deltaPath else s"$deltaPath/$commitFace"
    if (!hasDeltaPartitions(spark, commit)) return
    val upTo = maxBatchId(spark, commit)
    val tmp = seedPath + "__maint"
    write(upTo, tmp)
    val f = fs(spark, seedPath)
    val newFolded = math.max(upTo, foldedThrough(spark, seedPath))
    if (newFolded >= 0) writeFoldedMarker(f, tmp, newFolded)
    swapLive(f, tmp, seedPath)
    val root = new Path(deltaPath)
    val faces = f.listStatus(root).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && !n.startsWith("batch_id=") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.map(_.getPath)
    (root +: faces).foreach(deleteFoldedPartitions(f, _, newFolded))
  }

  /** The one-micro-batch staging of the measured entries that split a
    * table in two: the rows with an even `idCol` go to `seedWith`, the
    * odd ones are written under `src` as ONE file (one micro-batch of
    * [[run]]) and returned. */
  def stageHalves(
      rows: DataFrame, idCol: String, seedWith: DataFrame => Unit,
      src: String): DataFrame = {
    seedWith(rows.filter(col(idCol) % 2 === 0))
    val d = rows.filter(col(idCol) % 2 =!= 0)
    d.coalesce(1).write.mode("overwrite").parquet(src)
    d
  }

  /** The measured lifecycle every stream entry shares, each phase
    * timed under `entry` in [[StreamMeter]]: `stage(seedPath, src)`
    * writes the seed and the source files and returns a frame whose
    * schema seeds the file source; `launch(source, seedPath,
    * deltaPath, checkpoint)` starts the maintenance query, which
    * drains one file per micro-batch (a staging decides the batch
    * count by how many files it writes); the entry compacts when it
    * `compacts`; and the served frame is checkpointed off the private
    * temp root before the root is removed. */
  def run(
      spark: SparkSession, entry: String, compacts: Boolean,
      stage: (String, String) => DataFrame,
      launch: (DataFrame, String, String, String) => StreamingQuery,
      compact: (String, String) => Unit,
      serve: (String, String) => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_$entry")
    val src = root.resolve("src").toString
    val seedPath = root.resolve("seed").toString
    val deltaPath = root.resolve("delta").toString
    try {
      val staged = StreamMeter.timeSeed(entry) { stage(seedPath, src) }
      val q = launch(
        spark.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        seedPath, deltaPath, root.resolve("ckpt").toString)
      StreamMeter.timePhase(entry, "batch") {
        try q.processAllAvailable() finally q.stop()
      }
      if (compacts) StreamMeter.timePhase(entry, "compact") {
        compact(seedPath, deltaPath)
      }
      StreamMeter.timePhase(entry, "serve") {
        serve(seedPath, deltaPath).localCheckpoint()
      }
    } finally rmTree(root)
  }

  /** The measured lifecycle of a gate that seeds nothing: `rows` are
    * staged as ONE file (one micro-batch, as the whole table), each
    * batch lands `verdict` of its rows through [[landEach]], and the
    * landed verdicts are served. */
  def gateRun(spark: SparkSession, entry: String, rows: DataFrame)(
      verdict: DataFrame => DataFrame): DataFrame =
    run(spark, entry, compacts = false,
      (_, src) => { rows.coalesce(1).write.mode("overwrite").parquet(src); rows },
      landEach(_, _, _, _)(verdict), (_, _) => (),
      (_, delta) => readParquet(spark, delta).drop("batch_id"))
}
