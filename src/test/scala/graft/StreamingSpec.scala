package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream

/** Structured Streaming specs: file-source stream driven synchronously
  * via the memory sink, compared against the batch twin. */
class StreamingSpec extends AnyFunSuite with SparkSessionTestBase {

  test("windowedAgg over a stream matches the batch aggregation") {
    // Stage the events parquet into a clean stream-source dir.
    val dir = tempRoot("evstream").toString
    Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)

    val q = EventsStream.windowedAgg(EventsStream.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out")
      val batch = spark.read.parquet(dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      assert(got.count() === batch.count())
      assert(got.agg(sum("n_events")).collect().head.getLong(0) ===
        spark.read.parquet(dir).count())
    } finally q.stop()
  }

  test("dedupStream drops replayed events within the watermark horizon") {
    val dir = tempRoot("dedupstream").toString
    val events = Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .limit(500)
    // replay the feed: every event lands twice (the queue-redelivery case)
    events.unionAll(events).write.mode("overwrite").parquet(dir)

    val q = EventsStream.dedupStream(EventsStream.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out")
      assert(got.count() === 500)
      assert(got.select("event_id").distinct().count() === 500)
    } finally q.stop()
  }

  test("enrichStream joins the static dimension per micro-batch, keeping misses") {
    import spark.implicits._
    val dir = tempRoot("enrichstream").toString
    Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .limit(200)
      .write.mode("overwrite").parquet(dir)
    // derive the dim from the parquet actually written: re-evaluating the
    // limit(200) plan could pick a different row set
    // (dimension covers only even user ids — odd ids must survive as nulls)
    val dim = spark.read.parquet(dir).select("user_id").distinct()
      .filter(col("user_id") % 2 === 0)
      .withColumn("segment", concat(lit("seg"), col("user_id") % 3))
    val q = EventsStream.enrichStream(EventsStream.readEvents(spark, dir), dim)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out")
      assert(got.count() === 200) // left join: no event dropped
      assert(got.filter(col("user_id") % 2 === 0)
        .filter(col("segment").isNull).count() === 0)
      assert(got.filter(col("user_id") % 2 === 1)
        .filter(col("segment").isNotNull).count() === 0)
    } finally q.stop()
  }

  test("attributionJoin matches purchases to in-horizon views only") {
    val dir = tempRoot("attrstream").toString
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    ev.write.mode("overwrite").parquet(dir)
    val stream = EventsStream.readEvents(spark, dir)
    val q = EventsStream.attributionJoin(
        stream.filter(col("event_type") === "view"),
        stream.filter(col("event_type") === "purchase"))
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attr_out")
      // batch twin: plain inner join with the same time-range condition
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      val expected = purchases.join(views, Seq("user_id"))
        .filter(col("view_ts") <= col("purchase_ts") &&
          col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
        .count()
      assert(got.count() === expected)
      assert(expected > 0)
      // every emitted pair respects the horizon
      assert(got.filter(col("view_ts") > col("purchase_ts")).count() === 0)
      assert(got.filter(
        col("view_ts") < col("purchase_ts") - expr("INTERVAL 1 HOUR")).count() === 0)
    } finally q.stop()
  }

  test("curationSignals is stream-safe and matches its batch twin exactly") {
    val dir = tempRoot("curatestream").toString
    Tables.documents(spark, sfDir).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = graft.operators.Curation
      .curationSignals(spark.readStream.schema(schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("curate_out").orderBy("doc_id")
        .collect().map(_.toString).toSeq
      val batch = graft.operators.Curation
        .curationSignals(spark.read.parquet(dir)).orderBy("doc_id")
        .collect().map(_.toString).toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("semanticGate: stream pair set equals the batch twin over the int8 index") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val corpus = emb.filter(col("vec_id") < 400)
    val b1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    // plant guaranteed cross-batch semantic dups: batch 2 re-sends
    // three batch-1 vectors (tiny multiplicative nudge, cos ≈ 1) under
    // fresh ids — only a GROWN index can catch them
    val b2 = emb.filter(col("vec_id") >= 450)
      .unionAll(emb.filter(col("vec_id") >= 400 && col("vec_id") < 403)
        .withColumn("vec_id", col("vec_id") + 1000)
        .withColumn("embedding",
          expr("transform(embedding, x -> cast(x * 1.001 as float))")))

    val root = tempRoot("semgate").toString
    val indexDir = s"$root/index"
    val pairsDir = s"$root/pairs"
    val srcDir = s"$root/src"
    graft.streaming.AnnStream.seedIndex(corpus, indexDir)

    Files.createDirectories(Paths.get(srcDir))
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = Paths.get(srcDir, s"$name.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      assert(dest.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis() - 120000
    stage(b1, "b1", t0)
    stage(b2, "b2", t0 + 60000)

    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.AnnStream.semanticGate(
      stream, indexDir, pairsDir, s"$root/ckpt", threshold = 0.9)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(pairsDir)
      .select("vec_new", "vec_corpus", "est_cos")
      .collect().map(_.toString).toSet
    // batch twin, composed over the same index evolution
    val corpusSq = Similarity.sqIndex(corpus).localCheckpoint()
    val b1Sq = Similarity.sqIndex(b1).localCheckpoint()
    val expected = Similarity.sqNearDupAgainst(b1, corpusSq, threshold = 0.9)
      .unionAll(Similarity.sqNearDupAgainst(
        b2, corpusSq.unionAll(b1Sq), threshold = 0.9))
      .collect().map(_.toString).toSet
    assert(got === expected)
    // the planted re-sends surface as cross-batch pairs at cos ≈ 1
    val crossBatch = spark.read.parquet(pairsDir)
      .filter(col("vec_new") === col("vec_corpus") + 1000 &&
        col("vec_new") >= 1400 && col("vec_new") < 1403)
    assert(crossBatch.count() === 3)
    assert(crossBatch.agg(min("est_cos")).collect().head.getDouble(0) > 0.99)
    // the index grew by both batches' rows
    assert(spark.read.parquet(indexDir).count() ===
      corpus.count() + b1.count() + b2.count())
    // maintenance: collapse + compact changes nothing the gate reports
    val before = spark.read.parquet(indexDir).count()
    graft.streaming.AnnStream.maintainIndex(spark, indexDir)
    assert(spark.read.parquet(indexDir).count() === before)
    val replay = Similarity.sqNearDupAgainst(b1,
        spark.read.parquet(indexDir)
          .filter(col("batch_id") === -1L)
          .select("vec_id", "qv", "scale", "norm"),
        threshold = 0.9)
      .collect().map(_.toString).toSet
    val replayExpected = Similarity.sqNearDupAgainst(b1, corpusSq, threshold = 0.9)
      .collect().map(_.toString).toSet
    assert(replay === replayExpected)
  }

  test("nearDupGate: stream pair set equals the batch twin and the index grows") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = docs.filter(col("doc_id") < 400)
    val b1 = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
    // plant guaranteed cross-batch near-dups: batch 2 re-sends three
    // batch-1 texts under fresh ids — only a GROWN index can catch them
    val b2 = docs.filter(col("doc_id") >= 450)
      .unionAll(docs.filter(col("doc_id") >= 400 && col("doc_id") < 403)
        .withColumn("doc_id", col("doc_id") + 1000))

    val root = tempRoot("neardupgate").toString
    val indexDir = s"$root/index"
    val pairsDir = s"$root/pairs"
    val srcDir = s"$root/src"
    graft.streaming.DedupStream.seedIndex(corpus, indexDir)

    // stage each micro-batch as one file with ordered mtimes so the
    // file source (oldest-first) processes b1 before b2
    Files.createDirectories(Paths.get(srcDir))
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = Paths.get(srcDir, s"$name.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      assert(dest.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis() - 120000
    stage(b1, "b1", t0)
    stage(b2, "b2", t0 + 60000)

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.DedupStream.nearDupGate(
      stream, indexDir, pairsDir, s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(pairsDir)
      .select("doc_new", "doc_corpus", "est_jaccard")
      .collect().map(_.toString).toSet
    // batch twin, composed over the same index evolution
    val corpusSigs = Dedup.minhashSignatures(corpus).localCheckpoint()
    val b1Sigs = Dedup.minhashSignatures(b1).localCheckpoint()
    val expected = Dedup.minhashPairsAgainst(b1, corpusSigs)
      .unionAll(Dedup.minhashPairsAgainst(b2, corpusSigs.unionAll(b1Sigs)))
      .collect().map(_.toString).toSet
    assert(got === expected)
    assert(got.nonEmpty)
    // the planted re-sends surface as cross-batch pairs (est < 1.0 is
    // possible for short docs: empty-slot densification seeds on the
    // NEW doc_id, so identical text under a fresh id drifts slightly)
    val crossBatch = spark.read.parquet(pairsDir)
      .filter(col("doc_new") === col("doc_corpus") + 1000 &&
        col("doc_new") >= 1400 && col("doc_new") < 1403)
    assert(crossBatch.count() === 3)
    // the index grew by both batches' signatures
    val expectedIdx = corpusSigs.count() + b1Sigs.count() +
      Dedup.minhashSignatures(b2).count()
    assert(spark.read.parquet(indexDir).count() === expectedIdx)
  }

  test("nearDupGateRun: the measured driver entry equals the frozen batch twin") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, dir)
    val got = graft.streaming.DedupStream.nearDupGateRun(spark, dir)
    assert(got.columns.toSeq === Seq("doc_new", "doc_corpus", "est_jaccard"))
    // the gate's anti-join removes the batch's own ids from the full
    // corpus index, so the twin is pairs(batch, corpus − batch)
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 =!= 0)
    val expected = Dedup.minhashPairsAgainst(batch,
        Dedup.minhashSignatures(rest).localCheckpoint())
      .collect().map(_.toString).toSet
    assert(got.collect().map(_.toString).toSet === expected)
    assert(expected.nonEmpty)
  }

  test("nearDupGate with growIndex=false leaves the index frozen") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = docs.filter(col("doc_id") < 400)
    val incoming = docs.filter(col("doc_id") >= 400)

    val root = tempRoot("neardupfrozen").toString
    graft.streaming.DedupStream.seedIndex(corpus, s"$root/index")
    incoming.write.parquet(s"$root/src")
    val idxCountBefore = spark.read.parquet(s"$root/index").count()

    val stream = spark.readStream.schema(docs.schema).parquet(s"$root/src")
    val q = graft.streaming.DedupStream.nearDupGate(
      stream, s"$root/index", s"$root/pairs", s"$root/ckpt", growIndex = false)
    try q.processAllAvailable() finally q.stop()

    // frozen index: batches check against the corpus only
    assert(spark.read.parquet(s"$root/index").count() === idxCountBefore)
    val got = spark.read.parquet(s"$root/pairs")
      .select("doc_new", "doc_corpus", "est_jaccard")
      .collect().map(_.toString).toSet
    val expected = Dedup.minhashPairsAgainst(incoming,
        Dedup.minhashSignatures(corpus).localCheckpoint())
      .collect().map(_.toString).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("nearDupGate retry: a pre-grown index yields no self or intra-batch pairs") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = docs.filter(col("doc_id") < 400)
    val b1 = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)

    val root = tempRoot("neardupretry").toString
    graft.streaming.DedupStream.seedIndex(corpus, s"$root/index")
    // simulate the failure window: the original attempt wrote its
    // growth partition (batch_id=0) but died before the checkpoint
    // commit, so the retry's snapshot contains b1's own signatures
    Dedup.minhashSignatures(b1).withColumn("batch_id", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$root/index")
    b1.write.parquet(s"$root/src")

    val stream = spark.readStream.schema(docs.schema).parquet(s"$root/src")
    val q = graft.streaming.DedupStream.nearDupGate(
      stream, s"$root/index", s"$root/pairs", s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(s"$root/pairs")
      .select("doc_new", "doc_corpus", "est_jaccard")
    // no self-pairs, nothing against the batch's own ids
    assert(got.filter(col("doc_new") === col("doc_corpus")).count() === 0)
    assert(got.filter(col("doc_corpus") >= 400 && col("doc_corpus") < 450).count() === 0)
    // pair set identical to a clean first run against the corpus only
    val expected = Dedup.minhashPairsAgainst(b1,
        Dedup.minhashSignatures(corpus).localCheckpoint())
      .collect().map(_.toString).toSet
    assert(got.collect().map(_.toString).toSet === expected)
    // and the growth partition was REPLACED, not double-appended
    assert(spark.read.parquet(s"$root/index").filter(col("batch_id") === 0)
      .count() === b1.count())
  }

  test("maintainIndex collapses duplicate doc_ids and shrinks files, pairs unchanged") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = docs.filter(col("doc_id") < 400)
    val probe = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)

    val root = tempRoot("neardupmaint").toString
    val indexDir = s"$root/index"
    graft.streaming.DedupStream.seedIndex(corpus, indexDir)
    // legacy double-append: the same docs land again in a later batch
    // partition, spread over many small files
    Dedup.minhashSignatures(corpus.limit(100)).withColumn("batch_id", lit(7L))
      .repartition(16)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(indexDir)

    def pairsNow(): Set[String] =
      Dedup.minhashPairsAgainst(probe,
          spark.read.parquet(indexDir).select("doc_id", "sig"))
        .dropDuplicates("doc_new", "doc_corpus")
        .collect().map(_.toString).toSet
    def fileCount(): Int = spark.read.parquet(indexDir).inputFiles.length

    val pairsBefore = pairsNow()
    val filesBefore = fileCount()
    assert(spark.read.parquet(indexDir).groupBy("doc_id").count()
      .filter(col("count") > 1).count() === 100)

    graft.streaming.DedupStream.maintainIndex(spark, indexDir)

    // duplicates collapsed to the first arrival (seed partition -1)
    val idx = spark.read.parquet(indexDir)
    assert(idx.groupBy("doc_id").count().filter(col("count") > 1).count() === 0)
    assert(idx.filter(col("batch_id") === 7L).count() === 0)
    assert(idx.count() === corpus.count())
    assert(pairsNow() === pairsBefore)
    assert(pairsBefore.nonEmpty)
    assert(fileCount() < filesBefore)
  }

  /** The measured lifecycles' temp roots now in the JVM temp dir. */
  private def streamRoots(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .toSet.flatten.filter(_.startsWith("graft_q_stream_"))

  test("sessionWindowRun (streaming) equals the batch session_window twin") {
    val rootsBefore = streamRoots()
    val streamed = SparkEntry.queries("q_stream_session_window")(spark, sfDir)
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Etl.sessionWindows(Tables.events(spark, sfDir))
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // a gap WIDER than the old fixed 2h-sentinel margin: the flush
    // sentinel must scale with the gap or every user's tail session is
    // silently dropped from the append-mode output
    val wideGap = graft.streaming.EventsStream
      .sessionWindowRun(spark, sfDir, gapMinutes = 150)
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
      .collect().map(_.toString).toSeq
    val wideBatch = graft.operators.Etl
      .sessionWindows(Tables.events(spark, sfDir), gapMinutes = 150)
      .collect().map(_.toString).toSeq
    assert(wideGap === wideBatch)
    assert(wideGap.nonEmpty)
    // after two runs no result view is registered (no rows pinned in
    // driver memory) and no lifecycle root is left behind
    val sessTables = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_sess_stream_"))
    assert(sessTables.isEmpty, sessTables.mkString(","))
    assert(streamRoots() -- rootsBefore === Set.empty[String])
  }

  test("qualityGateRun (streaming) equals the batch curationSignals twin") {
    val rootsBefore = streamRoots()
    val streamed = SparkEntry.queries("q_stream_quality_gate")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Curation
      .curationSignals(Tables.documents(spark, sfDir))
      .select("doc_id", "lang_pred", "n_tokens", "row_keep", "row_reason")
      .orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // after two runs no result view is registered, no lifecycle root
    // is left behind, and the gate's phases were timed
    graft.streaming.CurationStream.qualityGateRun(spark, sfDir).collect()
    val gateTables = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_qgate_"))
    assert(gateTables.isEmpty, gateTables.mkString(","))
    assert(streamRoots() -- rootsBefore === Set.empty[String])
    assert(Set("seed", "batch", "serve").subsetOf(graft.streaming.StreamMeter
      .phaseSnapshot("q_stream_quality_gate").keySet))
  }

  test("driftMonitorRun (streaming) equals the batch divergenceAgainst twin") {
    val docs = Tables.documents(spark, sfDir)
    val streamed = SparkEntry.queries("q_stream_drift")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.TextAnalysis
      .divergenceAgainst(docs, graft.operators.TextAnalysis.termCounts(docs))
      .orderBy("source")
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("rollupMaintainRun (streaming) equals the direct full-corpus rollup") {
    val docs = Tables.documents(spark, sfDir)
    val streamed = SparkEntry.queries("q_stream_rollup")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val direct = graft.operators.Etl.corpusRollup(docs)
      .collect().map(_.toString).toSeq
    assert(streamed === direct)
    assert(streamed.nonEmpty)
  }

  test("auditGateRun (streaming) equals the batch auditScan twin") {
    val docs = Tables.documents(spark, sfDir)
    val patterns = Seq("batch stream", "dup")
    val streamed = graft.streaming.CurationStream
      .auditGateRun(spark, sfDir, patterns)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Retrieval.auditScan(docs, patterns)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(streamed === batch)
    // both patterns exercised, and first-match order decides overlaps
    val byPat = graft.operators.Retrieval.auditScan(docs, patterns)
      .groupBy("matched_pattern").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    assert(byPat.contains("batch stream") && byPat.contains("dup"))
    val reversed = graft.operators.Retrieval.auditScan(docs, patterns.reverse)
      .groupBy("matched_pattern").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    // same flagged total under either order; attribution shifts
    assert(byPat.filterNot(_._1 == "null").values.sum ===
      reversed.filterNot(_._1 == "null").values.sum)
  }

  test("expectations gateRun (streaming) equals the batch rowAudit twin") {
    import graft.operators.Expectations
    import graft.operators.Expectations.Check._
    val li = Tables.lineitem(spark, sfDir)
    val parents = Map("part" -> Tables.part(spark, sfDir))
    val ids = Seq("l_orderkey", "l_linenumber")
    val checks = Seq(
      NotNull("l_orderkey"),
      InRange("l_quantity", 1.0, 30.0),
      AcceptedValues("l_returnflag", Seq("A", "N", "R")),
      ForeignKey("l_partkey", "part", "p_partkey"))
    val streamed = graft.streaming.ExpectationsStream
      .gateRun(spark, li, parents, ids, checks)
      .collect().map(_.toString).toSeq
    val batch = Expectations.rowAudit(li, parents, ids, checks)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    // both verdict polarities live, and the range label actually fires
    assert(streamed.exists(_.contains("in_range(l_quantity")))
    assert(batch.count(_.contains("true")) > 0)
    // rowAudit violation totals reconcile with verify()'s counters
    val totals = Expectations.rowAudit(li, parents, ids, checks)
      .selectExpr("explode(split(violated, ';')) AS c").where("c <> ''")
      .groupBy("c").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val verdicts = Expectations.verify(
        Map("lineitem" -> li, "part" -> parents("part")),
        checks.map("lineitem" -> _))
      .collect().map(r => r.getString(2) -> r.getLong(4)).toMap
    verdicts.foreach { case (lbl, n) =>
      assert(totals.getOrElse(lbl, 0L) === n, lbl)
    }
    // Unique is corpus-level: the row gate must refuse it
    intercept[IllegalArgumentException] {
      Expectations.rowAudit(li, parents, ids, Seq(Unique(Seq("l_orderkey"))))
    }
  }

  test("stream-maintained verdict partials serve verify() exactly, across compaction") {
    import graft.operators.Expectations
    import graft.operators.Expectations.Check._
    val tables = Map(
      "lineitem" -> Tables.lineitem(spark, sfDir),
      "part" -> Tables.part(spark, sfDir))
    val checks = Seq(
      "lineitem" -> NotNull("l_orderkey"),
      "lineitem" -> Unique(Seq("l_orderkey", "l_linenumber")),
      "lineitem" -> InRange("l_quantity", 1.0, 30.0),
      "lineitem" -> ForeignKey("l_partkey", "part", "p_partkey"))
    val streamed = graft.streaming.ExpectationsStream
      .verdictsMaintainRun(spark, tables, "lineitem", checks)
      .collect().map(_.toString).toSeq
    val batch = Expectations.verify(tables, checks)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    // manual pre/post-compaction equality on the live serve path
    val root = tempRoot("graft_verd_spec")
    val li = tables("lineitem")
    val src = root.resolve("src").toString
    li.filter(col("l_orderkey") % 2 =!= 0).write.mode("overwrite").parquet(src)
    graft.streaming.ExpectationsStream.seedPartials(
      tables + ("lineitem" -> li.filter(col("l_orderkey") % 2 === 0)),
      checks, root.resolve("seed").toString)
    val q = graft.streaming.ExpectationsStream.partialsMaintain(
      spark.readStream.schema(li.schema).parquet(src), "lineitem",
      tables.map { case (n, df) => n -> df.limit(0) }, checks,
      root.resolve("seed").toString, root.resolve("delta").toString,
      root.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    val before = graft.streaming.ExpectationsStream.liveVerdicts(
        spark, root.resolve("seed").toString, root.resolve("delta").toString,
        checks).collect().map(_.toString).toSeq
    graft.streaming.ExpectationsStream.compact(
      spark, root.resolve("seed").toString, root.resolve("delta").toString)
    val after = graft.streaming.ExpectationsStream.liveVerdicts(
        spark, root.resolve("seed").toString, root.resolve("delta").toString,
        checks).collect().map(_.toString).toSeq
    assert(before === after)
    assert(after === batch)
  }

  test("signed BM25 stream: replace/remove/net-resolution serve the " +
      "surviving corpus exactly; guards raise; compaction invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.Bm25SignedStream
    val queries = Seq((0L, "bb cc"), (1L, "ee")).toDF("query_id", "query_text")
    val terms = Seq("bb", "cc", "ee")
    val root = tempRoot("bm25_signed_spec")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    // yesterday: doc1 verbatim, doc2 STALE, doc5 alien (deleted today)
    Bm25SignedStream.seedIndex(
      Seq((1L, "aa bb"), (2L, "zz zz"), (5L, "aa aa"))
        .toDF("doc_id", "text"), seedP)
    def ops(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "op")
    // batch 0: REPLACE doc2, add doc3, add doc6 (retracted in b1)
    val b0 = ops(Seq((2L, "bb cc", "add"), (3L, "cc dd", "add"),
      (6L, "ee ff", "add")))
    b0.write.mode("overwrite").parquet(src)
    val q = Bm25SignedStream.indexMaintain(
      spark.readStream.schema(b0.schema).parquet(src),
      seedP, deltaP, root.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      // batch 1: remove the alien AND the batch-0 add (nets out),
      // add doc4; batch 2: RE-ADD doc5 with new text (remove-then-
      // re-add serves the re-add)
      ops(Seq((5L, "", "remove"), (6L, "", "remove"), (4L, "dd ee", "add")))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      ops(Seq((5L, "ee ff", "add")))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val surviving = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc dd"),
      (4L, "dd ee"), (5L, "ee ff")).toDF("doc_id", "text")
    val expect = graft.operators.Retrieval.bm25Search(surviving, queries)
      .collect().map(_.toString).toSeq
    val before = Bm25SignedStream.serveSearch(
        spark, seedP, deltaP, queries, terms)
      .collect().map(_.toString).toSeq
    assert(before === expect)
    // doc6 netted out and the stale doc2 text is gone: "zz"/"ff"
    // terms must not surface doc2-old or doc6 for any query probing
    // them (df/avgdl already proven by the exact equality above)
    Bm25SignedStream.compact(spark, seedP, deltaP)
    assert(Bm25SignedStream.serveSearch(
        spark, seedP, deltaP, queries, terms)
      .collect().map(_.toString).toSeq === expect)
    // landing guards
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage).getOrElse("")) +
        Option(t.getCause).map(rootMsg).getOrElse("")
    def runBatch(rows: Seq[(Long, String, String)]): Unit = {
      val r2 = tempRoot("bm25_signed_guard")
      val s2 = r2.resolve("src").toString
      Bm25SignedStream.seedIndex(
        Seq((1L, "aa")).toDF("doc_id", "text"), r2.resolve("seed").toString)
      val b = ops(rows)
      b.write.mode("overwrite").parquet(s2)
      val qq = Bm25SignedStream.indexMaintain(
        spark.readStream.schema(b.schema).parquet(s2),
        r2.resolve("seed").toString, r2.resolve("delta").toString,
        r2.resolve("ckpt").toString)
      try qq.processAllAvailable() finally qq.stop()
    }
    val exDup = intercept[Exception] {
      runBatch(Seq((7L, "aa", "add"), (7L, "bb", "add")))
    }
    assert(rootMsg(exDup).contains("more than once in one batch"))
    val exOp = intercept[Exception] { runBatch(Seq((7L, "aa", "upsert"))) }
    assert(rootMsg(exOp).contains("op must be add|remove"))
  }

  test("signed phrase stream: a replaced doc's old phrase stops " +
      "matching, a removed doc's too; serve == full rebuild") {
    import spark.implicits._
    import graft.streaming.PhraseSignedStream
    val queries = Seq((0L, "aa bb"), (1L, "zz zz"), (2L, "ee ff"))
      .toDF("query_id", "query_text")
    val root = tempRoot("phrase_signed_spec")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    // yesterday: doc1 verbatim, doc2 STALE ("zz zz" — today's
    // replace kills that phrase), doc5 alien (deleted today)
    PhraseSignedStream.seedIndex(
      Seq((1L, "aa bb cc"), (2L, "zz zz"), (5L, "ee ff"))
        .toDF("doc_id", "text"), seedP)
    val b0 = Seq((2L, "aa bb dd", "add"), (3L, "bb cc", "add"))
      .toDF("doc_id", "text", "op")
    b0.write.mode("overwrite").parquet(src)
    val q = PhraseSignedStream.indexMaintain(
      spark.readStream.schema(b0.schema).parquet(src),
      seedP, deltaP, root.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      Seq((5L, "", "remove")).toDF("doc_id", "text", "op")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val surviving = Seq((1L, "aa bb cc"), (2L, "aa bb dd"), (3L, "bb cc"))
      .toDF("doc_id", "text")
    val expect = graft.operators.Retrieval.phraseSearch(surviving, queries)
      .collect().map(_.toString).toSeq
    def serve() = PhraseSignedStream.serveSearch(
        spark, seedP, deltaP, queries)
      .collect().map(_.toString).toSeq
    val before = serve()
    assert(before === expect)
    // the stale phrase ("zz zz") and the removed doc's ("ee ff")
    // match NOTHING; the replace's new text matches "aa bb"
    val hits = PhraseSignedStream.serveSearch(spark, seedP, deltaP, queries)
      .select("query_id", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(!hits.exists(_._1 == 1L) && !hits.exists(_._1 == 2L))
    assert(hits.contains((0L, 2L)))
    PhraseSignedStream.compact(spark, seedP, deltaP)
    assert(serve() === expect)
  }

  test("signed IVF stream: re-embeds move list assignments, removals " +
      "leave the index; live assign == direct assignment of survivors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.IvfSignedStream
    val root = tempRoot("ivf_signed_spec")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    def vecs(rows: Seq[(Long, Seq[Float])]) = rows
      .map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")
    // two well-separated clusters on the unit circle
    val cluster1 = Seq(1.0f, 0.0f)
    val cluster2 = Seq(0.0f, 1.0f)
    val truth = vecs(Seq(
      (0L, cluster1), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.95f, 0.05f)),
      (3L, cluster2), (4L, Seq(0.1f, 0.9f)), (5L, Seq(0.05f, 0.95f))))
    // yesterday: vec 1 STALE (negated — other side of the sphere),
    // vec 99 alien (deleted today); 2 and 5 arrive only today
    val staleSeed = vecs(Seq(
      (0L, cluster1), (1L, Seq(-0.9f, -0.1f)), (3L, cluster2),
      (4L, Seq(0.1f, 0.9f)), (99L, Seq(0.7f, 0.7f))))
    IvfSignedStream.seedIndex(staleSeed, seedP, nCentroids = 2,
      lloydIters = 2)
    val b0 = vecs(Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.95f, 0.05f))))
      .withColumn("op", org.apache.spark.sql.functions.lit("add"))
    b0.write.mode("overwrite").parquet(src)
    val q = IvfSignedStream.indexMaintain(
      spark.readStream.schema(b0.schema).parquet(src),
      seedP, deltaP, root.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      vecs(Seq((5L, Seq(0.05f, 0.95f)), (99L, Seq(0f, 0f))))
        .withColumn("op", org.apache.spark.sql.functions
          .when(col("vec_id") === 99L, "remove").otherwise("add"))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val cents = spark.read.parquet(s"$seedP/centroids").localCheckpoint()
    def assignRows(d: org.apache.spark.sql.DataFrame) = d
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val direct = graft.operators.Similarity.ivfAssignAgainst(truth, cents)
    val live = IvfSignedStream.liveAssign(spark, seedP, deltaP)
    // bit-identical: the signed live index == one-batch assignment
    // of the SURVIVING corpus at the same centroids — the alien is
    // gone, the re-embedded vec 1 sits in its NEW list
    assert(assignRows(live) === assignRows(direct))
    val served = IvfSignedStream.searchLive(
        spark, seedP, deltaP, truth, nQueries = 3, k = 2, nProbe = 1)
      .collect().map(_.toString).toSeq
    assert(served === graft.operators.Similarity.embedIvfTopKFromIndex(
      direct, cents, truth, nQueries = 3, k = 2, nProbe = 1)
      .collect().map(_.toString).toSeq)
    // compaction carries the centroid face and changes nothing
    IvfSignedStream.compact(spark, seedP, deltaP)
    assert(assignRows(IvfSignedStream.liveAssign(spark, seedP, deltaP))
      === assignRows(direct))
    assert(spark.read.parquet(s"$seedP/centroids")
      .collect().map(_.toString).sorted
      === cents.collect().map(_.toString).sorted)
  }

  test("signed index streams are restart- and retry-safe: a same-" +
      "checkpoint re-run replays nothing; a fresh-checkpoint retry " +
      "overwrites its own partitions instead of double-landing") {
    import spark.implicits._
    import graft.streaming.Bm25SignedStream
    val queries = Seq((0L, "bb cc")).toDF("query_id", "query_text")
    val terms = Seq("bb", "cc")
    val root = tempRoot("bm25_signed_retry")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    Bm25SignedStream.seedIndex(
      Seq((1L, "aa bb"), (2L, "zz zz"), (5L, "cc cc")).toDF("doc_id", "text"),
      seedP)
    val b = Seq((2L, "bb cc", "add"), (3L, "cc", "add"), (5L, "", "remove"))
      .toDF("doc_id", "text", "op")
    b.write.mode("overwrite").parquet(src)
    def runOnce(ckpt: String): Unit = {
      val q = Bm25SignedStream.indexMaintain(
        spark.readStream.schema(b.schema).parquet(src),
        seedP, deltaP, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = Bm25SignedStream.serveSearch(
        spark, seedP, deltaP, queries, terms)
      .collect().map(_.toString).toSeq
    runOnce(root.resolve("ckpt").toString)
    val first = serve()
    assert(first === graft.operators.Retrieval.bm25Search(
      Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc")).toDF("doc_id", "text"),
      queries).collect().map(_.toString).toSeq)
    // RESTART: the same checkpoint replays nothing
    runOnce(root.resolve("ckpt").toString)
    assert(serve() === first)
    // RETRY: a fresh checkpoint re-processes the same source files —
    // ops and postings land under the SAME batch_id partitions with
    // dynamic overwrite, so the net state (and the serve) cannot
    // double-count or duplicate
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
    // the signed GRAPH harness shares the guarantee: re-landing the
    // same signed edge batches leaves the served components frame
    // bit-identical
    val groot = tempRoot("sgs_retry")
    import graft.streaming.SignedGraphStream
    val gsrc = groot.resolve("src").toString
    val gseed = groot.resolve("seed").toString
    val gdelta = groot.resolve("delta").toString
    val prior = Seq((1L, 2L, 1L), (2L, 3L, 1L), (10L, 11L, 1L))
      .toDF("src", "dst", "w")
    operators.Graph.canonicalEdges(prior)
      .write.mode("overwrite").parquet(s"$gseed/edges")
    operators.Graph.componentLabels(prior)
      .write.mode("overwrite").parquet(s"$gseed/labels")
    val gb = Seq((2L, 3L, "remove"), (3L, 4L, "add"))
      .toDF("src", "dst", "op")
    gb.write.mode("overwrite").parquet(gsrc)
    def grun(ckpt: String): Unit = {
      val q = SignedGraphStream.signedMaintain(
        spark.readStream.schema(gb.schema).parquet(gsrc),
        gseed, gdelta, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def gserve() = SignedGraphStream
      .serveComponents(spark, gseed, gdelta)
      .collect().map(_.toString).toSeq
    grun(groot.resolve("c1").toString)
    val g1 = gserve()
    grun(groot.resolve("c1").toString) // restart: no replay
    assert(gserve() === g1)
    grun(groot.resolve("c2").toString) // retry: same partitions
    assert(gserve() === g1)
  }

  test("stream-maintained BM25 index serves identically to a full rebuild") {
    import spark.implicits._
    import graft.streaming.{Bm25SignedStream, SignedIndexLayout}
    val qs = Seq((0L, "dup scan"), (1L, "hash join"))
      .toDF("query_id", "query_text")
    val terms = Seq("dup", "scan", "hash", "join")
    // driver-entry shape: seed evens, stream odds as all-`add` ops, serve
    val streamed = Bm25SignedStream.searchMaintainRun(spark, sfDir, qs, terms,
        "q_stream_bm25", SignedIndexLayout.stageAllAdds("doc_id"),
        compacts = false)
      .collect().map(_.toString).toSeq
    // equality vs the online full-corpus search is the stream ==
    // rebuild claim
    val online = graft.operators.Retrieval
      .bm25Search(Tables.documents(spark, sfDir), qs)
      .collect().map(_.toString).toSeq
    assert(streamed === online)
    assert(streamed.nonEmpty)
    // restart safety on a planted mini-corpus: same checkpoint replays
    // nothing; a re-run must not double-count postings or doc lengths
    val root = tempRoot("bm25_retry")
    val src = root.resolve("src").toString
    val mini = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc"))
      .toDF("doc_id", "text")
    def adds(docs: org.apache.spark.sql.DataFrame) =
      docs.withColumn("op", lit("add"))
    adds(mini).write.mode("overwrite").parquet(src)
    Bm25SignedStream.seedIndex(mini.limit(0), root.resolve("seed").toString)
    def runOnce(ckpt: String = root.resolve("ckpt").toString): Unit = {
      val q = Bm25SignedStream.indexMaintain(
        spark.readStream.schema(adds(mini).schema).parquet(src),
        root.resolve("seed").toString,
        root.resolve("delta").toString, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = Bm25SignedStream.serveSearch(spark,
        root.resolve("seed").toString, root.resolve("delta").toString,
        Seq((0L, "bb cc")).toDF("query_id", "query_text"), Seq("bb", "cc"))
      .collect().map(_.toString).toSeq
    runOnce()
    val first = serve()
    runOnce()
    assert(serve() === first)
    assert(first === graft.operators.Retrieval
      .bm25Search(mini, Seq((0L, "bb cc")).toDF("query_id", "query_text"))
      .collect().map(_.toString).toSeq)
    // compaction folds deltas into the seed without changing results;
    // only the FOLDED batch_id partitions are deleted (a batch landing
    // mid-compact must survive — the delta root itself stays)
    Bm25SignedStream.compact(spark,
      root.resolve("seed").toString, root.resolve("delta").toString)
    assert(serve() === first)
    val faces = Seq("postings", "doclen", "ops")
    def deltaPartitions(sub: String): Seq[String] = {
      val d = root.resolve("delta").resolve(sub)
      if (!java.nio.file.Files.exists(d)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(d).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("batch_id=")).toSeq
      }
    }
    assert(faces.forall(deltaPartitions(_).isEmpty))
    // a replayed batch at or below the watermark (fresh checkpoint,
    // same files) is skipped — the folded seed already carries it
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
    // genuinely new arrivals through the original lineage still count
    val extra = Seq((9L, "bb zz")).toDF("doc_id", "text")
    adds(extra).write.mode("append").parquet(src)
    runOnce()
    val withExtra = graft.operators.Retrieval
      .bm25Search(mini.unionByName(extra),
        Seq((0L, "bb cc")).toDF("query_id", "query_text"))
      .collect().map(_.toString).toSeq
    assert(serve() === withExtra)
    // a delta partition ABOVE the fold range (the state a batch
    // committed mid-compact leaves behind) serves exactly once and is
    // folded by the NEXT compact — never silently deleted: plant
    // batch_id=100 alongside the live batch-1 delta on EVERY face
    // (the layout serves only batches whose `ops` commit face
    // landed), compact, re-check
    val lateDocs = Seq((42L, "bb late")).toDF("doc_id", "text")
    val lp = graft.operators.Retrieval.bm25Index(lateDocs)._1
    Seq("postings" -> lp, "doclen" -> lp.select("doc_id", "dl").distinct(),
        "ops" -> adds(lateDocs).select("doc_id", "op")).foreach {
      case (face, df) => df.withColumn("batch_id", lit(100L))
        .write.mode("append").partitionBy("batch_id")
        .parquet(root.resolve("delta").resolve(face).toString)
    }
    val withLate = graft.operators.Retrieval
      .bm25Search(mini.unionByName(extra).unionByName(lateDocs),
        Seq((0L, "bb cc")).toDF("query_id", "query_text"))
      .collect().map(_.toString).toSeq
    assert(serve() === withLate)
    Bm25SignedStream.compact(spark,
      root.resolve("seed").toString, root.resolve("delta").toString)
    assert(serve() === withLate)
    assert(faces.forall(deltaPartitions(_).isEmpty))
  }

  test("streaming phrase gate equals the batch decontamination scan") {
    import spark.implicits._
    val phrases = Seq(0L -> "table hash", 1L -> "bloom bloom")
    val streamed = graft.streaming.CurationStream
      .phraseGateRun(spark, sfDir, phrases)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Retrieval.decontaminatePhrase(
        Tables.documents(spark, sfDir),
        phrases.toDF("phrase_id", "phrase_text"))
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // both verdict branches occur on the corpus
    val keeps = graft.streaming.CurationStream
      .phraseGateRun(spark, sfDir, phrases)
      .groupBy("keep").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(keeps.keySet === Set(true, false))
  }

  test("phrase gate replay: a batch re-run after a lost commit lands once") {
    import spark.implicits._
    import graft.streaming.{CurationStream, DeltaLayout}
    val phrases = Seq(0L -> "table hash", 1L -> "bloom bloom")
    val docs = Tables.documents(spark, sfDir)
    val root = tempRoot("phrase_gate_replay")
    val src = root.resolve("src").toString
    val delta = root.resolve("delta").toString
    val commits = root.resolve("ckpt").resolve("commits")
    // two staged files, one micro-batch each
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(src)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = DeltaLayout.landEach(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
          root.resolve("seed").toString, delta,
          root.resolve("ckpt").toString)(
        CurationStream.phraseVerdicts(phrases))
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    // a crash after batch 1 landed but before its commit: the restart
    // replays batch 1 from its logged offsets
    val last = commits.resolve("1").toFile
    assert(last.delete())
    java.nio.file.Files.deleteIfExists(commits.resolve(".1.crc"))
    drain()
    assert(last.exists(), "the restart re-ran and re-committed batch 1")
    val served = DeltaLayout.readParquet(spark, delta).drop("batch_id")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val batch = graft.operators.Retrieval.decontaminatePhrase(
        docs, phrases.toDF("phrase_id", "phrase_text"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(served === batch)
    assert(served.nonEmpty)
  }

  test("stream-maintained positional index serves phrases identically to a rebuild") {
    import spark.implicits._
    import graft.streaming.{PhraseSignedStream, SignedIndexLayout}
    val qs = Seq((0L, "dup scan"), (1L, "hash join"))
      .toDF("query_id", "query_text")
    val terms = Seq("dup", "scan", "hash", "join")
    // driver-entry shape: seed evens, stream odds as all-`add` ops, serve
    val streamed = PhraseSignedStream.searchMaintainRun(
        spark, sfDir, qs, terms, "q_stream_phrase",
        SignedIndexLayout.stageAllAdds("doc_id"), compacts = false)
      .collect().map(_.toString).toSeq
    val online = graft.operators.Retrieval
      .phraseSearch(Tables.documents(spark, sfDir), qs)
      .collect().map(_.toString).toSeq
    assert(streamed === online)
    assert(streamed.nonEmpty)
    // restart/idempotence + compaction on a planted mini-corpus
    val root = tempRoot("phrase_retry")
    val src = root.resolve("src").toString
    val mini = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc"))
      .toDF("doc_id", "text")
    def adds(docs: org.apache.spark.sql.DataFrame) =
      docs.withColumn("op", lit("add"))
    adds(mini).write.mode("overwrite").parquet(src)
    PhraseSignedStream.seedIndex(mini.limit(0), root.resolve("seed").toString)
    def runOnce(ckpt: String = root.resolve("ckpt").toString): Unit = {
      val q = PhraseSignedStream.indexMaintain(
        spark.readStream.schema(adds(mini).schema).parquet(src),
        root.resolve("seed").toString,
        root.resolve("delta").toString, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = PhraseSignedStream.serveSearch(spark,
        root.resolve("seed").toString, root.resolve("delta").toString,
        Seq((0L, "bb cc")).toDF("query_id", "query_text"), Seq("bb", "cc"))
      .collect().map(_.toString).toSeq
    runOnce()
    val first = serve()
    runOnce()
    assert(serve() === first)
    assert(first === graft.operators.Retrieval
      .phraseSearch(mini, Seq((0L, "bb cc")).toDF("query_id", "query_text"))
      .collect().map(_.toString).toSeq)
    // compaction folds without changing results; folded partitions go
    PhraseSignedStream.compact(spark,
      root.resolve("seed").toString, root.resolve("delta").toString)
    assert(serve() === first)
    def deltaPartitions: Seq[String] = Seq("postings", "ops").flatMap { f =>
      val d = root.resolve("delta").resolve(f)
      if (!java.nio.file.Files.exists(d)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(d).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("batch_id=")).toSeq
      }
    }
    assert(deltaPartitions.isEmpty)
    // a replayed batch at or below the watermark is skipped
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
    // genuinely new arrivals still count
    val extra = Seq((9L, "bb cc zz")).toDF("doc_id", "text")
    adds(extra).write.mode("append").parquet(src)
    runOnce()
    val withExtra = graft.operators.Retrieval
      .phraseSearch(mini.unionByName(extra),
        Seq((0L, "bb cc")).toDF("query_id", "query_text"))
      .collect().map(_.toString).toSeq
    assert(serve() === withExtra)
    // a delta above the fold range (committed mid-compact) survives
    // the compact and folds next time — never silently deleted; it is
    // planted on the `ops` commit face too, or the layout would not
    // serve it
    val lateDocs = Seq((42L, "bb cc late")).toDF("doc_id", "text")
    Seq("postings" -> graft.operators.Retrieval.positionalIndex(lateDocs),
        "ops" -> adds(lateDocs).select("doc_id", "op")).foreach {
      case (face, df) => df.withColumn("batch_id", lit(100L))
        .write.mode("append").partitionBy("batch_id")
        .parquet(root.resolve("delta").resolve(face).toString)
    }
    val withLate = graft.operators.Retrieval
      .phraseSearch(mini.unionByName(extra).unionByName(lateDocs),
        Seq((0L, "bb cc")).toDF("query_id", "query_text"))
      .collect().map(_.toString).toSeq
    assert(serve() === withLate)
    PhraseSignedStream.compact(spark,
      root.resolve("seed").toString, root.resolve("delta").toString)
    assert(serve() === withLate)
    assert(deltaPartitions.isEmpty)
  }

  test("DeltaLayout.maxBatchId reads the highest batch id from the partition listing") {
    import graft.streaming.DeltaLayout
    import scala.jdk.CollectionConverters._
    val root = tempRoot("max_batch")
    val delta = root.resolve("delta")
    val bare = java.nio.file.Files.createDirectories(root.resolve("bare"))
    Seq(3L, 10L).foreach { b =>
      java.nio.file.Files.createDirectories(delta.resolve(s"batch_id=$b"))
    }
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(String.valueOf(
          e.properties.getProperty("spark.job.description"))): Unit
    }
    // listener events arrive asynchronously but in order, and a new
    // listener may still be handed a job start queued before it was
    // added: bracket the calls between two sentinel jobs and check only
    // what started between them
    def sentinel(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!starts.contains(name) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(starts.contains(name))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel("maxBatchId before")
      // numeric, not lexical: "batch_id=3" sorts after "batch_id=10"
      assert(DeltaLayout.maxBatchId(spark, delta.toString) === 10L)
      assert(DeltaLayout.maxBatchId(spark, bare.toString) === -1L)
      sentinel("maxBatchId after")
      assert(starts.asScala.toSeq
        .dropWhile(_ != "maxBatchId before").drop(1)
        .takeWhile(_ != "maxBatchId after").isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("rollupMaintain is per-batch idempotent and restart-safe") {
    import spark.implicits._
    val rollup = graft.streaming.AdditiveStream.rollup
    val root = tempRoot("rollup_retry")
    val src = root.resolve("src").toString
    val docs = Seq(
      (1L, "aa bb", "en", "s1"), (2L, "cc dd ee", "de", "s1"),
      (3L, "ff", "en", "s2")).toDF("doc_id", "text", "lang", "source")
    docs.write.mode("overwrite").parquet(src)
    rollup.seed(docs.limit(0), root.resolve("seed").toString)
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    def runOnce(ckpt: String = root.resolve("ckpt").toString): Unit = {
      val q = rollup.maintain(
        spark.readStream.schema(docs.schema).parquet(src), seedP, deltaP, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = rollup.live(spark, seedP, deltaP)
      .filter(col("n_docs") > 0).orderBy("source", "lang")
      .collect().map(_.toString).toSeq
    runOnce()
    val first = serve()
    // restart over the same checkpoint: no new files → no new deltas,
    // and a re-delivered batch would overwrite its own partition — the
    // served rollup must not double-count
    runOnce()
    assert(serve() === first)
    assert(first === graft.operators.Etl.corpusRollup(docs)
      .collect().map(_.toString).toSeq)
    // compaction folds deltas into the seed without changing values,
    // deleting ONLY the folded batch_id partitions (scoped delete: a
    // batch committed mid-compact must survive; the root stays)
    rollup.compact(spark, seedP, deltaP)
    assert(serve() === first)
    def deltaPartitions(): Seq[String] = {
      val d = root.resolve("delta")
      if (!java.nio.file.Files.exists(d)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(d).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("batch_id=")).toSeq
      }
    }
    assert(deltaPartitions().isEmpty)
    // scoped-delete semantics pinned directly: partitions above the
    // watermark survive the sweep (the mid-compact-commit race state)
    val sweepDir = root.resolve("sweep")
    Seq(0L, 1L, 5L).foreach { b =>
      java.nio.file.Files.createDirectories(sweepDir.resolve(s"batch_id=$b"))
    }
    val fs = new org.apache.hadoop.fs.Path(sweepDir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.streaming.DeltaLayout.deleteFoldedPartitions(fs,
      new org.apache.hadoop.fs.Path(sweepDir.toString), 1L)
    assert(!java.nio.file.Files.exists(sweepDir.resolve("batch_id=0")))
    assert(!java.nio.file.Files.exists(sweepDir.resolve("batch_id=1")))
    assert(java.nio.file.Files.exists(sweepDir.resolve("batch_id=5")))
    // a batch re-delivered at an id at or below the watermark (here: a
    // fresh checkpoint replays the same files as batch 0) is skipped —
    // the folded seed already carries it
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
    // genuinely new arrivals flow through the ORIGINAL checkpoint
    // lineage (ids are monotone per lineage — the watermark contract):
    // the extra file becomes batch 1 > watermark 0 and must count
    import spark.implicits._
    val extra = Seq((99L, "zz yy", "en", "s9"))
      .toDF("doc_id", "text", "lang", "source")
    extra.write.mode("append").parquet(src)
    runOnce()
    assert(serve() === graft.operators.Etl.corpusRollup(docs.unionByName(extra))
      .collect().map(_.toString).toSeq)
  }

  test("cmsMaintain is per-batch idempotent; compact preserves served counters") {
    import spark.implicits._
    val cms = graft.streaming.AdditiveStream.cms
    val root = tempRoot("cms_retry")
    val src = root.resolve("src").toString
    val docs = Seq((1L, "aa bb"), (2L, "bb cc cc"), (3L, "dd"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(src)
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    cms.seed(docs.limit(0), seedP)
    def runOnce(ckpt: String = root.resolve("ckpt").toString): Unit = {
      val q = cms.maintain(
        spark.readStream.schema(docs.schema).parquet(src), seedP, deltaP, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = cms.live(spark, seedP, deltaP).orderBy("d", "bucket")
      .collect().map(_.toString).toSeq
    def direct(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sketches.cmsPartials(d).collect().map(_.toString).toSeq
    runOnce()
    val first = serve()
    assert(first === direct(docs)) // stream-maintained == direct build
    runOnce() // restart over the same checkpoint: no double-counting
    assert(serve() === first)
    cms.compact(spark, seedP, deltaP)
    assert(serve() === first)
    // a replayed batch at or below the watermark is skipped
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
    // genuinely new arrivals through the original lineage still count
    val extra = Seq((9L, "bb zz")).toDF("doc_id", "text")
    extra.write.mode("append").parquet(src)
    runOnce()
    assert(serve() === direct(docs.unionByName(extra)))
    // estimates from the maintained sketch answer like the direct one
    val est = graft.operators.Sketches.cmsEstimate(
      cms.live(spark, seedP, deltaP), Seq("bb").toDF("term"))
      .collect().head
    assert(est.getLong(1) >= 3L) // bb occurs 3× across docs+extra
  }

  test("DeltaLayout.fold keeps a batch landed mid-compact live above the watermark") {
    import spark.implicits._
    import graft.streaming.{AdditiveStream, DeltaLayout}
    val cms = AdditiveStream.cms
    val root = tempRoot("fold_race")
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    val batches = Seq(Seq((1L, "aa bb")), Seq((2L, "bb cc")), Seq((3L, "cc dd")))
      .map(_.toDF("doc_id", "text"))
    cms.seed(batches.head.limit(0), seedP)
    DeltaLayout.landBatch(cms.partials(batches(0)), 0L, deltaP)
    DeltaLayout.landBatch(cms.partials(batches(1)), 1L, deltaP)
    // batch 2 commits while the fold is writing its new seed
    DeltaLayout.fold(spark, seedP, deltaP) { (upTo, tmp) =>
      cms.foldWrite(spark, seedP, deltaP)(upTo, tmp)
      DeltaLayout.landBatch(cms.partials(batches(2)), 2L, deltaP)
    }
    assert(DeltaLayout.foldedThrough(spark, seedP) === 1L)
    assert(DeltaLayout.batchIds(spark, deltaP) === Seq(2L))
    assert(cms.live(spark, seedP, deltaP).orderBy("d", "bucket")
      .collect().map(_.toString).toSeq ===
      graft.operators.Sketches.cmsPartials(batches.reduce(_ unionByName _))
        .collect().map(_.toString).toSeq)
  }

  test("cmsMaintainRun (the measured driver entry) equals the direct full-corpus sketch") {
    val got = graft.streaming.AdditiveStream.cmsMaintainRun(spark, sfDir)
      .collect().map(_.toString).toSeq
    val direct = graft.operators.Sketches
      .cmsPartials(Tables.documents(spark, sfDir))
      .collect().map(_.toString).toSeq
    assert(got === direct)
    assert(got.nonEmpty)
  }

  test("componentsMaintainRun (the measured driver entry) equals the full recompute") {
    val served = graft.streaming.SignedGraphStream
      .componentsMaintainRun(spark, sfDir)
      .collect().map(_.toString).toSeq
    val full = graft.operators.Graph.components(
        graft.operators.Purchases.coPurchaseGraph(
          Tables.lineitem(spark, sfDir), minCount = 2L))
      .collect().map(_.toString).toSeq
    assert(served === full)
    assert(served.nonEmpty)
  }

  test("corenessMaintainRun (the measured driver entry) equals the full recompute") {
    val served = graft.streaming.SignedGraphStream
      .corenessMaintainRun(spark, sfDir)
      .collect().map(_.toString).toSeq
    val full = graft.operators.Graph.coreness(
        graft.operators.Purchases.coPurchaseGraph(
          Tables.lineitem(spark, sfDir), minCount = 2L))
      .collect().map(_.toString).toSeq
    assert(served === full)
    assert(served.nonEmpty)
  }

  test("trianglesMaintainRun (the measured driver entry) equals the full recompute") {
    val served = graft.streaming.TrianglesStream
      .trianglesMaintainRun(spark, sfDir)
      .collect().map(_.toString).toSeq
    val full = graft.operators.Graph.triangles(
        graft.operators.Purchases.coPurchaseGraph(
          Tables.lineitem(spark, sfDir), minCount = 2L))
      .collect().map(_.toString).toSeq
    assert(served === full)
    assert(served.nonEmpty)
  }

  test("triangles compact preserves the served counts") {
    import spark.implicits._
    import graft.streaming.TrianglesStream
    val root = tempRoot("tri_compact")
    val seedRoot = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    // seed: a triangle and a disjoint edge
    TrianglesStream.seedTriangles(
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (10L, 11L, 1L))
        .toDF("src", "dst", "w"), seedRoot)
    // one hand-landed micro-batch: edges completing K4 on 1..4 (three
    // new triangles through the touched nodes) plus a fresh pair
    graft.operators.Graph.canonicalEdges(
        Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (30L, 31L, 1L))
          .toDF("src", "dst", "w"))
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id").mode("append").parquet(deltaP)
    val before = TrianglesStream.serveTriangles(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    TrianglesStream.compact(spark, seedRoot, deltaP)
    val after = TrianglesStream.serveTriangles(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    assert(before === after)
    assert(!graft.streaming.DeltaLayout.hasDeltaPartitions(spark, deltaP))
    // the folded seed answers alone and equals the full recount
    val full = graft.operators.Graph.triangles(
        Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (10L, 11L, 1L),
          (1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (30L, 31L, 1L))
          .toDF("src", "dst", "w"))
      .collect().map(_.toString).toSeq
    assert(after === full)
  }

  test("trussMaintainRun (the measured driver entry) equals the full peel") {
    val served = graft.streaming.SignedGraphStream
      .trussMaintainRun(spark, sfDir)
      .collect().map(_.toString).toSeq
    val full = graft.operators.Graph.kTruss(
        graft.operators.Purchases.coPurchaseGraph(
          Tables.lineitem(spark, sfDir), minCount = 2L), 3)
      .collect().map(_.toString).toSeq
    assert(served === full)
  }

  test("truss compact preserves the served truss") {
    import spark.implicits._
    import graft.streaming.SignedGraphStream
    val root = tempRoot("truss_compact")
    val seedRoot = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    // seed: a triangle (3-truss) and a disjoint edge (peeled)
    SignedGraphStream.seed(
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (10L, 11L, 1L))
        .toDF("src", "dst", "w"), seedRoot, Seq("truss"))
    // one hand-landed micro-batch: edges completing K4 on 1..4 (the
    // touched component's truss deepens to support 2) plus a pair
    graft.operators.Graph.canonicalEdges(
        Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (30L, 31L, 1L))
          .toDF("src", "dst", "w"))
      .withColumn("op", org.apache.spark.sql.functions.lit("add"))
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id").mode("append").parquet(deltaP)
    val before = SignedGraphStream.serveTruss(spark, seedRoot, deltaP, 3)
      .collect().map(_.toString).toSeq
    SignedGraphStream.compact(spark, seedRoot, deltaP, 3)
    val after = SignedGraphStream.serveTruss(spark, seedRoot, deltaP, 3)
      .collect().map(_.toString).toSeq
    assert(before === after)
    assert(!graft.streaming.DeltaLayout.hasDeltaPartitions(spark, deltaP))
    // the folded seed answers alone and equals the full peel
    val full = graft.operators.Graph.kTruss(
        Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (10L, 11L, 1L),
          (1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (30L, 31L, 1L))
          .toDF("src", "dst", "w"), 3)
      .collect().map(_.toString).toSeq
    assert(after === full)
  }

  test("ranksMaintainRun (the measured driver entry) equals the direct warm cascade") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val wPrior = graft.operators.Purchases.coPurchaseGraph(
      Tables.lineitem(spark, sfDir)
        .filter(col("l_orderkey") % 20 =!= 9), minCount = 2L)
    val wFull = graft.operators.Purchases.coPurchaseGraph(
      Tables.lineitem(spark, sfDir), minCount = 2L)
    // the harness: seed ranks = pageRank(prior); compaction folds the
    // whole increment and ADVANCES the warm point; the final serve
    // warm-starts from the compacted ranks over the full fold
    val r0 = graft.operators.Graph.pageRank(wPrior).select("node", "rank_micro")
    val r1 = graft.operators.Graph.pageRank(wFull, startRanks = Some(r0))
      .select("node", "rank_micro")
    val expect = graft.operators.Graph.pageRank(wFull, startRanks = Some(r1))
      .collect().map(_.toString).toSeq
    val served = graft.streaming.PageRankStream.ranksMaintainRun(spark, sfDir)
    val servedRows = served.collect()
    assert(servedRows.map(_.toString).toSeq === expect)
    // rank mass conserved through the whole maintenance lifecycle
    val mass = servedRows.map(_.getLong(1)).sum
    assert(math.abs(mass - 1000000L) <= servedRows.length)
  }

  test("pagerank serve equals the direct warm call before AND after compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.PageRankStream
    val root = tempRoot("rank_compact")
    val seedRoot = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    val seedEdges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 5L))
      .toDF("src", "dst", "w")
    PageRankStream.seedRanks(seedEdges, seedRoot)
    // one hand-landed increment batch: +2 on an existing pair (its
    // weight becomes 3) and a brand-new pair
    Seq((2L, 3L, 2L), (3L, 4L, 4L)).toDF("src", "dst", "w")
      .select(col("src").as("a"), col("dst").as("b"), col("w"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("append").parquet(deltaP)
    val folded = Seq((1L, 2L, 3L), (2L, 3L, 3L), (1L, 3L, 2L),
      (10L, 11L, 5L), (3L, 4L, 4L)).toDF("src", "dst", "w")
    val seedR = spark.read.parquet(s"$seedRoot/ranks").localCheckpoint()
    // BEFORE compaction: serve == warm pageRank(seed ∪ increments)
    val before = PageRankStream.serveRanks(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    assert(before === graft.operators.Graph.pageRank(folded,
      startRanks = Some(seedR)).collect().map(_.toString).toSeq)
    // AFTER compaction the warm point ADVANCES (not bit-preserved —
    // the honest cascade contract): serve == warm pageRank from the
    // compacted ranks, which are themselves the pre-compact serve
    PageRankStream.compact(spark, seedRoot, deltaP)
    assert(!graft.streaming.DeltaLayout.hasDeltaPartitions(spark, deltaP))
    val after = PageRankStream.serveRanks(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    val advanced = graft.operators.Graph.pageRank(folded,
      startRanks = Some(graft.operators.Graph.pageRank(folded,
        startRanks = Some(seedR)).select("node", "rank_micro")))
      .collect().map(_.toString).toSeq
    assert(after === advanced)
  }

  test("pagerank stream accepts SIGNED increments: a delisting sums its " +
      "pair out of the graph; a disagreeing fold raises") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.PageRankStream
    val root = tempRoot("rank_signed")
    val seedRoot = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    PageRankStream.seedRanks(
      Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 5L))
        .toDF("src", "dst", "w"), seedRoot)
    // signed batch: delist (10,11) entirely (dw = −w), shrink (1,2)
    // by 1, grow a new pair
    Seq((10L, 11L, -5L), (1L, 2L, -1L), (3L, 4L, 4L))
      .toDF("src", "dst", "w")
      .select(col("src").as("a"), col("dst").as("b"), col("w"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("append").parquet(deltaP)
    val folded = Seq((1L, 2L, 2L), (2L, 3L, 1L), (1L, 3L, 2L), (3L, 4L, 4L))
      .toDF("src", "dst", "w")
    val seedR = spark.read.parquet(s"$seedRoot/ranks").localCheckpoint()
    val served = PageRankStream.serveRanks(spark, seedRoot, deltaP)
      .collect()
    assert(served.map(_.toString).toSeq === graft.operators.Graph
      .pageRank(folded, startRanks = Some(seedR))
      .collect().map(_.toString).toSeq)
    // the delisted pair's isolated nodes are gone from the ranking
    val nodes = served.map(_.getLong(0)).toSet
    assert(!nodes.contains(10L) && !nodes.contains(11L) && nodes.contains(4L))
    // compaction folds the signed state identically (advanced warm point)
    PageRankStream.compact(spark, seedRoot, deltaP)
    assert(PageRankStream.serveRanks(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
      === graft.operators.Graph.pageRank(folded,
        startRanks = Some(graft.operators.Graph.pageRank(folded,
          startRanks = Some(seedR)).select("node", "rank_micro")))
        .collect().map(_.toString).toSeq)
    // LOUD: an increment below −w disagrees with the seed artifact
    Seq((2L, 3L, -7L)).toDF("src", "dst", "w")
      .select(col("src").as("a"), col("dst").as("b"), col("w"))
      .withColumn("batch_id", lit(1L))
      .write.partitionBy("batch_id").mode("append").parquet(deltaP)
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage).getOrElse("")) +
        Option(t.getCause).map(rootMsg).getOrElse("")
    val ex = intercept[Exception] {
      PageRankStream.serveRanks(spark, seedRoot, deltaP).collect()
    }
    assert(rootMsg(ex).contains("folded weight < 0"))
  }

  test("coreness compact preserves the served decomposition") {
    import spark.implicits._
    import graft.streaming.SignedGraphStream
    val root = tempRoot("core_compact")
    val seedRoot = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    // seed: a triangle (coreness 2) and a disjoint edge (coreness 1)
    SignedGraphStream.seed(
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (10L, 11L, 1L))
        .toDF("src", "dst", "w"), seedRoot, Seq("coreness"))
    // one hand-landed micro-batch: edges completing K4 on 1..4 (the
    // TOUCHED component deepens to coreness 3) plus a fresh pair
    graft.operators.Graph.canonicalEdges(
        Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (30L, 31L, 1L))
          .toDF("src", "dst", "w"))
      .withColumn("op", org.apache.spark.sql.functions.lit("add"))
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id").mode("append").parquet(deltaP)
    val before = SignedGraphStream.serveCoreness(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    SignedGraphStream.compact(spark, seedRoot, deltaP)
    val after = SignedGraphStream.serveCoreness(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    assert(before === after)
    assert(!graft.streaming.DeltaLayout.hasDeltaPartitions(spark, deltaP))
    // the folded seed answers alone and equals the full decomposition
    val full = graft.operators.Graph.coreness(
        Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (10L, 11L, 1L),
          (1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (30L, 31L, 1L))
          .toDF("src", "dst", "w"))
      .collect().map(_.toString).toSeq
    assert(after === full)
  }

  test("components compact preserves served stats; pre-compact serve equals too") {
    import spark.implicits._
    import graft.streaming.SignedGraphStream
    val root = tempRoot("cc_compact")
    val seedRoot = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    // seed: two components {1,2,3} and {10,11}
    SignedGraphStream.seed(
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (10L, 11L, 1L))
        .toDF("src", "dst", "w"), seedRoot, Seq.empty)
    // one "micro-batch" landed by hand in the delta layout: a bridge
    // plus a new pair
    graft.operators.Graph.canonicalEdges(
        Seq((3L, 10L, 1L), (30L, 31L, 1L)).toDF("src", "dst", "w"))
      .withColumn("op", org.apache.spark.sql.functions.lit("add"))
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id").mode("append").parquet(deltaP)
    val before = SignedGraphStream.serveComponents(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    SignedGraphStream.compact(spark, seedRoot, deltaP)
    val after = SignedGraphStream.serveComponents(spark, seedRoot, deltaP)
      .collect().map(_.toString).toSeq
    assert(before === after)
    // the folded seed now answers alone (no delta partitions left)
    assert(!graft.streaming.DeltaLayout.hasDeltaPartitions(spark, deltaP))
    // and the merge really happened: one bridged component + the pair
    val full = graft.operators.Graph.components(
        Seq((1L, 2L, 1L), (2L, 3L, 1L), (10L, 11L, 1L),
          (3L, 10L, 1L), (30L, 31L, 1L)).toDF("src", "dst", "w"))
      .collect().map(_.toString).toSeq
    assert(after === full)
  }

  test("nbMaintain is per-batch idempotent; compact preserves served counts") {
    import spark.implicits._
    val root = tempRoot("nb_retry")
    val src = root.resolve("src").toString
    val docs = Seq((1L, "aa bb", "s0"), (2L, "bb cc cc", "s1"), (3L, "dd", "s0"))
      .toDF("doc_id", "text", "source")
    // batch-local labeler: s0 is the target domain
    def labeler(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), (col("source") === "s0").cast("int").as("label"))
    docs.write.mode("overwrite").parquet(src)
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    val nb = graft.streaming.AdditiveStream.nb(labeler)
    nb.seed(docs.limit(0), seedP)
    def runOnce(ckpt: String = root.resolve("ckpt").toString): Unit = {
      val q = nb.maintain(
        spark.readStream.schema(docs.schema).parquet(src),
        seedP, deltaP, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = nb.live(spark, seedP, deltaP).orderBy("term")
      .collect().map(_.toString).toSeq
    def direct(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Classifier.nbCounts(d, labeler(d))
        .orderBy("term").collect().map(_.toString).toSeq
    runOnce()
    val first = serve()
    assert(first === direct(docs)) // stream-maintained == direct counts
    runOnce() // restart over the same checkpoint: no double-counting
    assert(serve() === first)
    nb.compact(spark, seedP, deltaP)
    assert(serve() === first)
    // a replayed batch at or below the watermark is skipped
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
    // genuinely new arrivals through the original lineage still count
    val extra = Seq((9L, "bb zz", "s1")).toDF("doc_id", "text", "source")
    extra.write.mode("append").parquet(src)
    runOnce()
    assert(serve() === direct(docs.unionByName(extra)))
    // the scoring model derived from maintained counts == direct train
    val all = docs.unionByName(extra)
    assert(graft.operators.Classifier
      .nbFromCounts(nb.live(spark, seedP, deltaP).orderBy("term"))
      .collect().map(_.toString).toSeq ===
      graft.operators.Classifier.nbTrain(all, labeler(all))
        .collect().map(_.toString).toSeq)
  }

  test("nbMaintainRun (the measured driver entry) equals direct full-corpus scoring") {
    val docs = Tables.documents(spark, sfDir)
    val labels = graft.streaming.AdditiveStream.domainLabels(docs)
    val got = graft.streaming.AdditiveStream.nbMaintainRun(spark, sfDir)
      .collect().map(_.toString).toSeq
    val direct = graft.operators.Classifier
      .nbScore(docs, graft.operators.Classifier.nbTrain(docs, labels))
      .collect().map(_.toString).toSeq
    assert(got === direct)
    assert(got.nonEmpty)
  }

  test("ivfMaintain assigns at fixed centroids; stream == direct through serving") {
    import graft.streaming.IvfSignedStream
    val emb = Tables.embeddings(spark, sfDir)
    val root = tempRoot("ivf_stream")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    val arrivals = emb.filter(col("vec_id") % 2 =!= 0)
      .withColumn("op", lit("add"))
    arrivals.write.mode("overwrite").parquet(src)
    IvfSignedStream.seedIndex(emb.filter(col("vec_id") % 2 === 0), seedP)
    def runOnce(ckpt: String = root.resolve("ckpt").toString): Unit = {
      val q = IvfSignedStream.indexMaintain(
        spark.readStream.schema(arrivals.schema).parquet(src),
        seedP, deltaP, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = IvfSignedStream.searchLive(spark, seedP, deltaP, emb)
      .collect().map(_.toString).toSeq
    runOnce()
    val first = serve()
    // the equality lever: assignment at FIXED centroids is
    // deterministic, so the stream-maintained index serves exactly
    // what a direct one-batch assignment of the whole corpus against
    // the same seed centroids serves
    val cents = spark.read.parquet(s"$seedP/centroids")
    val direct = graft.operators.Similarity.embedIvfTopKFromIndex(
      graft.operators.Similarity.ivfAssignAgainst(emb, cents), cents, emb)
      .collect().map(_.toString).toSeq
    assert(first === direct)
    assert(first.nonEmpty)
    runOnce() // restart over the same checkpoint: no double-assignment
    assert(serve() === first)
    // compaction folds deltas into the seed without changing results;
    // centroids survive the swap bit-for-bit
    val centsBefore = cents.collect().map(_.toString).sorted.toSeq
    IvfSignedStream.compact(spark, seedP, deltaP)
    assert(serve() === first)
    assert(spark.read.parquet(s"$seedP/centroids")
      .collect().map(_.toString).sorted.toSeq === centsBefore)
    // a replayed batch at or below the watermark is skipped
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
  }

  test("ivfMaintainRun (the measured driver entry) equals the direct assignment twin") {
    val got = SparkEntry.queries("q_stream_ivf")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty)
    // ten queries, k=5 — bounded output with atomic columns
    assert(got.size <= 50)
  }

  test("driftMonitor flags a planted off-distribution batch") {
    import spark.implicits._
    val root = tempRoot("driftstream")
    val ref = Seq((1L, "ok", "alpha beta gamma delta alpha beta gamma delta"))
      .toDF("doc_id", "source", "text")
    graft.streaming.DriftStream.seedReference(ref, root.resolve("ref").toString)
    // batch: one source speaks the reference language, one doesn't
    val batch = Seq(
      (2L, "steady", "alpha beta gamma delta alpha beta gamma delta"),
      (3L, "broken", "omega sigma theta kappa omega sigma theta kappa"))
      .toDF("doc_id", "source", "text")
    batch.write.mode("overwrite").parquet(root.resolve("src").toString)
    val q = graft.streaming.DriftStream.driftMonitor(
      spark.readStream.schema(batch.schema).parquet(root.resolve("src").toString),
      root.resolve("ref").toString, root.resolve("out").toString,
      root.resolve("ckpt").toString, threshold = 0.1)
    try q.processAllAvailable() finally q.stop()
    val rows = spark.read.parquet(root.resolve("out").toString).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("js_divergence"), r.getAs[Boolean]("drifted"))).toMap
    // identical distribution: JS exactly 0; disjoint vocab: exactly ln 2
    assert(rows("steady")._1 === 0.0 && !rows("steady")._2)
    assert(math.abs(rows("broken")._1 - math.log(2.0)) < 1e-4 && rows("broken")._2)
  }

  test("sessionizeStream emits gap-closed sessions") {
    import spark.implicits._
    val dir = tempRoot("sessstream").toString
    Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(dir)
      .as[EventsStream.Event]
    val q = EventsStream.sessionizeStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out").collect()
      // Sessions only close once the watermark passes; with a single
      // micro-batch the open tail sessions stay in state, so we check
      // shape, not total count.
      got.foreach { r =>
        assert(r.getAs[Long]("n_events") > 0)
        assert(!r.getAs[java.sql.Timestamp]("session_end")
          .before(r.getAs[java.sql.Timestamp]("session_start")))
      }
    } finally q.stop()
  }
}
