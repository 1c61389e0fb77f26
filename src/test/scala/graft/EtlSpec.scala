package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Etl
import graft.sources.RawIngest

/** Section B (ETL/transform) operator specs on sf0.001. */
class EtlSpec extends AnyFunSuite with SparkSessionTestBase {

  test("events loader normalizes both writer ts encodings identically") {
    import spark.implicits._
    val baseNanos = 1700000000123456000L // µs-aligned, as the source is
    // old writer: INT64 nanos (TIMESTAMP(NANOS) reads as long under
    // nanosAsLong — indistinguishable from a plain long at the reader)
    val longDir = tempRoot("ev_long").toString
    Seq((1L, baseNanos, 10L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$longDir/events.parquet")
    // current writer: plain µs TIMESTAMP_NTZ
    val ntzDir = tempRoot("ev_ntz").toString
    Seq((1L, 10L, "view", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        timestamp_micros(lit(baseNanos / 1000)).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    val fromLong = Tables.events(spark, longDir)
    val fromNtz = Tables.events(spark, ntzDir)
    assert(fromLong.schema("ts").dataType.typeName === "timestamp_ntz")
    assert(fromNtz.schema("ts").dataType.typeName === "timestamp_ntz")
    assert(fromLong.select("ts").collect().head.get(0) ===
      fromNtz.select("ts").collect().head.get(0))
  }

  test("loaders normalize alternate writer physical encodings per table") {
    // one alternate encoding per table family: narrowed keys, widened
    // counters, double embedding elements, UTC-adjusted timestamps —
    // each must land on the canonical logical schema with identical
    // values (the r6 events.ts drift generalized; a driver testdata
    // regeneration must never redden a suite again)
    val root = tempRoot("drift").toString
    val docs = Tables.documents(spark, sfDir).limit(20).localCheckpoint()
    docs.withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int"))
      .write.parquet(s"$root/documents.parquet")
    val gotDocs = Tables.documents(spark, root)
    assert(gotDocs.schema("doc_id").dataType.catalogString === "bigint")
    assert(gotDocs.schema("n_chars").dataType.catalogString === "bigint")
    assert(gotDocs.orderBy("doc_id").collect().map(_.toString).toSeq ===
      docs.orderBy("doc_id").collect().map(_.toString).toSeq)

    val emb = Tables.embeddings(spark, sfDir).limit(20).localCheckpoint()
    emb.withColumn("vec_id", col("vec_id").cast("int"))
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("label", col("label").cast("bigint"))
      .write.parquet(s"$root/embeddings.parquet")
    val gotEmb = Tables.embeddings(spark, root)
    assert(gotEmb.schema("vec_id").dataType.catalogString === "bigint")
    assert(gotEmb.schema("embedding").dataType.catalogString === "array<float>")
    assert(gotEmb.schema("label").dataType.catalogString === "int")
    assert(gotEmb.orderBy("vec_id").collect().map(_.toString).toSeq ===
      emb.orderBy("vec_id").collect().map(_.toString).toSeq)

    // lineitem: INT32 keys + an adjusted-to-UTC instant shipdate
    // (Spark writes TimestampType as INT64 TIMESTAMP(MICROS,
    // adjustedToUTC=true) — the writer variant ADVICE r6 flagged)
    val li = Tables.lineitem(spark, sfDir).limit(20).localCheckpoint()
    li.withColumn("l_orderkey", col("l_orderkey").cast("int"))
      .withColumn("l_linenumber", col("l_linenumber").cast("bigint"))
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .write.parquet(s"$root/lineitem.parquet")
    def liRows = Tables.lineitem(spark, root)
    assert(liRows.schema("l_orderkey").dataType.catalogString === "bigint")
    assert(liRows.schema("l_linenumber").dataType.catalogString === "int")
    assert(liRows.schema("l_shipdate").dataType.catalogString === "timestamp_ntz")
    val expectedLi = li.orderBy("l_orderkey", "l_linenumber", "l_partkey")
      .collect().map(_.toString).toSeq
    assert(liRows.orderBy("l_orderkey", "l_linenumber", "l_partkey")
      .collect().map(_.toString).toSeq === expectedLi)
    // the UTC-wall-clock recovery is tz-INDEPENDENT: a consumer whose
    // session zone is not UTC must read identical values
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(liRows.orderBy("l_orderkey", "l_linenumber", "l_partkey")
        .collect().map(_.toString).toSeq === expectedLi)
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  test("normalizeEvents types the JSON payload and case-folds the tag") {
    val df = Etl.normalizeEvents(Tables.events(spark, sfDir))
    val rows = df.limit(50).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[String]("event_type") == r.getAs[String]("event_type").toUpperCase))
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("prop_k"))))
  }

  test("dedupExactReplay restores the original row count after doubling") {
    val li = Tables.lineitem(spark, sfDir)
    val n = Etl.dedupExactReplay(li).collect().head.getLong(0)
    assert(n === li.count())
  }

  test("latestPerKey yields exactly one row per observed (store, product)") {
    val li = Tables.lineitem(spark, sfDir)
    val df = Etl.latestPerKey(li)
    val nPairs = li.select("l_suppkey", "l_partkey").distinct().count()
    assert(df.count() === nPairs)
  }

  test("priceChanges only emits genuine changes") {
    val df = Etl.priceChanges(Tables.lineitem(spark, sfDir))
    val rows = df.limit(100).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Double]("old_price") != r.getAs[Double]("new_price")))
  }

  test("sessionize closes a session only after the gap") {
    val df = Etl.sessionize(Tables.events(spark, sfDir), gapMinutes = 30)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // sessions of one user are disjoint and ordered
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val spans = rs.sortBy(_.getLong(1)).map { r =>
        (r.getAs[java.time.LocalDateTime]("session_start"),
          r.getAs[java.time.LocalDateTime]("session_end"))
      }
      spans.foreach { case (s, e) => assert(!e.isBefore(s)) }
      spans.zip(spans.tail).foreach { case ((_, e1), (s2, _)) =>
        assert(java.time.Duration.between(e1, s2).toMinutes >= 30)
      }
    }
  }

  test("eventWindows partitions time into hour buckets") {
    val df = Etl.eventWindows(Tables.events(spark, sfDir))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[java.time.LocalDateTime]("window_start").getMinute == 0))
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total === Tables.events(spark, sfDir).count())
  }

  test("storesFromXml parses the price-transparency store file") {
    // the real reference file, not a generated stand-in: canceled where
    // the reference checkout is absent, run wherever it is present
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(RawIngest.StoresFullReference)),
      s"StoresFull reference file absent: ${RawIngest.StoresFullReference}")
    val df = RawIngest.storesFromXml(spark, RawIngest.StoresFullReference)
    val rows = df.collect()
    assert(rows.length > 3)
    assert(rows.forall(_.getAs[String]("chain_id") == "7290700100008"))
    assert(rows.exists(_.getAs[String]("city") != null))
    assert(rows.map(_.getAs[Long]("store_id")).distinct.length == rows.length)
  }

  test("parseWithQuarantine routes malformed lines without failing the batch") {
    import org.apache.spark.sql.types._
    val dir = tempRoot("quarantine").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/feed.jsonl"),
      """{"item_code": "100", "price": 5.9}
        |{"item_code": "200", "price": 8.1}
        |{not valid json at all
        |{"item_code": "300", "price": "NaNish"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("item_code", StringType), StructField("price", DoubleType)))
    val (ok, bad) = RawIngest.parseWithQuarantine(spark, dir, schema)
    assert(ok.count() === 2)
    val badLines = bad.collect().map(_.getString(0))
    assert(badLines.length === 2)
    assert(badLines.exists(_.contains("not valid json")))
    assert(badLines.exists(_.contains("NaNish")))
  }

  test("priceItemsFromJson explodes and types the item feed") {
    val fixture = tempRoot("items").toString
    val json =
      """{"Root": {"ChainId": "7290000000001", "StoreId": "042", "Items": {"Item": [
        |  {"ItemCode": "100", "ItemName": " Milk 1L ", "ManufacturerName": "Tnuva",
        |   "ItemPrice": "5.90", "UnitOfMeasurePrice": "5.90", "Quantity": "1.00",
        |   "UnitQty": "l", "PriceUpdateDate": "2025-08-20 10:00:00", "ItemStatus": "1",
        |   "IsWeighted": "0"},
        |  {"ItemCode": "200", "ItemName": "Bread", "ManufacturerName": "Berman",
        |   "ItemPrice": "8.10", "UnitOfMeasurePrice": "10.80", "Quantity": "0.75",
        |   "UnitQty": "kg", "PriceUpdateDate": "2025-08-20 11:30:00", "ItemStatus": "1",
        |   "IsWeighted": "1"}]}}}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$fixture/feed.json"), json)
    val df = RawIngest.priceItemsFromJson(spark, fixture)
    val rows = df.orderBy("item_code").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("item_name") === "Milk 1L") // trimmed
    assert(rows(0).getAs[java.math.BigDecimal]("item_price").doubleValue === 5.90)
    assert(rows.map(_.getAs[String]("raw_hash")).distinct.length === 2)
    // the declared schema reads exactly what schema inference read
    val inferred = RawIngest.priceItems(
      spark.read.option("multiLine", "true").json(fixture))
    assert(df.schema === inferred.schema)
    assert(rows.toSeq === inferred.orderBy("item_code").collect().toSeq) // raw_hash included
  }

  test("priceItemsFromJson fails a malformed feed file instead of dropping it") {
    val fixture = tempRoot("items_bad").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$fixture/feed.json"),
      """{"Root": {"ChainId": "7290000000001", "StoreId": "042", "Items": {"Item": [""")
    intercept[org.apache.spark.SparkException] {
      RawIngest.priceItemsFromJson(spark, fixture).collect()
    }
  }

  test("funnelConversion counts monotone first-touch chains only") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      // user 1: full ordered funnel
      (1L, ts(1), 10L, "signup"), (2L, ts(2), 10L, "view"),
      (3L, ts(3), 10L, "click"), (4L, ts(4), 10L, "purchase"),
      // user 2: clicked BEFORE viewing → chain breaks at click
      (5L, ts(1), 20L, "signup"), (6L, ts(5), 20L, "view"),
      (7L, ts(2), 20L, "click"), (8L, ts(9), 20L, "purchase"),
      // user 3: never signed up → reaches nothing
      (9L, ts(1), 30L, "view"), (10L, ts(2), 30L, "purchase"),
      // user 4: signup only
      (11L, ts(7), 40L, "signup"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0))
    val rows = Etl.funnelConversion(events).collect()
    val byStage = rows.map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(byStage === Map("signup" -> 3L, "view" -> 2L, "click" -> 1L, "purchase" -> 1L))
    assert(rows.map(_.getAs[Int]("stage_idx")).toSeq === Seq(1, 2, 3, 4))
    val pct = rows.map(r => r.getAs[String]("stage") -> r.getAs[Double]("pct_of_first")).toMap
    assert(pct("signup") === 100.0)
    assert(pct("click") === 33.33)
  }

  test("profileColumns summarizes each column in one pass") {
    val li = Tables.lineitem(spark, sfDir)
    val rows = Etl.profileColumns(li,
      Seq("l_quantity", "l_discount")).collect()
    assert(rows.map(_.getAs[String]("column_name")).toSeq ===
      Seq("l_discount", "l_quantity"))
    val n = li.count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === n)
      assert(r.getAs[Long]("n_nonnull") <= n)
      assert(r.getAs[Double]("min_value") <= r.getAs[Double]("max_value"))
      assert(r.getAs[Double]("mean_value") >= r.getAs[Double]("min_value"))
      assert(r.getAs[Double]("mean_value") <= r.getAs[Double]("max_value"))
    }
  }

  test("rollupIncremental merges deltas to exactly the direct rollup") {
    import spark.implicits._
    val prev = Seq(
      (1L, "aa bb cc", "en", "s1"),     // unchanged
      (2L, "dd ee", "en", "s1"),        // text changes in cur
      (3L, "ff gg hh ii", "de", "s2"),  // removed (absent in cur)
      (4L, "jj kk", "en", "s2"),        // metadata-only move: lang flips
      (5L, "ll", "fr", "s3")            // s3's only doc — group extinct
    ).toDF("doc_id", "text", "lang", "source")
    val cur = Seq(
      (1L, "aa bb cc", "en", "s1"),
      (2L, "dd ee ff", "en", "s1"),
      (4L, "jj kk", "de", "s2"),
      (6L, "mm nn oo", "en", "s2")      // added
    ).toDF("doc_id", "text", "lang", "source")
    val merged = Etl.rollupIncremental(Etl.corpusRollup(prev), prev, cur)
    val direct = Etl.corpusRollup(cur)
    assert(merged.columns.toSeq === direct.columns.toSeq)
    assert(merged.collect().map(_.toString).toSeq ===
      direct.collect().map(_.toString).toSeq)
    // the metadata-only lang flip moved doc 4 between groups — a
    // text-hash-only diff would have missed it
    val bySrcLang = merged.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(bySrcLang(("s2", "de")) === 1L)
    assert(bySrcLang(("s2", "en")) === 1L)
    // the group whose docs all vanished is extinct in the merge
    assert(!merged.collect().exists(_.getString(0) == "s3"))
    // a no-op delta reproduces the prior rollup bit-for-bit
    val same = Etl.rollupIncremental(Etl.corpusRollup(prev), prev, prev)
    assert(same.collect().map(_.toString).toSeq ===
      Etl.corpusRollup(prev).collect().map(_.toString).toSeq)
  }
}
