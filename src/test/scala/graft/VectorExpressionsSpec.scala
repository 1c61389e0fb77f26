package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** Native DotProduct expression: correctness, codegen/interpreted
  * parity with the lambda fold, null handling, extensions injection. */
class VectorExpressionsSpec extends AnyFunSuite with SparkSessionTestBase {

  test("graft_dot matches the lambda fold bit-for-bit") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, 0.2), Array(0.3, 0.7)),
      (Array.empty[Double], Array.empty[Double]))
      .toDF("a", "b")
    val rows = df.select(
      expr("graft_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x*y), 0D, (acc, x) -> acc + x)").as("fold"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("graft_dot is null-safe and bounds by the shorter array") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Some(Array(1.0, 2.0, 9.0)), Some(Array(3.0, 4.0))))
      .toDF("a", "b")
      .union(Seq((Option.empty[Array[Double]], Some(Array(1.0)))).toDF("a", "b"))
    val rows = df.select(expr("graft_dot(a, b)")).collect()
    assert(rows(0).getDouble(0) === 11.0)
    assert(rows(1).isNullAt(0))
  }

  test("graft_dot over NON-NULLABLE inputs compiles in codegen (no silent fallback)") {
    VectorFunctions.register(spark)
    // schema-forced nullable=false / containsNull=false children: the
    // projection codegen then declares NO isNull variable for the
    // expression, so a doGenCode body that mentions ev.isNull is an
    // undeclared identifier — Janino rejects the class and Spark
    // silently degrades to interpreted eval. CODEGEN_ONLY turns that
    // silent fallback into a test failure.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("b", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
        org.apache.spark.sql.Row(Seq(0.5, 0.5), Seq(2.0, 4.0))),
      schema)
    val prior = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = df.select(expr("graft_dot(a, b)").as("d"))
        .collect().map(_.getDouble(0)).toSeq
      assert(got === Seq(32.0, 3.0))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("graft_sample keeps a bounded deterministic bottom-k-by-hash sample") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val df = (1 to 1000).map(i => ("g" + (i % 3), s"item$i")).toDF("g", "v")
      .repartition(7) // partial aggregation across many partitions
    df.createOrReplaceTempView("sample_in")
    val out = spark.sql(
      "SELECT g, graft_sample(v, 5) AS s FROM sample_in GROUP BY g ORDER BY g").collect()
    assert(out.length === 3)
    out.foreach(r => assert(r.getAs[scala.collection.Seq[String]]("s").length === 5))
    // order-independence: different partitioning, identical sample
    val out2 = df.repartition(31).groupBy("g")
      .agg(expr("graft_sample(v, 5)").as("s")).orderBy("g").collect()
    assert(out.map(_.getAs[scala.collection.Seq[String]]("s")).toSeq ===
      out2.map(_.getAs[scala.collection.Seq[String]]("s")).toSeq)
    // matches the reference definition: bottom-5 by md5
    val expected = (1 to 1000).filter(_ % 3 == 1).map(i => s"item$i")
      .sortBy(v => (graft.functions.BottomKBuffer.md5Hex(v), v)).take(5)
    assert(out(1).getAs[scala.collection.Seq[String]]("s").toSeq === expected) // g1
  }

  test("graft_topk matches the row_number window formulation exactly") {
    VectorFunctions.register(spark)
    import spark.implicits._
    // deterministic scores with ties: same score for ids 10/11 per group
    val rows = (1L to 500L).map(i =>
      ("g" + (i % 4), (i % 97).toDouble / 7.0, i))
    val df = rows.toDF("g", "score", "id").repartition(13)
    val viaAgg = df.groupBy("g")
      .agg(expr("graft_topk(score, id, 7)").as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("idx", "s")))
      .select(col("g"), col("s.score").as("score"), col("s.id").as("id"),
        (col("idx") + 1).cast("int").as("rank"))
      .orderBy("g", "rank").collect().map(_.toString).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id"))
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select("g", "score", "id", "rank")
      .orderBy("g", "rank").collect().map(_.toString).toSeq
    assert(viaAgg === viaWindow)
    // partition-count independence (merge order cannot matter)
    val again = df.repartition(31).groupBy("g")
      .agg(expr("graft_topk(score, id, 7)").as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("idx", "s")))
      .select(col("g"), col("s.score").as("score"), col("s.id").as("id"),
        (col("idx") + 1).cast("int").as("rank"))
      .orderBy("g", "rank").collect().map(_.toString).toSeq
    assert(again === viaAgg)
    // groups smaller than k return their whole membership, ranked
    val small = Seq(("a", 1.0, 1L), ("a", 2.0, 2L)).toDF("g", "score", "id")
      .groupBy("g").agg(expr("graft_topk(score, id, 7)").as("top"))
      .select(size(col("top"))).collect()
    assert(small.head.getInt(0) === 2)
    // -0.0 normalizes to 0.0 like SQL sort keys: ties break by id, so
    // the -0.0 row (smaller id) ranks first despite the sign
    val zeros = Seq(("a", -0.0, 1L), ("a", 0.0, 2L)).toDF("g", "score", "id")
      .groupBy("g").agg(expr("graft_topk(score, id, 2)").as("top"))
      .select(expr("transform(top, s -> s.id)").as("ids")).collect()
    assert(zeros.head.getAs[scala.collection.Seq[Long]]("ids") === Seq(1L, 2L))
  }

  test("graft_lsh matches the interpreted hyperplane formula bit-for-bit") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val planes = 5
    val tables = 3
    // deterministic pseudo-random vectors, including one wider than the
    // 64-entry precomputed coefficient table (exercises the hash tail)
    def vec(seed: Int, dim: Int): Array[Double] =
      Array.tabulate(dim)(i => math.sin(seed * 131 + i * 17).abs - 0.5)
    val df = (Seq(vec(1, 64), vec(2, 64), vec(3, 8), vec(4, 100)))
      .toDF("v")
    val interpreted =
      s"transform(sequence(0, ${tables - 1}), l -> " +
        s"aggregate(sequence(0, ${planes - 1}), 0L, (acc, j) -> acc * 2 + " +
        "CASE WHEN aggregate(sequence(0, size(v)-1), 0D, (s, i) -> " +
        s"s + element_at(v, i+1) * (CAST(pmod(xxhash64((l*$planes + j)*64 + i), 1000) AS DOUBLE)/1000.0 - 0.5)" +
        ") > 0D THEN 1L ELSE 0L END))"
    val rows = df.select(
      expr(s"graft_lsh(v, $planes, $tables)").as("native"),
      expr(interpreted).as("lambda")).collect()
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("native") ===
        r.getAs[scala.collection.Seq[Long]]("lambda"))
    }
  }

  test("graft_minhash matches the relational slot-min + densify formulation") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val k = 16
    // hash arrays with negatives, collisions, and few distinct slots
    // (forces densification borrows and the hashed fallback)
    val df = Seq(
      (1L, Array(5L, -3L, 17L, 1000000007L, -999999937L, 64L)),
      (2L, Array(2L)),
      (3L, Array.tabulate(200)(i => i * 2654435761L - 100L)))
      .toDF("doc_id", "sh")
    val borrow = (1 to 3).map(o => s"m[CAST(pmod(j + $o, $k) AS INT)]").mkString(", ")
    val relational = df
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy(col("doc_id"), pmod(col("h"), lit(k.toLong)).cast("int").as("j"))
      .agg(min("h").as("mh"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("j"), col("mh")))).as("m"))
      .withColumn("sig", expr(
        s"transform(sequence(0, ${k - 1}), j -> coalesce(m[j], $borrow, xxhash64(doc_id, j)))"))
      .select("doc_id", "sig")
    val native = df.select(col("doc_id"), expr(s"graft_minhash(sh, doc_id, $k)").as("sig"))
    val rel = relational.collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("sig")).toMap
    val nat = native.collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("sig")).toMap
    assert(nat.keySet === rel.keySet)
    nat.foreach { case (id, sig) => assert(sig === rel(id), s"doc $id") }
  }

  test("every graft expression compiles under forced codegen (no Janino fallback)") {
    // CODEGEN_ONLY + fallback off: a generated-Java compile error (e.g.
    // generics, which Janino rejects) fails the query instead of
    // silently degrading the stage to interpreted eval
    spark.sparkContext // materialize shared context
    val prev = SparkSession.getDefaultSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s2 = SparkSession.builder().master("local[2]")
        .appName("graft-codegen-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
        .config("spark.sql.codegen.fallback", "false")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      s2.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("cg_docs")
      s2.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .createOrReplaceTempView("cg_emb")
      // every query CONSUMES the expression output (collect, or a
      // filter referencing it) — a bare count() would let column
      // pruning drop the projection and never compile the generated
      // Java, making the whole gate vacuous
      assert(s2.sql("SELECT graft_dot(v, v) AS d FROM cg_emb")
        .collect().forall(!_.isNullAt(0)))
      assert(s2.sql("SELECT graft_lsh(v, 5, 3) AS b FROM cg_emb")
        .collect().forall(_.getAs[scala.collection.Seq[Long]]("b").length == 3))
      assert(s2.sql(
        """SELECT graft_minhash(graft_grams(split(lower(text), ' '), 3, true), doc_id, 64) AS sig
          |FROM cg_docs WHERE size(split(lower(text), ' ')) >= 3""".stripMargin)
        .collect().forall(_.getAs[scala.collection.Seq[Long]]("sig").length == 64))
      assert(s2.sql("SELECT graft_simhash(split(lower(text), ' ')) AS fp FROM cg_docs")
        .where("fp IS NOT NULL").count() > 0)
      assert(s2.sql("SELECT graft_grams(split(lower(text), ' '), 2, false) AS g FROM cg_docs")
        .where("size(g) > 0").count() > 0)
      assert(s2.sql("SELECT graft_nfc(text) AS t FROM cg_docs")
        .where("t IS NOT NULL").count() > 0)
      assert(s2.sql(
        """SELECT graft_winnow(graft_grams(split(lower(text), ' '), 5, false), 4) AS fp
          |FROM cg_docs WHERE size(split(lower(text), ' ')) >= 8""".stripMargin)
        .where("size(fp) > 0").count() > 0)
      // bloom probe: membership of planted longs under forced codegen
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
      (1L to 50L).foreach(bf.putLong)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val probed = s2.range(1, 101)
        .select(call_udf("graft_bloom_contains", col("id"), lit(bos.toByteArray)).as("m"),
          col("id"))
        .collect()
      assert(probed.filter(_.getLong(1) <= 50).forall(_.getBoolean(0))) // no false negatives
      assert(probed.count(r => r.getLong(1) > 50 && r.getBoolean(0)) < 10) // few false positives
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
      prev.foreach(SparkSession.setActiveSession)
    }
  }

  test("graft_pq_adc matches the zip_with/element_at lambda form; NULL on mismatch") {
    VectorFunctions.register(spark)
    import spark.implicits._
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY, not
    // array<tinyint> (the code artifact's real type)
    val df = Seq(
      (1L, Seq[Byte](1, 3, 2),
        Seq(Seq(0.5, 1.0, 1.5), Seq(2.0, 2.5, 3.0), Seq(4.0, 5.0, 6.0))),
      (2L, Seq[Byte](2, 2, 2),
        Seq(Seq(0.1, 0.2, 0.3), Seq(1.0, 2.0, 3.0), Seq(7.0, 8.0, 9.0))),
      (3L, Seq.empty[Byte], Seq.empty[Seq[Double]]))
      .toDF("id", "codes", "lut")
    val rows = df.select(col("id"),
      expr("graft_pq_adc(codes, lut)").as("native"),
      expr("aggregate(zip_with(codes, lut, (c, row) -> element_at(row, cast(c as int)))," +
        " 0D, (acc, v) -> acc + v)").as("lambda")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12, s"id=${r.getLong(0)}")
    }
    // out-of-range code or ragged codes/lut → NULL, never a garbage score
    val bad = Seq(
      (Seq[Byte](4), Seq(Seq(1.0, 2.0, 3.0))),
      (Seq[Byte](0), Seq(Seq(1.0, 2.0, 3.0))),
      (Seq[Byte](1, 2), Seq(Seq(1.0))))
      .toDF("codes", "lut")
    val nulls = bad.select(expr("graft_pq_adc(codes, lut)").as("s")).collect()
    assert(nulls.forall(_.isNullAt(0)))
    // wrong element width rejected at analysis time — getByte on an
    // int array would silently misread raw bytes, not throw
    val wrong = Seq((Seq(1, 3, 2), Seq(Seq(1.0, 2.0, 3.0)))).toDF("codes", "lut")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      wrong.select(expr("graft_pq_adc(codes, lut)")).collect()
    }
    assert(ex.getMessage.contains("TINYINT"))
  }

  test("graft_winnow matches the transform/array_min/slice lambda form") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = Seq(
      1L -> Array.fill(200)(rnd.nextLong()),
      2L -> Array(5L, 4L, 3L, 2L, 1L),          // strictly decreasing
      3L -> Array(1L, 1L, 1L, 1L),              // all ties
      4L -> Array(42L, 7L, 42L),                // shorter than some windows
      5L -> Array(9L))                          // shorter than every window > 1
      .toDF("id", "hs")
    for (w <- Seq(1, 2, 4, 7)) {
      val rows = df.select(col("id"), size(col("hs")).as("n"),
        expr(s"graft_winnow(hs, $w)").as("native"),
        // sequence(1, n) DESCENDS when n < 1, so the reference lambda
        // needs the same short-array guard callers use
        expr(s"""CASE WHEN size(hs) >= $w
                 THEN transform(sequence(1, size(hs) - ${w - 1}), i -> array_min(slice(hs, i, $w)))
                 ELSE CAST(array() AS ARRAY<BIGINT>) END""")
          .as("lambda")).collect()
      rows.foreach { r =>
        val lambda = Option(r.getAs[scala.collection.Seq[Long]]("lambda"))
          .getOrElse(Seq.empty) // sequence(1, 0) is empty/null for short arrays
        val expected = if (r.getAs[Int]("n") < w) Seq.empty else lambda
        assert(r.getAs[scala.collection.Seq[Long]]("native") === expected, s"w=$w id=${r.getLong(0)}")
      }
    }
  }

  test("graft_winnow accepts nullable-element arrays, fails loudly on an actual null") {
    VectorFunctions.register(spark)
    // parquet-sourced BIGINT arrays are element-nullable by default
    // even when no element is actually null — stored arrays must keep
    // working (this was an analysis-time rejection once; that broke
    // previously-valid SQL over stored data)
    val dir = tempRoot("winnowparquet").toString
    import spark.implicits._
    Seq((1L, Seq(3L, 1L, 2L, 5L))).toDF("id", "hs").write.mode("overwrite").parquet(dir)
    val fromParquet = spark.read.parquet(dir)
    assert(fromParquet.schema("hs").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val ok = fromParquet.selectExpr("graft_winnow(hs, 2) AS m").collect()
    assert(ok.head.getAs[scala.collection.Seq[Long]]("m") === Seq(1L, 1L, 2L))
    // an ACTUAL null element must fail loudly at runtime, never decode
    // garbage through the raw getLong path
    val e = intercept[Exception] {
      spark.sql("SELECT graft_winnow(array(1L, CAST(NULL AS BIGINT), 3L), 2)").collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("null array element")))
    // the non-null literal form still analyzes and evaluates
    val lit = spark.sql("SELECT graft_winnow(array(3L, 1L, 2L), 2) AS m").collect()
    assert(lit.head.getAs[scala.collection.Seq[Long]]("m") === Seq(1L, 1L))
  }

  test("graft_grams matches the transform/concat_ws lambda form bit-for-bit") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a b a b"), // repeated grams exercise the dedup flag
      (3L, "x y z")).toDF("doc_id", "text")
    // null words must behave exactly like concat_ws's null-skip
    val nullWords = spark.sql(
      "SELECT array('alpha', CAST(NULL AS STRING), 'beta', 'alpha') AS w")
    for (n <- Seq(2, 3); dedup <- Seq(true, false)) {
      val base = docs.withColumn("w", split(lower(col("text")), " ", -1))
        .filter(size(col("w")) >= n)
        .select("w")
        .unionAll(nullWords)
      val lambda =
        s"transform(sequence(1, size(w)-${n - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice(w, i, $n))))"
      val composed = if (dedup) s"array_distinct($lambda)" else lambda
      val rows = base.select(
        expr(s"graft_grams(w, $n, $dedup)").as("native"),
        expr(composed).as("lambda")).collect()
      rows.foreach { r =>
        assert(r.getAs[scala.collection.Seq[Long]]("native") ===
          r.getAs[scala.collection.Seq[Long]]("lambda"), s"n=$n dedup=$dedup")
      }
    }
  }

  test("graft_simhash matches the relational vote aggregation") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a"),
      (3L, "x y z " * 40 + "tail")).toDF("doc_id", "text")
    val base = docs.withColumn("toks", split(lower(col("text")), " ", -1))
    val tokens = base.select(col("doc_id"), explode(col("toks")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val voteCols = (0 until 64).map { j =>
      sum(when((shiftright(col("h"), 63 - j).bitwiseAND(lit(1L))) === 1L, 1).otherwise(-1))
        .as(s"b$j")
    }
    val fingerprint = (0 until 64)
      .map(j => when(col(s"b$j") > 0, lit(1L << (63 - j))).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val rel = tokens.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), fingerprint.as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nat = base.select(col("doc_id"), expr("graft_simhash(toks)").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat === rel)
  }

  test("GraftExtensions injects graft_dot at session build time") {
    // force a genuinely fresh session (sharing the context) so the
    // extensions config is actually applied — getOrCreate would return
    // the suite-shared session otherwise
    spark.sparkContext // materialize the shared context first
    val prev = SparkSession.getDefaultSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // withExtensions: the explicit form of spark.sql.extensions
      // (the config-string path needs a fresh SparkContext — Verify and
      // Bench exercise it on their own JVMs)
      val s2 = SparkSession.builder().master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      val v = s2.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect().head.getDouble(0)
      assert(v === 11.0)

      // the optimizer rule upgrades the composable lambda fold to the
      // native expression — and leaves non-matching folds untouched
      // (parquet-backed input so the optimizer can't pre-evaluate)
      s2.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS a")
        .createOrReplaceTempView("vec_in")
      val df = s2.sql(
        "SELECT aggregate(zip_with(a, a, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS d FROM vec_in")
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"))
      val norms = df.collect().map(_.getDouble(0))
      val direct = s2.sql("SELECT graft_dot(a, a) AS d FROM vec_in")
        .collect().map(_.getDouble(0))
      assert(norms.toSeq === direct.toSeq)
      val other = s2.sql(
        "SELECT aggregate(zip_with(a, a, (x, y) -> x + y), 0D, (acc, v) -> acc + v) AS d FROM vec_in")
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_dot"))
      // degenerate inputs keep the fold's answers after the rewrite:
      // a null element and a ragged pair both yield NULL
      val withNull = s2.sql(
        """SELECT aggregate(zip_with(array(a[0], CAST(NULL AS DOUBLE)), array(a[0], a[1]),
          |  (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS d FROM vec_in""".stripMargin)
      assert(withNull.queryExecution.optimizedPlan.toString.contains("graft_dot"))
      assert(withNull.collect().forall(_.isNullAt(0)))
      val ragged = s2.sql(
        """SELECT aggregate(zip_with(slice(a, 1, 3), a, (x, y) -> x * y),
          |  0D, (acc, v) -> acc + v) AS d FROM vec_in""".stripMargin)
      assert(ragged.collect().forall(_.isNullAt(0)))
    } finally {
      // restore the shared session WITHOUT stopping the shared context
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
      prev.foreach(SparkSession.setActiveSession)
    }
  }

  test("register() skips its own registrations but replaces foreign ones") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
    // isolated registry: newSession shares the context but owns its
    // sessionState, so registry surgery here can't leak into other suites
    val s2 = spark.newSession()
    val registry = s2.sessionState.functionRegistry
    val id = FunctionIdentifier("graft_dot")
    val sentinel: Seq[Expression] => Expression = _ => Literal(42.0)

    // skip branch: an entry whose ExpressionInfo says it IS our class
    // must be left alone (observable: the sentinel builder survives)
    registry.registerFunction(
      id, new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "graft_dot"), sentinel)
    VectorFunctions.register(s2)
    s2.sql("SELECT 1 AS x").createOrReplaceTempView("reg_probe")
    val skipped = s2.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d FROM reg_probe").collect()
    assert(skipped.head.getDouble(0) === 42.0,
      "register() must not re-register when the existing entry is graft's own class")

    // replace branch: a foreign temp function squatting on a graft name
    // must be replaced with the native expression
    registry.registerFunction(
      id, new ExpressionInfo("user.FakeDot", "graft_dot"), sentinel)
    VectorFunctions.register(s2)
    val replaced = s2.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d FROM reg_probe").collect()
    assert(replaced.head.getDouble(0) === 11.0,
      "register() must replace a foreign registration under a graft name")

    // idempotence on the normal path: repeated register() keeps working
    VectorFunctions.register(s2)
    val again = s2.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d FROM reg_probe").collect()
    assert(again.head.getDouble(0) === 11.0)
  }
}
