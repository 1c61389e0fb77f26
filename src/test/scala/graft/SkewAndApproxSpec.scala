package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Skew
import graft.operators.Catalog

/** Skew helpers and approximate sketches. */
class SkewAndApproxSpec extends AnyFunSuite with SparkSessionTestBase {

  test("saltedAgg equals the unsalted aggregation exactly") {
    val li = Tables.lineitem(spark, sfDir)
    val salted = Skew.saltedAgg(li, Seq(col("l_returnflag")), 16,
      col("l_orderkey") * 10 + col("l_linenumber"),
      Map(
        "total_qty" -> (sum(col("l_quantity")), (c: org.apache.spark.sql.Column) => sum(c)),
        "n" -> (count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c))))
      .orderBy("l_returnflag")
      .collect()
    val plain = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("total_qty"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect()
    assert(salted.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ===
      plain.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq)
  }

  test("saltedJoin equals the plain join") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_linenumber")
    val part = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val salted = Skew.saltedJoin(li, part, "l_partkey", 8,
      col("l_orderkey") * 10 + col("l_linenumber"))
    val plain = li.join(part, Seq("l_partkey"))
    assert(salted.count() === plain.count())
    def checksum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(expr("bit_xor(xxhash64(l_orderkey, l_partkey, p_brand))"))
        .collect().head.getLong(0)
    assert(checksum(salted) === checksum(plain))
  }

  test("statsApprox sketches land within tolerance of exact") {
    val li = Tables.lineitem(spark, sfDir)
    val r = Catalog.statsApprox(li).collect().head
    val exactStores = li.select("l_suppkey").distinct().count()
    val exactProducts = li.select("l_partkey").distinct().count()
    assert(math.abs(r.getAs[Long]("approx_stores") - exactStores).toDouble / exactStores < 0.1)
    assert(math.abs(r.getAs[Long]("approx_products") - exactProducts).toDouble / exactProducts < 0.1)
    val median = r.getAs[Double]("median_price")
    assert(median > 0 && median < r.getAs[Double]("p95_price"))
  }

  test("sketchRollup estimates distincts within HLL error, merges without rescan") {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir)
    val rollup = Sketches.sketchDistinct(docs).collect()
    val exactPer = docs
      .select(col("source"), explode(split(lower(col("text")), " ", -1)).as("t"))
      .groupBy("source").agg(countDistinct("t").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = docs
      .select(explode(split(lower(col("text")), " ", -1)).as("t"))
      .select("t").distinct().count()
    // lgK=12 → ~1.6% standard error; assert 3 sigma
    rollup.foreach { r =>
      val src = r.getString(0)
      val est = r.getAs[Long]("est_distinct_tokens").toDouble
      val exact = if (src == "__all__") exactAll else exactPer(src)
      assert(math.abs(est - exact) / exact < 0.05,
        s"$src: est=$est exact=$exact")
    }
    // union row merges the PARTIAL SKETCHES — equal to sketching the
    // union stream directly (HLL union is lossless for same-lgK)
    val direct = Sketches.sketchPartials(
      docs.withColumn("source", lit("__all__")))
    val unionEst = rollup.find(_.getString(0) == "__all__").get
      .getAs[Long]("est_distinct_tokens")
    val directEst = Sketches.sketchRollup(direct).collect()
      .filter(_.getString(0) == "__all__").head
      .getAs[Long]("est_distinct_tokens")
    assert(unionEst === directEst)
    // persisted-artifact serving: rollup from parquet-round-tripped
    // partials is IDENTICAL (the sketch blob is the state)
    val dir = tempRoot("hll_idx").toString
    Sketches.sketchPartials(docs).write.mode("overwrite").parquet(dir)
    val served = Sketches.sketchRollup(spark.read.parquet(dir)).collect()
    assert(served.map(_.toString).toSeq === rollup.map(_.toString).toSeq)
  }

  test("sketchOverlap tracks exact pairwise intersections within HLL tolerance") {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir)
    val partials = Sketches.sketchPartials(docs)
    val out = Sketches.sketchOverlap(partials).collect()
    val srcs = docs.select("source").distinct().collect()
      .map(_.getString(0)).sorted
    // one row per unordered pair, canonically ordered
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
      (for { a <- srcs; b <- srcs if a < b } yield (a, b)).toSeq)
    val tokens = docs
      .select(col("source"), explode(split(lower(col("text")), " ", -1)).as("t"))
      .select("source", "t").distinct().collect()
      .groupBy(_.getString(0)).map { case (s, rs) => s -> rs.map(_.getString(1)).toSet }
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val exactI = (tokens(a) intersect tokens(b)).size.toDouble
      val exactU = (tokens(a) union tokens(b)).size.toDouble
      val estI = r.getAs[Long]("est_intersect").toDouble
      val estU = r.getAs[Long]("est_union").toDouble
      // union: direct HLL estimate, ~1.6% @ lgK=12 — assert 5%;
      // intersection: I-E compounds three estimates — assert 15% of
      // the UNION size (the estimator's natural error scale)
      assert(math.abs(estU - exactU) / exactU < 0.05, s"$a/$b union")
      assert(math.abs(estI - exactI) / exactU < 0.15, s"$a/$b intersect")
      val jac = r.getAs[Long]("jaccard_micro")
      assert(jac >= 0L && jac <= 1000000L)
      assert(math.abs(jac / 1e6 - exactI / exactU) < 0.15, s"$a/$b jaccard")
    }
    // serving from parquet-round-tripped partials is identical
    val dir = tempRoot("hll_ov").toString
    partials.write.mode("overwrite").parquet(dir)
    assert(Sketches.sketchOverlap(spark.read.parquet(dir)).collect()
      .map(_.toString).toSeq === out.map(_.toString).toSeq)
  }

  test("histQuantiles from merged partials equal exact rank statistics") {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir)
    val out = Sketches.histQuantiles(Sketches.histPartials(docs)).collect()
      .map(r => r.getString(0) -> r).toMap
    def sortedCounts(df: org.apache.spark.sql.DataFrame) = df
      .select(size(split(col("text"), " ", -1)).cast("long")).collect()
      .map(_.getLong(0)).sorted
    def exact(xs: Array[Long], num: Int, den: Int): Long =
      xs((((xs.length.toLong * num + den - 1) / den) - 1).toInt)
    val all = sortedCounts(docs)
    assert(out("__all__").getAs[Long]("n_docs") === all.length.toLong)
    assert(out("__all__").getAs[Long]("p50_tokens") === exact(all, 1, 2))
    assert(out("__all__").getAs[Long]("p90_tokens") === exact(all, 9, 10))
    assert(out("__all__").getAs[Long]("p99_tokens") === exact(all, 99, 100))
    // one per-source row against its own exact ranks
    val src = sortedCounts(docs.filter(col("source") === "src0"))
    assert(out("src0").getAs[Long]("p90_tokens") === exact(src, 9, 10))
    // coarse bins: the estimate is the bin lower bound, within width−1
    val w = 4
    val coarse = Sketches.histQuantiles(Sketches.histPartials(docs, w), w)
      .collect().filter(_.getString(0) == "__all__").head
    val est = coarse.getAs[Long]("p50_tokens")
    val e50 = exact(all, 1, 2)
    assert(est <= e50 && e50 < est + w)
    // artifact round trip serves identically
    val dir2 = tempRoot("histq_idx").toString
    Sketches.histPartials(docs).write.mode("overwrite").parquet(dir2)
    val served = Sketches.histQuantiles(spark.read.parquet(dir2)).collect()
    assert(served.map(_.toString).toSeq ===
      Sketches.histQuantiles(Sketches.histPartials(docs)).collect()
        .map(_.toString).toSeq)
  }

  test("count-min sketch never underestimates and is exact without collisions") {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir)
    val cal = Sketches.cmsCalibration(docs, Sketches.cmsPartials(docs)).collect()
    assert(cal.nonEmpty)
    // CMS contract: est >= exact, always
    cal.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("n_exact"),
        s"underestimate at ${r.getString(0)}")
      assert(r.getAs[Long]("err") === r.getAs[Long]("est") - r.getAs[Long]("n_exact"))
    }
    // a width far beyond the vocabulary has no collisions at the min
    // row: every estimate is exact
    val wide = Sketches.cmsCalibration(docs,
      Sketches.cmsPartials(docs, width = 1 << 20), width = 1 << 20).collect()
    assert(wide.forall(_.getAs[Long]("err") === 0L))
  }

  test("count-min partials merge bucket-wise: shard merge == direct build") {
    import graft.operators.Sketches
    val docs = Tables.documents(spark, sfDir)
    val a = Sketches.cmsPartials(docs.filter(col("doc_id") % 2 === 0))
    val b = Sketches.cmsPartials(docs.filter(col("doc_id") % 2 =!= 0))
    val merged = Sketches.cmsMerge(Seq(a, b)).collect().map(_.toString).toSeq
    val direct = Sketches.cmsPartials(docs).collect().map(_.toString).toSeq
    assert(merged === direct)
    // artifact round trip estimates identically
    val dir = tempRoot("cms_idx").toString
    Sketches.cmsPartials(docs).write.mode("overwrite").parquet(dir)
    import spark.implicits._
    val terms = Seq("scan", "dup", "never-seen-term").toDF("term")
    val servedEst = Sketches.cmsEstimate(spark.read.parquet(dir), terms)
      .collect().map(_.toString).toSeq
    val freshEst = Sketches.cmsEstimate(Sketches.cmsPartials(docs), terms)
      .collect().map(_.toString).toSeq
    assert(servedEst === freshEst)
  }
}
