package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.sources.Sinks

/** Write-side specs: partitioned landing, upsert-by-key, bucketed
  * shuffle-free joins. */
class SinksSpec extends AnyFunSuite with SparkSessionTestBase {

  test("writePartitioned lays out one directory per partition value") {
    val out = tempRoot("part_sink").toString
    val li = Tables.lineitem(spark, sfDir)
      .withColumn("ship_year", year(col("l_shipdate")))
    Sinks.writePartitioned(li, out, Seq("ship_year"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("ship_year=")) >= 5)
    val back = spark.read.parquet(out)
    assert(back.count() === li.count())
  }

  test("upsertByKey keeps the newest row per key across loads") {
    import spark.implicits._
    val path = tempRoot("upsert").toString + "/state"
    val day1 = Seq((1L, "a", "2024-01-01", 10.0), (2L, "b", "2024-01-01", 20.0))
      .toDF("id", "name", "collected_at", "price")
    Sinks.upsertByKey(spark, day1, path, Seq("id"), "collected_at")
    val day2 = Seq((2L, "b", "2024-01-02", 25.0), (3L, "c", "2024-01-02", 30.0))
      .toDF("id", "name", "collected_at", "price")
    Sinks.upsertByKey(spark, day2, path, Seq("id"), "collected_at")
    val state = spark.read.parquet(path).orderBy("id").collect()
    assert(state.length === 3)
    assert(state(1).getAs[Double]("price") === 25.0) // id=2 updated
    assert(state(0).getAs[Double]("price") === 10.0) // id=1 untouched
  }

  test("upsertByKey: a key-and-version tie goes to the incoming row") {
    import spark.implicits._
    val path = tempRoot("upsert_tie").toString + "/state"
    def load(price: Double) = Sinks.upsertByKey(spark,
      Seq((1L, "2024-01-01", price), (2L, "2024-01-01", 7.0))
        .toDF("id", "collected_at", "price"),
      path, Seq("id"), "collected_at")
    def prices = spark.read.parquet(path).orderBy("id").as[(Long, String, Double)]
      .collect().toSeq
    for (price <- Seq(10.0, 11.0, 10.0, 11.0, 11.0)) {
      load(price)
      assert(prices === Seq((1L, "2024-01-01", price), (2L, "2024-01-01", 7.0)))
    }
  }

  test("upsertByKey reads the full state at every crash point of the swap") {
    import spark.implicits._
    import java.nio.file.{Files, Path, Paths}
    def frame(ids: Long*) = ids.map(i => (i, "2024-01-01", i * 1.5))
      .toDF("id", "collected_at", "price")
    // the state before the crashed upsert holds 1, 2; the crashed one
    // was adding 3 (its complete output sits in __staging); the next
    // upsert adds 4
    def crashed(at: String): Path = {
      val base = tempRoot("upsert_crash")
      val live = base.resolve("state")
      val staging = Paths.get(s"${live}__staging")
      val old = Paths.get(s"${live}__old")
      Sinks.upsertByKey(spark, frame(1, 2), live.toString, Seq("id"), "collected_at")
      frame(1, 2, 3).write.mode("overwrite").parquet(staging.toString)
      at match {
        case "before the first rename" =>
        case "between the renames" => Files.move(live, old)
        case "between the renames, __staging incomplete" =>
          Files.move(live, old)
          Files.delete(staging.resolve("_SUCCESS"))
        case "before the final delete" =>
          Files.move(live, old); Files.move(staging, live)
      }
      live
    }
    for ((at, before) <- Seq(
        "before the first rename" -> Seq(1L, 2L),
        "between the renames" -> Seq(1L, 2L, 3L),
        "between the renames, __staging incomplete" -> Seq(1L, 2L),
        "before the final delete" -> Seq(1L, 2L, 3L))) {
      val live = crashed(at)
      Sinks.upsertByKey(spark, frame(4), live.toString, Seq("id"), "collected_at")
      val ids = spark.read.parquet(live.toString).as[(Long, String, Double)]
        .collect().map(_._1).sorted.toSeq
      assert(ids === before :+ 4L, at)
      val dir = Files.list(live.getParent)
      try assert(dir.iterator().asScala.map(_.getFileName.toString).toList === List("state"),
        s"$at: a sibling of the state remains")
      finally dir.close()
    }
  }

  test("upsertByKey propagates a state read error instead of truncating the state") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val path = tempRoot("upsert_corrupt").toString + "/state"
    Sinks.upsertByKey(spark, Seq((1L, "2024-01-01", 10.0)).toDF("id", "collected_at", "price"),
      path, Seq("id"), "collected_at")
    // a corrupt footer on the only data file (its checksum removed, so
    // the parquet reader is what fails)
    val dir = Files.list(Paths.get(path))
    val part = try dir.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    finally dir.close()
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    val garbage = "not a parquet file".getBytes
    Files.write(part, garbage)
    intercept[Exception] {
      Sinks.upsertByKey(spark, Seq((2L, "2024-01-02", 20.0)).toDF("id", "collected_at", "price"),
        path, Seq("id"), "collected_at")
    }
    assert(Files.readAllBytes(part) === garbage) // the state was not replaced
  }

  test("bucketed tables join without an Exchange") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    Sinks.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Sinks.writeBucketed(o, "o_bucketed", "o_orderkey", 8)
    // hint a sort-merge join: tables this small would broadcast, which
    // bypasses bucketing entirely (the scale scenario is SMJ)
    val joined = spark.table("li_bucketed").hint("merge")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert(joined.count() > 0)
  }

  test("compact rewrites a fragmented directory into fewer files, data intact") {
    val path = tempRoot("compact").toString + "/frag"
    val li = Tables.lineitem(spark, sfDir)
    li.repartition(40).write.parquet(path) // simulate incremental-load fragmentation
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).length
    val before = files(path)
    assert(before >= 40)
    val rows = li.count()
    def xorsum(p: String) = spark.read.parquet(p)
      .agg(bit_xor(xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))))
      .collect().head.getLong(0)
    val checksum = xorsum(path)
    Sinks.compact(spark, path, targetFileBytes = 64L * 1024 * 1024)
    assert(files(path) < before)
    for (sibling <- Seq("__compact", "__old"))
      assert(!new java.io.File(path + sibling).exists(), s"$sibling left behind")
    val back = spark.read.parquet(path)
    assert(back.count() === rows)
    assert(xorsum(path) === checksum)
  }

  test("range-partitioned write produces files with disjoint key ranges") {
    val path = tempRoot("rangepart").toString + "/bytime"
    val li = Tables.lineitem(spark, sfDir)
    Sinks.writeRangePartitioned(li, path, "l_shipdate", partitions = 8)
    val back = spark.read.parquet(path)
    assert(back.count() === li.count())
    // each file covers a disjoint l_shipdate range → parquet min/max
    // stats prune every other file on a time predicate
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(parts.length >= 4)
    val ranges = parts.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
        .collect().head
      (r.getAs[java.time.LocalDateTime]("lo"), r.getAs[java.time.LocalDateTime]("hi"))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(!hi.isAfter(lo2))
      case _ =>
    }
  }

  test("z-ordered write shrinks per-file ranges on BOTH clustered columns") {
    val base = tempRoot("zorder").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
    Sinks.writeZOrdered(li, s"$base/z", Seq("l_partkey", "l_suppkey"), partitions = 16)
    // the 1-D alternative: range partition + sort on the FIRST key only
    Sinks.writeRangePartitioned(li, s"$base/naive", "l_partkey", partitions = 16)

    val back = spark.read.parquet(s"$base/z")
    assert(back.count() === li.count())
    assert(back.columns.sorted === li.columns.sorted) // no helper columns leak
    // mean normalized per-file [min,max] width of a column: the fraction
    // of that column's global range a file's parquet stats cannot prune
    def meanWidth(path: String, c: String): Double = {
      val global = li.agg(min(col(c)).cast("double"), max(col(c)).cast("double"))
        .collect().head
      val span = global.getDouble(1) - global.getDouble(0)
      val widths = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(((max(col(c)) - min(col(c))).cast("double") / span).as("w"))
        .collect().map(_.getAs[Double]("w"))
      widths.sum / widths.length
    }
    val zPart = meanWidth(s"$base/z", "l_partkey")
    val zSupp = meanWidth(s"$base/z", "l_suppkey")
    val nPart = meanWidth(s"$base/naive", "l_partkey")
    val nSupp = meanWidth(s"$base/naive", "l_suppkey")
    info(f"zorder: part=$zPart%.3f supp=$zSupp%.3f | naive: part=$nPart%.3f supp=$nSupp%.3f")
    // the 1-D layout nails its own key but leaves the second key
    // unprunable (~full range per file); z-order prunes on both
    assert(nSupp > 0.9, s"naive suppkey width $nSupp")
    assert(zSupp < 0.6 * nSupp, s"zorder suppkey width $zSupp vs naive $nSupp")
    assert(zPart < 0.6, s"zorder partkey width $zPart")
  }
}
