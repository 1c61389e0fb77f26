package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.DeltaLayout

/** Write-side of the pipeline: partitioned parquet landing, upsert by
  * key (the reference's get-or-create / UNIQUE(supermarket, barcode,
  * collected_at) load semantics), and bucketed tables for shuffle-free
  * repeated joins.
  *
  * Scale posture: partition columns are low-cardinality (date, store);
  * data is repartitioned on them before the write so each partition
  * directory is written by one task (no small-file explosion); upsert
  * keeps the newest observation per key via one window; upsert and
  * compaction write their output once and rename it over the live
  * directory ([[graft.streaming.DeltaLayout.swapLive]]); bucketed
  * tables pre-shuffle once at write time so every later equi-join on
  * the bucket key runs without an Exchange.
  */
object Sinks {

  /** Partitioned parquet landing zone. One writer task per partition
    * value → no small files at high parallelism. */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write.mode(mode)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Upsert-by-key load: merge incoming rows into the existing parquet
    * state keeping the newest row per key, ordered by `versionCol`. A
    * tie on key and version goes to the incoming row — last write
    * wins, like the reference's `ON CONFLICT DO UPDATE` — so an exact
    * re-delivery leaves the state's content unchanged; rows of one
    * incoming batch that tie with each other resolve arbitrarily.
    * Reference semantics: rabbitmq-to-postgres get_or_create +
    * collected_at versioning.
    *
    * One write per call: the state is read with `incoming.schema` (the
    * schema the previous upsert wrote — no footer-inference job), the
    * merged frame is written once to `path__staging`, and
    * [[graft.streaming.DeltaLayout.swapLive]] renames it over `path`.
    * Crash posture: a missing `path` is recovered before anything
    * reads it — a complete `path__staging` (one with `_SUCCESS`) rolls
    * forward, else `path__old` is restored — so a crash between the
    * swap's renames never reads as an empty state; resetting the
    * state therefore means deleting those two siblings with `path`.
    * Only a state that is absent after that counts as empty; every
    * other read error propagates and leaves `path` untouched. */
  def upsertByKey(
      spark: SparkSession, incoming: DataFrame, path: String,
      keyCols: Seq[String], versionCol: String): Unit = {
    val f = DeltaLayout.fs(spark, path)
    val tagged = incoming.withColumn("__incoming", lit(true))
    val unioned =
      if (!liveOrRecovered(f, path)) tagged
      else spark.read.schema(incoming.schema).parquet(path)
        .withColumn("__incoming", lit(false))
        .unionAll(tagged)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__incoming").desc)
    val staging = path + "__staging"
    unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__incoming")
      .write.mode(SaveMode.Overwrite).parquet(staging)
    DeltaLayout.swapLive(f, staging, path)
  }

  /** True iff `path` holds a state, after recovering a crash between
    * [[graft.streaming.DeltaLayout.swapLive]]'s two renames: when
    * `path` is missing, a complete `path__staging` (the new state)
    * rolls forward, else `path__old` (the prior one) is restored. One
    * driver-side `exists` when `path` is present. */
  private def liveOrRecovered(f: FileSystem, path: String): Boolean = {
    val live = new Path(path)
    f.exists(live) || {
      val staging = new Path(path + "__staging")
      val old = new Path(path + "__old")
      val from =
        if (f.exists(new Path(staging, "_SUCCESS"))) Some(staging)
        else Some(old).filter(f.exists)
      from.foreach { p =>
        if (!f.rename(p, live))
          throw new java.io.IOException(s"rename $p -> $live failed; state not recovered")
      }
      from.nonEmpty
    }
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` files. Streaming upserts and incremental loads
    * accrete files over time; at cluster scale the resulting
    * file-open/footers overhead dominates scan cost long before data
    * volume does. File count = ceil(bytes-on-disk / target), measured
    * from the source files themselves (no count() job, no sampling
    * pass). One write of exactly that many files to `path__compact`,
    * then [[graft.streaming.DeltaLayout.swapLive]] renames it over
    * `path`; a missing `path` is first recovered as in
    * [[upsertByKey]]. */
  def compact(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val f = DeltaLayout.fs(spark, path)
    liveOrRecovered(f, path): Unit
    val df = spark.read.parquet(path)
    // size via the Hadoop FileSystem of the path (works on HDFS/S3/
    // local alike) — java.io.File would report 0 bytes for any remote
    // URI and silently funnel the whole dataset into one file
    val bytes = df.inputFiles.map(p => f.getFileStatus(new Path(p)).getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = path + "__compact"
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp)
    DeltaLayout.swapLive(f, tmp, path)
  }

  /** Range-partitioned, sorted-within-file write: rows are range
    * partitioned then sorted on `rangeCol`, so each output file covers
    * a DISJOINT value range and its parquet min/max statistics actually
    * prune — a point or range predicate on `rangeCol` skips every other
    * file (row-group stats do the same within files). The
    * Spark-native form of clustering/Z-ordering on one key; the
    * standard layout for time-series landing zones queried by time
    * range. */
  def writeRangePartitioned(
      df: DataFrame, path: String, rangeCol: String, partitions: Int): Unit =
    df.repartitionByRange(partitions, col(rangeCol))
      .sortWithinPartitions(rangeCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-order (Morton-interleaved) clustered write: multi-column data
    * skipping, the layout [[writeRangePartitioned]] cannot give. Range
    * partitioning + sort on ONE key makes that key's per-file min/max
    * ranges disjoint, but every OTHER column spans its full range in
    * every file — a filter on the second key prunes nothing. Z-ordering
    * interleaves the bits of all `zCols` (each linearly scaled to
    * `bits` bits between its global min/max) into one Morton value and
    * range-partitions + sorts on THAT, so each file covers a small
    * hyper-rectangle of the combined key space and parquet min/max
    * stats prune on ANY of the clustered columns (the Delta/Iceberg
    * OPTIMIZE ZORDER layout, built from public bit arithmetic).
    *
    * Shape: one tiny global min/max aggregate rides a broadcast into a
    * narrow per-row bit-interleave (static shiftleft/and expression
    * tree — codegen, no UDF), then the one range-exchange any clustered
    * write pays. NULLs scale to 0 (sort first, like NULLS FIRST).
    * `zCols` must be numeric/date-castable to double. */
  def writeZOrdered(
      df: DataFrame, path: String, zCols: Seq[String],
      partitions: Int, bits: Int = 16): Unit = {
    require(zCols.nonEmpty, "zCols must be non-empty")
    require(zCols.size * bits <= 62,
      s"zCols.size * bits must fit a long, got ${zCols.size} * $bits")
    val mins = zCols.map(c => min(col(c).cast("double")).as(s"__min_$c"))
    val maxs = zCols.map(c => max(col(c).cast("double")).as(s"__max_$c"))
    val bounds = df.agg((mins ++ maxs).head, (mins ++ maxs).tail: _*)
    val maxCell = (1L << bits) - 1
    // scaled_i ∈ [0, 2^bits): linear position between the column's
    // global bounds; degenerate (min = max) and NULL both map to 0
    def scaled(c: String) = {
      val lo = col(s"__min_$c"); val hi = col(s"__max_$c")
      when(col(c).isNull || hi <= lo, lit(0L))
        .otherwise(least(lit(maxCell), floor(
          (col(c).cast("double") - lo) / (hi - lo) * maxCell).cast("long")))
    }
    // Morton interleave: output bit (b · n + i) = bit b of column i —
    // a static fold of 2^-free shift/mask terms, fully codegen'd
    val n = zCols.size
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      zCols.zipWithIndex.foldLeft(acc) { case (a, (c, i)) =>
        a.bitwiseOR(shiftleft(
          shiftright(col(s"__scaled_$c"), b).bitwiseAND(lit(1L)), b * n + i))
      }
    }
    df.crossJoin(broadcast(bounds))
      .withColumns(zCols.map(c => s"__scaled_$c" -> scaled(c)).toMap)
      .withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop((zCols.map(c => s"__scaled_$c") ++ zCols.map(c => s"__min_$c") ++
        zCols.map(c => s"__max_$c") :+ "__z"): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Persist as a bucketed+sorted table: pays the shuffle once at write
    * time; later equi-joins between tables bucketed on the same key
    * plan without an Exchange. */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // clear a leftover managed-table location from a crashed writer —
    // saveAsTable refuses to reuse it otherwise. Via the warehouse's
    // Hadoop FileSystem so the cleanup also works when the warehouse
    // lives on HDFS/S3 (java.io.File would silently no-op there and
    // leave the stale location to fail the write)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true): Unit
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table) // managed table under spark.sql.warehouse.dir
  }
}
