package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  * Results are materialized through the noop sink so column pruning
  * cannot skip the measured work (a bare count() would). */
object Bench {

  /** The stdout contract: one JSON line that must survive the
    * harness's ~2000-char stdout tail (sbt appends a ~70-char
    * [success] line after it, so the budget is ~1880 — a longer line
    * loses its HEAD, including the opening brace, and stops parsing).
    * Cascade 3 → 2 → 1 decimals; when even 1dp no longer fits (the
    * query count keeps growing) keep the slowest queries individually
    * and fold the remainder into "_rest" — the heavy tail is what
    * per-query numbers are for. Exposed for spec coverage
    * (BenchLineSpec): the driver-visible contract must not regress as
    * queries are added. */
  private[graft] val MaxLine = 1880

  private[graft] def fmt(dp: Int, v: Double): String =
    // Locale.ROOT: a comma-decimal default locale (de_DE, fr_FR) would
    // format 71.234 as "71,234" and corrupt the JSON
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  /** Optional build-cost map for the slowest entries (warm-up time
    * minus steady-state median — the artifact-build + first-serve
    * cost the timed runs deliberately exclude): makes the
    * build-vs-serve split legible in the PUBLISHED line, so a
    * build-heavy entry (entity quartet, stream harnesses) is not
    * misread as serving cost. Empty → the key is omitted. */
  private def mapSuffix(
      key: String, entries: Seq[(String, Double)], dp: Int): String =
    if (entries.isEmpty) ""
    else entries.map { case (k, v) => "\"" + k + "\":" + fmt(dp, v) }
      .mkString(s""","$key":{""", ",", "}")

  /** Two DISJOINT cost maps so no consumer can double-count: "build"
    * entries are the EXCLUDED warm-up delta (median + build ≈
    * first-run cost); "seed" entries are the StreamMeter-reported
    * seed seconds that sit INSIDE every q_stream_* median (never add
    * them to it). An entry appears in at most one map. */
  private def buildSuffix(build: Seq[(String, Double)], dp: Int): String =
    mapSuffix("build", build, dp)

  private[graft] def fullLine(
      results: Seq[(String, Double)], total: Double, sfTag: String, dp: Int = 3,
      build: Seq[(String, Double)] = Seq.empty,
      seed: Seq[(String, Double)] = Seq.empty): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(dp, v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(3, total)},"unit":"sec","queries":$qs""" +
      s""","sf":"$sfTag"${buildSuffix(build, dp)}${mapSuffix("seed", seed, dp)}}"""
  }

  private def lineTop(
      results: Seq[(String, Double)], total: Double, sfTag: String,
      dp: Int, topN: Int, build: Seq[(String, Double)] = Seq.empty,
      seed: Seq[(String, Double)] = Seq.empty): String = {
    val bySlowest = results.sortBy(-_._2)
    val top = bySlowest.take(topN).sortBy(_._1)
    val rest = bySlowest.drop(topN).map(_._2).sum
    val qs = (top.map { case (k, v) => "\"" + k + "\":" + fmt(dp, v) } :+
      ("\"_rest\":" + fmt(dp, rest))).mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(3, total)},"unit":"sec","queries":$qs""" +
      s""","sf":"$sfTag"${buildSuffix(build, dp)}${mapSuffix("seed", seed, dp)}}"""
  }

  /** First representation fitting the budget; always valid JSON. The
    * build/seed maps degrade before per-query precision does: they
    * ride the 3/2dp variants and are dropped from the fallbacks. */
  private[graft] def stdoutLine(
      results: Seq[(String, Double)], total: Double, sfTag: String,
      build: Seq[(String, Double)] = Seq.empty,
      seed: Seq[(String, Double)] = Seq.empty): String =
    Seq(
      fullLine(results, total, sfTag, 3, build, seed),
      fullLine(results, total, sfTag, 2, build, seed),
      fullLine(results, total, sfTag, 1, build, seed),
      lineTop(results, total, sfTag, 2, 45, build, seed),
      // the split is worth a few more _rest-folded entries: prefer a
      // smaller top-N WITH the cost maps over 45 entries without them
      lineTop(results, total, sfTag, 2, 35, build, seed),
      lineTop(results, total, sfTag, 2, 45),
      lineTop(results, total, sfTag, 1, 30, build, seed))
      .find(_.length <= MaxLine)
      .getOrElse(lineTop(results, total, sfTag, 1, 30))

  /** Minimal JSON string escape for embedding the stdout line (which
    * is itself JSON, so quotes and backslashes must be escaped). */
  private def escapeJson(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-N discipline: identical-code totals swing ~2× with host
    // contention (SURVEY §8), so single-run per-query deltas are mostly
    // noise — the stdout line reports per-query MEDIANS across N
    // in-process runs and bench_full.json keeps min/median/max
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = Sessions.local()
    // builder aid, like Verify's SPARK_GRAFT_VERIFY_ONLY (the driver
    // never sets it): comma-separated entry names to isolate a
    // regression on a quiet host without paying the full surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Full warm-up pass EXCLUDED from stats: builds every persisted
    // index artifact (trigram/SQ/PQ/LM/BPE — fingerprint-keyed parquet,
    // built once per data version), JIT-compiles the generated code,
    // and faults in the page cache. Without it, run 1 carries all of
    // that at ~2× the steady state and a single noisy run away from
    // contaminating N=3 medians (driver r6: per-run totals 254/144/119 s).
    // The timed runs measure the steady-state query cost — which is
    // what per-query medians are for; artifact-build cost is reported
    // separately as "warmup" in bench_full.json.
    val warm0 = System.nanoTime()
    // per-query warm-up seconds: for the indexed families this IS the
    // artifact-build + first-serve cost (fingerprint miss → train +
    // persist), so bench_full.json carries the build/serve cost split
    // per family, not just the one global warmup number
    val warmupPer: Seq[(String, Double)] = names.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val warmupSec = (System.nanoTime() - warm0) / 1e9
    val perRun: Seq[Seq[(String, Double)]] = (1 to runs).map { _ =>
      // level the field between runs (warm-up included): drop every
      // persisted block so no run coasts on a prior run's shared pair
      // cache — and reset the pair-cache map so each run re-persists
      // from scratch (clearCache alone would leave the map serving
      // de-registered frames). Disk artifacts deliberately survive:
      // the indexed paths measure SERVING from a prebuilt artifact.
      SparkEntry.clearSharedCaches()
      spark.catalog.clearCache()
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    val byName: Map[String, Seq[Double]] =
      perRun.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val results = names.map { case (name, _) => name -> median(byName(name)) }
    val total = results.map(_._2).sum
    val sfTag = sfDir.split('/').last
    // build-vs-serve split for EVERY artifact-building entry (not just
    // the slowest), published as two DISJOINT maps so consumers can't
    // double-count: "build" is warm-up minus steady median ≈ the
    // artifact-build + first-run cost the timed runs EXCLUDE (clamped
    // at 0 — a noisy warm-up can come in under the median; median +
    // build ≈ first-run cost). "seed" is the StreamMeter-reported
    // seed seconds for the q_stream_* harnesses, whose steady median
    // IS a whole maintenance lifecycle — the seed cost sits INSIDE
    // every measured run (never add seed to median). Every q_stream_*
    // harness calls timeSeed, so no stream entry falls into the
    // wrong-by-construction warm-minus-median bucket. The stdout line
    // carries entries over 0.5 s (the cascade drops the maps before
    // dropping query precision); bench_full.json keeps both full maps.
    val warmMap = warmupPer.toMap
    val streamSeeds = graft.streaming.StreamMeter.snapshot
    val seedAll = results.collect {
      case (name, _) if streamSeeds.contains(name) =>
        name -> streamSeeds(name)
    }.sortBy(_._1)
    val buildAll = results.collect {
      case (name, med) if !streamSeeds.contains(name) =>
        name -> math.max(0.0, warmMap.getOrElse(name, 0.0) - med)
    }.sortBy(_._1)
    val buildTop = buildAll.filter(_._2 >= 0.5)
    val seedTop = seedAll.filter(_._2 >= 0.5)
    try {
      // forensic copy with full precision, spread, and per-run totals —
      // never fail the bench over it
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      val qs = names.map { case (name, _) =>
        val vs = byName(name)
        "\"" + name + "\":{\"min\":" + fmt(3, vs.min) +
          ",\"med\":" + fmt(3, median(vs)) + ",\"max\":" + fmt(3, vs.max) + "}"
      }.mkString("{", ",", "}")
      val runTotals = perRun.map(r => fmt(3, r.map(_._2).sum)).mkString("[", ",", "]")
      val warmQs = warmupPer.map { case (name, v) =>
        "\"" + name + "\":" + fmt(3, v)
      }.mkString("{", ",", "}")
      val buildQs = buildAll.map { case (name, v) =>
        "\"" + name + "\":" + fmt(3, v)
      }.mkString("{", ",", "}")
      val seedQs = seedAll.map { case (name, v) =>
        "\"" + name + "\":" + fmt(3, v)
      }.mkString("{", ",", "}")
      // per-entry lifecycle phase split (seed/batch/compact/serve,
      // StreamMeter.timePhase) — forensic only, never on stdout: the
      // measure-first evidence for WHICH phase of a stream harness
      // carries its cost (guide §1)
      val phaseQs = graft.streaming.StreamMeter.phaseSnapshot.toSeq
        .sortBy(_._1).map { case (name, m) =>
          "\"" + name + "\":" + m.toSeq.sortBy(_._1).map { case (p, v) =>
            "\"" + p + "\":" + fmt(3, v)
          }.mkString("{", ",", "}")
        }.mkString("{", ",", "}")
      // the exact headline line this run prints, embedded so the full
      // map and the stdout snapshot can never come from different runs
      val stdout = stdoutLine(results, total, sfTag, buildTop, seedTop)
      val full =
        s"""{"metric":"total","value":${fmt(3, total)},"unit":"sec","sf":"$sfTag",""" +
          s""""warmup":${fmt(3, warmupSec)},"warmup_queries":$warmQs,""" +
          s""""build":$buildQs,"seed":$seedQs,"phases":$phaseQs,""" +
          s""""runs":$runTotals,""" +
          s""""stdout":${escapeJson(stdout)},"queries":$qs}"""
      java.nio.file.Files.write(dir.resolve("bench_full.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(stdoutLine(results, total, sfTag, buildTop, seedTop))
    spark.stop()
  }
}
