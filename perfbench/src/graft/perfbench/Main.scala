package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's JVM side: one session, one workload, one seed.
  *
  * Usage (normally started by `perfbench/run.py`):
  * {{{
  * graft.perfbench.Main --workload api_mix|maintained_state
  *   --seed N --seconds S --trace 0|1 --cpus C
  *   --data <generated inputs> --work <scratch dir> --out <result dir>
  * }}}
  * Writes `run.json` (op records, set-up times, counters),
  * `results.jsonl` (every checked result) and, when tracing,
  * `spans.jsonl` into `--out`. Correctness is judged afterwards by
  * `perfbench/check.py`; nothing here decides pass or fail except
  * recording the exceptions ops throw. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val tracer = new Tracer(t0)
    val cpus = a("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(spark, tracer, a("data"), a("work"), a("seconds").toDouble,
      a("trace") == "1")
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1fs $what")
    mark("session up")
    val body: Map[String, Any] = a("workload") match {
      case "api_mix" => ApiMix.run(h)
      case "maintained_state" => MaintainedState.run(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    mark("workload done")
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    Files.write(out.resolve("results.jsonl"),
      h.results.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
    if (h.trace)
      Files.write(out.resolve("spans.jsonl"), tracer.spans.map(s => Json(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)))
        .mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(out.resolve("run.json"), Json(body ++ Map(
      "workload" -> a("workload"), "seed" -> a("seed").toLong,
      "conf" -> conf, "session_s" -> sessionS,
      "self_ms_by_layer" -> (if (h.trace) tracer.selfTimeByLayer else Map.empty),
      "ops" -> h.ops.asScala.toSeq.sortBy(_("id").asInstanceOf[Long])))
      .getBytes(UTF_8))
    mark("results written")
    spark.stop()
    mark("session stopped")
  }
}

/** Shared run machinery: op records, result capture, counters. */
final class Harness(
    val spark: SparkSession, val tracer: Tracer, val data: String,
    val work: String, val seconds: Double, val trace: Boolean) {
  val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  val results = new ConcurrentLinkedQueue[String]()
  private val ids = new AtomicLong(0)
  var meter: Option[Meter] = None
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Seconds the workload's set-up takes. */
  def timeSetup(body: => Unit): Double = {
    val s = System.nanoTime()
    body
    (System.nanoTime() - s) / 1e9
  }

  /** Time one op. The body returns extra fields for the op record; an
    * exception is recorded (with its message) and the op counts as
    * failed. Spark jobs the op submits carry its id. */
  def op(kind: String, warm: Boolean)(body: Long => Map[String, Any]): Map[String, Any] = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    sc.setLocalProperty(Meter.OpKey, id.toString)
    val startMs = System.currentTimeMillis()
    val s = System.nanoTime()
    val (extra, err) =
      try (tracer.span("op", kind, Some(id))(body(id)), None)
      catch { case e: Throwable => (Map.empty[String, Any], Some(Harness.describe(e))) }
    val ms = (System.nanoTime() - s) / 1e6
    sc.setLocalProperty(Meter.OpKey, null)
    val rec = extra ++ Map("id" -> id, "kind" -> kind, "warm" -> warm, "ms" -> ms,
      "start_ms" -> startMs, "end_ms" -> (startMs + ms.toLong), "error" -> err.orNull)
    ops.add(rec)
    rec
  }

  /** Capture a result for the checker. */
  def result(id: Long, kind: String, params: Map[String, Any], df: DataFrame,
      rows: Array[Row]): Unit =
    results.add(Json(Map("id" -> id, "kind" -> kind, "params" -> params,
      "schema" -> df.schema.fields.toSeq.map(f => Seq(f.name, f.dataType.typeName)),
      "rows" -> rows.toSeq.map(r => df.schema.fields.indices.map(i =>
        Harness.cell(r, i, df.schema.fields(i).dataType))))))

  /** Force the physical plan, then collect — the two halves of serving
    * a call, each its own span. */
  def serve(df: DataFrame): Array[Row] = {
    tracer.span("spark", "plan")(df.queryExecution.executedPlan)
    tracer.span("spark", "collect")(df.collect())
  }

  /** Start the listener and the JVM counters for the timed window. */
  def startTimed(): (Long, Long) = {
    if (trace) {
      val m = new Meter
      spark.sparkContext.addSparkListener(m)
      meter = Some(m)
      tracer.enabled = true
    }
    (System.currentTimeMillis(), gcMs)
  }

  /** Counters over the timed window: per op (attributed by `byWindow`
    * or by the op's job property) and for the whole window. */
  def timedCounters(from: (Long, Long), timedOps: Seq[Map[String, Any]],
      byWindow: Boolean): Map[String, Any] = {
    val to = System.currentTimeMillis()
    val gc = (gcMs - from._2) / 1e3
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val base = Map[String, Any]("window_ms" -> (to - from._1), "gc_s" -> gc,
      "heap_peak_mb" -> heapPeak)
    meter.fold(base) { m =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val perOp = timedOps.map { o =>
        val id = o("id").asInstanceOf[Long]
        val (s, e) = (o("start_ms").asInstanceOf[Long], o("end_ms").asInstanceOf[Long])
        val c = m.countsFor(j => if (byWindow) j.startMs >= s && j.startMs <= e else j.op == id)
        id.toString -> Harness.countsMap(c)
      }.toMap
      base ++ Map("busy_ms" -> m.busyMs(from._1, to), "per_op" -> perOp,
        "window" -> Harness.countsMap(m.countsFor(j => j.startMs >= from._1 && j.startMs <= to)))
    }
  }
}

object Harness {
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = s"${e.getClass.getName}: ${e.getMessage}"
    if (root eq e) msg else s"$msg (root: ${root.getClass.getName}: ${root.getMessage})"
  }

  def countsMap(c: Meter#Counts): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "exec_run_s" -> c.runMs / 1e3, "exec_cpu_s" -> c.cpuNs / 1e9,
    "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
    "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
    "spill_mb" -> c.spill / 1048576.0, "written_mb" -> c.written / 1048576.0)

  /** One result cell in a checker-friendly form: numbers stay numbers
    * (doubles round-trip exactly through their shortest decimal form;
    * NaN and infinities become strings), timestamps become ISO strings,
    * decimals their plain string. */
  def cell(r: Row, i: Int, t: DataType): Any =
    if (r.isNullAt(i)) null
    else t match {
      case FloatType => r.getFloat(i).toDouble
      case _: DecimalType => r.getDecimal(i).toPlainString
      case TimestampNTZType => r.getAs[java.time.LocalDateTime](i).toString
      case TimestampType => r.getAs[java.sql.Timestamp](i).toInstant.toString
      case DateType => r.getAs[java.sql.Date](i).toString
      case _ => r.get(i) match {
        case s: scala.collection.Seq[_] => s.map(_.toString)
        case v => v
      }
    }
}

/** JSON in and out of the benchmark's files, through Jackson with its
  * Scala module (both ship in Spark's jars). */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}
