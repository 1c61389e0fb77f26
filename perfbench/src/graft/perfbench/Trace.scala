package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed region: `layer` is the graft module the call enters
  * (tables, operators, sources, streaming, SparkEntry, spark). */
final case class Span(
    id: Long, parent: Long, op: Long, layer: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until the run ends. When disabled, `span` only runs its body. */
final class Tracer(t0: Long) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Time `body` as a span of `layer`; `op` starts a new op's tree,
    * otherwise the span belongs to the enclosing span's op. */
  def span[T](layer: String, name: String, op: Option[Long] = None)(body: => T): T =
    spanWith(layer, name, op)(body)(_ => Nil)

  /** A span plus child spans measured inside `body` by someone else
    * (StreamMeter phases): `children` maps the result to
    * (layer, name, seconds) laid end to end from the span's start. */
  def spanWith[T](layer: String, name: String, op: Option[Long] = None)(body: => T)(
      children: T => Seq[(String, String, Double)]): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val st = stack.get
      val opId = op.orElse(st.headOption.map(_._2)).getOrElse(-1L)
      val parent = st.headOption.map(_._1).getOrElse(0L)
      stack.set((id, opId) :: st)
      val s = System.nanoTime()
      try {
        val r = body
        var at = s - t0
        children(r).foreach { case (l, n, sec) =>
          val len = (sec * 1e9).toLong
          done.add(Span(ids.incrementAndGet(), id, opId, l, n, at, at + len))
          at += len
        }
        r
      } finally {
        stack.set(st)
        done.add(Span(id, parent, opId, layer, name, s - t0, System.nanoTime() - t0))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimeByLayer: Map[String, Double] = {
    val all = spans
    val childSum = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0L) childSum(s.parent) += s.endNs - s.startNs)
    all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => math.max(0L, s.endNs - s.startNs - childSum(s.id))).sum / 1e6
    }
  }
}

/** Spark counters from a listener, kept per job so a workload can
  * attribute them to ops afterwards: by the `perfbench.op` local
  * property of the submitting thread (concurrent callers), or by the
  * op's wall window (one caller whose calls fan out to pools that
  * predate the op). */
final class Meter extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var written = 0L
    def +=(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; written += o.written
    }
  }
  final case class Job(id: Int, startMs: Long, op: Long, stages: Seq[Int])
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageCounts = mutable.Map.empty[Int, Counts]
  private val running = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def opOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Meter.OpKey))).map(_.toLong).getOrElse(-1L)

  private def stage(id: Int) = stageCounts.getOrElseUpdate(id, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, opOf(e.properties), e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    running(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stage(e.stageId)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.written += m.outputMetrics.bytesWritten
    }
  }

  /** Counters of the jobs `pick` selects (a stage counts under the
    * first job that submitted it). */
  def countsFor(pick: Job => Boolean): Counts = synchronized {
    val out = new Counts
    jobs.filter(pick).foreach { j =>
      out.jobs += 1
      j.stages.filter(s => stageJob.get(s).contains(j.id))
        .foreach(s => stageCounts.get(s).foreach(out += _))
    }
    out
  }

  /** Wall milliseconds (epoch) inside [from, to) covered by at least
    * one running job. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val iv = (intervals.toSeq ++ running.values.map(s => (s, to)))
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

object Meter {
  val OpKey = "perfbench.op"
}
