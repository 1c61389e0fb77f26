package graft.tools


import graft.SparkEntry

/** Ad-hoc single-query timer: run one named driver query N times
  * against a data dir, printing PER-RUN seconds (no median folding —
  * for separating artifact-build/JIT cost from steady state) and,
  * with PLAN=1, the final executed plan.
  *
  * Run: sbt "runMain graft.tools.TimeQuery <dir> <query> [runs]" */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Sessions.local()
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      println(f"[timequery] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (i == runs && sys.env.contains("PLAN")) println(df.queryExecution.executedPlan)
    }
    spark.stop()
  }
}
