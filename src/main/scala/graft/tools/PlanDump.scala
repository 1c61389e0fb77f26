package graft.tools


/** Optimization-round plan audit: dump `.explain("formatted")` for a
  * comma-separated list of SparkEntry queries (args(0)) into a
  * directory (args(1)), one `<name>.txt` per query — the
  * before/after plan evidence `plans/r<n>/` carries. Runs the same
  * session shape as Bench so the captured plans are the measured
  * ones (AQE initial plans; the final adaptive plan is runtime-only). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: PlanDump <name,name,...> <outDir>")
      sys.exit(2)
    }
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val outDir = args(1)
    var failures = 0
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $name")
          failures += 1
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
            failures += 1
          }
      }
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
