package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the mains and tools: every session
  * [[Bench]] measures, [[Verify]] dumps and a tool plans or times has
  * the same conf, so a tool's plan or timing is the measured one. */
object Sessions {

  /** A local session on `SPARK_GRAFT_CPUS` cores (default 4) with one
    * shuffle partition per core, AQE, UTC, the graft SQL extensions,
    * no UI, WARN logging. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
