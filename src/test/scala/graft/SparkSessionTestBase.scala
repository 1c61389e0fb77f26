package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuiteMixin}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built),
  * and the per-test temp roots every spec writes under. */
trait SparkSessionTestBase extends TestSuiteMixin { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Temp roots made by the running test: removed when it ends,
    * however it ends. */
  private val roots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A private temp root for the running test, in the JVM temp dir. */
  def tempRoot(prefix: String): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    roots.add(root)
    root
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!roots.isEmpty)
      graft.streaming.DeltaLayout.rmTree(roots.poll())
}
