package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream

/** Streaming upsert + incremental file-ingest parity with the
  * reference's queue-consumer loop. */
class StreamingUpsertSpec extends AnyFunSuite with SparkSessionTestBase {

  test("upsertStream loads incrementally and keeps newest per key") {
    import spark.implicits._
    val base = tempRoot("upstream").toString
    val srcDir = s"$base/src"
    val statePath = s"$base/state"
    val checkpoint = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()

    // batch 1: two users
    Seq((1L, "2024-01-01 10:00:00", 10.0), (2L, "2024-01-01 10:00:00", 20.0))
      .toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("append").parquet(srcDir)

    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .parquet(srcDir)
    val q = EventsStream.upsertStream(stream, statePath, checkpoint, Seq("user_id"), "ts")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(statePath).count() === 2)

      // batch 2: user 2 updated, user 3 new — only NEW files processed
      Seq((2L, "2024-01-02 10:00:00", 25.0), (3L, "2024-01-02 10:00:00", 30.0))
        .toDF("user_id", "ts", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()

      val state = spark.read.parquet(statePath).orderBy("user_id").collect()
      assert(state.length === 3)
      assert(state(1).getAs[Double]("value") === 25.0) // user 2 updated
      assert(state(0).getAs[Double]("value") === 10.0) // user 1 untouched
    } finally q.stop()
  }
}
