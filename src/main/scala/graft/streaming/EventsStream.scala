package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twin of the batch event operators: the
  * reference's queue consumer (rabbitmq-to-postgres) re-expressed as
  * readStream → windowed aggregation / stateful sessionization.
  *
  * Scale posture: watermark bounds state; the windowed agg shuffles on
  * (window, event_type); sessionization keeps one GroupState per
  * user_id with event-time timeout, so state size is O(active users),
  * not O(events).
  */
object EventsStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling 1h windows per event_type with a 10m watermark — the
    * streaming form of Etl.eventWindows. Append-mode safe. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** End-to-end streaming load: file-source stream → normalize →
    * upsert-by-key into a parquet state dir via foreachBatch — the
    * reference's queue-consumer→postgres upsert loop
    * (rabbitmq-to-postgres/app.py) as one Structured Streaming query.
    * The file source's checkpoint replaces the consumer's hand-rolled
    * `processed_files` set: restarts resume exactly-once from new
    * files only. */
  def upsertStream(
      events: DataFrame, statePath: String, checkpoint: String,
      keyCols: Seq[String], versionCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Sinks.upsertByKey(batch.sparkSession, batch.toDF(), statePath,
          keyCols, versionCol)
      }
      .start()

  /** Watermarked stream-stream attribution join: attribute each
    * purchase to the user's views in the preceding `horizon` — the
    * streaming form of the as-of/attribution analysis
    * (`Temporal.asOfJoin` is the batch twin). Both sides carry
    * watermarks and the join condition bounds the event-time skew, so
    * Spark buffers only `horizon`-worth of state per side and evicts
    * closed ranges exactly-once — unbounded-state stream joins are the
    * canonical streaming OOM, and the time bound is what prevents it.
    * Inner join: a purchase emits once per qualifying view; downstream
    * pick-latest (or first-touch) runs per micro-batch. */
  def attributionJoin(
      views: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val v = views
      .withWatermark("ts", horizon)
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val p = purchases
      .withWatermark("ts", horizon)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    // explicit leg aliases: when both streams derive from one source,
    // p("user_id") === v("user_id") resolves to the SAME attribute and
    // Spark's self-join disambiguation logs a "trivially true equals
    // predicate" warning before rewriting it — fragile across
    // upgrades; the alias-qualified predicate is unambiguous from the
    // start and the warning class disappears
    p.as("p").join(v.as("v"),
      col("p.user_id") === col("v.user_id") &&
        col("v.view_ts") <= col("p.purchase_ts") &&
        col("v.view_ts") >= col("p.purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("p.user_id").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("view_id"), col("view_ts"), col("value"))
  }

  /** Stream-static enrichment join: attach a (slowly-changing)
    * dimension snapshot to the event stream — the streaming form of the
    * reference's store upsert/lookup step (each incoming item resolves
    * its supermarket row before landing). A stream-static equi-join is
    * STATELESS in Structured Streaming: every micro-batch joins against
    * the dimension's current snapshot, so dimension updates between
    * batches are picked up automatically; `broadcast` keeps each batch
    * shuffle-free on the stream side. Left join preserves events whose
    * key has no dimension row yet (the get-or-create case surfaces as
    * nulls for downstream handling). */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exactly-once-per-event dedup: the raw_hash idempotency
    * rule (rabbitmq-to-postgres) as a streaming operator. State is
    * bounded by the watermark — a duplicate arriving within the
    * watermark horizon is dropped even if its timestamp differs
    * (dropDuplicatesWithinWatermark keys on event_id only); older
    * duplicates were already excluded by the file-source checkpoint. */
  def dedupStream(events: DataFrame, horizon: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Bounded end-to-end run of the STREAMING session_window
    * aggregation on the [[DeltaLayout.run]] lifecycle, returning the
    * complete session set — the measured driver entry for the
    * streaming surface (q_stream_session_window), result equal to the
    * batch Etl.sessionWindows so the two share one oracle.
    *
    * Append-mode session aggregations only emit a session once the
    * watermark passes its end, so a bounded run would otherwise hold
    * its tail sessions in state forever (the watermark stalls at
    * max(ts) − delay). The staged source therefore carries one
    * far-future SENTINEL event (user_id −1) in the same file as the
    * events: after the data batch the watermark advances past every
    * real session end and the no-data batch flushes them all; only the
    * sentinel's own session stays open, filtered from the result. The
    * file must be ONE: a second file would be a later micro-batch,
    * whose events could fall behind the watermark. State is O(open
    * sessions) throughout — the same bound a production stream has. */
  def sessionWindowRun(
      spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    // watermarks reject TIMESTAMP_NTZ event time — cast to TIMESTAMP
    // (session timezone is UTC, so wall values are unchanged)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    // the sentinel must push the final watermark PAST every real
    // session end: a user's last session ends at max(ts) + gap, the
    // watermark reaches sentinel − 10 min (the delay below), so the
    // offset is gap + delay + 10 min slack — a fixed constant would
    // silently drop every tail session once gap approaches it
    val sentinelOffsetMin = gapMinutes + 10 + 10
    val sentinel = ev.agg(max("ts").as("ts"))
      .select(lit(-1L).as("event_id"),
        (col("ts") + expr(s"INTERVAL $sentinelOffsetMin MINUTES")).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
    def sessions(events: DataFrame): DataFrame = events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.StableStats.stableSum(col("value"), 2).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))
    DeltaLayout.run(spark, "q_stream_session_window", compacts = false,
      (_, src) => {
        ev.unionByName(sentinel).coalesce(1)
          .write.mode("overwrite").parquet(src)
        ev
      },
      (events, seedPath, deltaPath, checkpoint) => DeltaLayout.landEach(
        sessions(events), seedPath, deltaPath, checkpoint)(identity),
      (_, _) => (),
      (_, deltaPath) => DeltaLayout.readParquet(spark, deltaPath).drop("batch_id"))
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start")
  }

  /** Stateful gap sessionization via flatMapGroupsWithState: emits a
    * session row when the gap timeout fires (streaming form of
    * Etl.sessionize). */
  def sessionizeStream(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
