package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Multimodal

/** The cross-family deletion contract all the per-family signed
  * machines compose into — the engine-side mirror of the reference's
  * ON DELETE CASCADE (rabbitmq-to-postgres/app.py:98): when a
  * document is deleted upstream, it must leave EVERY derived index —
  * BM25 postings, phrase positions, the ANN assignment, both
  * dedup-gate signature faces, and the image fingerprint index — in
  * one lifecycle, not family by family on independent schedules.
  *
  * One signed remove per family (same victim ids), then a per-family
  * presence probe of the live faces. The run returns one row per
  * face: (family, rows_before, rows_after) — rows_before > 0 proves
  * the victims were genuinely indexed everywhere, rows_after == 0 is
  * the contract (spec-pinned; rows-only at the driver because the
  * sketch and image faces have no SQL twin). */
object SignedDeleteCascade {

  /** Bounded end-to-end run — the measured driver entry
    * (q_signed_delete_cascade): seed all six faces (five machines)
    * over a corpus slice, stream the SAME victim ids as removals
    * through each machine, and probe each live face for the victims
    * before and after. */
  def deleteCascadeRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // a 5% slice keeps the six-index lifecycle bounded; victims are
    // the slice's every-fifth doc so every family indexes them
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").filter(col("doc_id") % 20 === 0)
      .localCheckpoint()
    val emb = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").filter(col("vec_id") % 20 === 0)
      .localCheckpoint()
    val victimCol = col("doc_id") % 100 === 0
    val victims = docs.filter(victimCol).select("doc_id").localCheckpoint()

    val root = java.nio.file.Files.createTempDirectory("graft_del_cascade")
    // the five machines are INDEPENDENT (disjoint temp dirs, disjoint
    // checkpoints) — their seeds, streams and probes overlap from a
    // small driver thread pool so one machine's straggler tail
    // back-fills with the next machine's tasks (guide §2.6) instead of
    // serializing five lifecycles of mostly-idle 32-core stages
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def awaitAll[T](fs: Seq[() => T]): Seq[T] =
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          fs.map(f => scala.concurrent.Future(f()))),
        scala.concurrent.duration.Duration.Inf)
    try {
      StreamMeter.timeSeed("q_signed_delete_cascade") {
        awaitAll(Seq(
          () => Bm25SignedStream.seedIndex(docs, root.resolve("bm25").toString),
          () => PhraseSignedStream.seedIndex(docs, root.resolve("phrase").toString),
          () => DedupSignedStream.seedIndex(docs, root.resolve("dedup").toString),
          () => IvfSignedStream.seedIndex(emb, root.resolve("ivf").toString),
          () => ImageSignedStream.seedIndex(
            Multimodal.imageFingerprints(Multimodal.syntheticImages(docs))
              .toDF().filter(col("media_id") < Multimodal.TwinIdBit),
            root.resolve("image").toString))): Unit
      }

      def live(name: String) = name match {
        case "bm25" => SignedIndexLayout.livePostings(spark,
          root.resolve("bm25").toString, root.resolve("bm25_d").toString,
          Long.MaxValue, Seq("term", "doc_id", "tf", "dl"))
        case "phrase" => SignedIndexLayout.livePostings(spark,
          root.resolve("phrase").toString, root.resolve("phrase_d").toString,
          Long.MaxValue, Seq("term", "doc_id", "pos"))
        case "dedup_minhash" => DedupSignedStream.liveSignatures(spark,
          root.resolve("dedup").toString, root.resolve("dedup_d").toString)
        case "dedup_simhash" => DedupSignedStream.liveFingerprints(spark,
          root.resolve("dedup").toString, root.resolve("dedup_d").toString)
        case "ivf" => IvfSignedStream.liveAssign(spark,
          root.resolve("ivf").toString, root.resolve("ivf_d").toString)
        case "image" => ImageSignedStream.liveFingerprints(spark,
          root.resolve("image").toString, root.resolve("image_d").toString)
      }
      val families =
        Seq("bm25", "phrase", "dedup_minhash", "dedup_simhash", "ivf", "image")
      // ONE Spark job probes all six faces: the per-family semi-join
      // counts union into a single collected frame instead of six
      // sequential count() actions (guide §2.6 — the scheduler
      // overlaps the six bounded subtrees; previously each count's
      // straggler tail idled the whole machine)
      // frame CONSTRUCTION overlaps too: each live() reconstruction
      // checkpoints its bounded net-ops frame (an eager action), and
      // six of those would otherwise serialize before the union job
      def probe(): Map[String, Long] = awaitAll(families.map(f => () => {
        val idCol = f match {
          case "ivf" => "vec_id"
          case "image" => "media_id"
          case _ => "doc_id"
        }
        live(f)
          .join(victims.select(col("doc_id").as(idCol)), Seq(idCol),
            "left_semi")
          .agg(count(lit(1)).as("n"))
          .select(lit(f).as("family"), col("n"))
      })).reduce(_ unionByName _)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      val before = StreamMeter.timePhase("q_signed_delete_cascade", "probe") {
        probe()
      }

      // one remove batch per machine, the SAME victim ids everywhere;
      // the five streams START together and drain CONCURRENTLY —
      // processAllAvailable on one query overlaps the others' batches
      def startOps(tag: String, ops: DataFrame,
          maintain: (DataFrame, String, String, String) =>
            org.apache.spark.sql.streaming.StreamingQuery)
          : org.apache.spark.sql.streaming.StreamingQuery = {
        val src = root.resolve(s"src_$tag").toString
        ops.write.mode("overwrite").parquet(src)
        maintain(
          spark.readStream.schema(ops.schema).parquet(src),
          root.resolve(tag).toString, root.resolve(s"${tag}_d").toString,
          root.resolve(s"ckpt_$tag").toString)
      }
      val textOps = victims
        .select(col("doc_id"), lit("").as("text"), lit("remove").as("op"))
      StreamMeter.timePhase("q_signed_delete_cascade", "batch") {
        val queries = awaitAll(Seq(
          () => startOps("bm25", textOps, Bm25SignedStream.indexMaintain),
          () => startOps("phrase", textOps, PhraseSignedStream.indexMaintain),
          () => startOps("dedup", textOps,
            DedupSignedStream.indexMaintain(_, _, _, _)),
          () => startOps("ivf", victims
              .select(col("doc_id").as("vec_id"),
                typedLit(Array.empty[Float]).as("embedding"),
                lit("remove").as("op")),
            IvfSignedStream.indexMaintain),
          () => startOps("image", victims
              .select(col("doc_id").as("media_id"), lit("image").as("modality"),
                lit(Array.emptyByteArray).as("payload"), lit(0).as("width"),
                lit(0).as("height"), lit(0).as("sample_rate"),
                lit("remove").as("op")),
            ImageSignedStream.indexMaintain)))
        try queries.foreach(_.processAllAvailable())
        finally queries.foreach(_.stop())
      }

      val after = StreamMeter.timePhase("q_signed_delete_cascade", "serve") {
        probe()
      }
      families.map(f => (f, before(f), after(f)))
        .toDF("family", "rows_before", "rows_after")
        .orderBy("family")
    } finally {
      pool.shutdown()
      DeltaLayout.rmTree(root)
    }
  }
}
