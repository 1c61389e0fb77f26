package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DedupSignedStream, ImageSignedStream,
  SemDedupSignedStream, SignedDeleteCascade}

/** The round-13 removal-aware machines: dedup-gate signatures,
  * SemDeDup assignment, image fingerprints, and the cross-family
  * delete cascade. Each pins (a) live-face equality against direct
  * sketching/assignment of the SURVIVING corpus (deterministic, so
  * bit-equal), (b) the user-visible deletion semantics (a removed
  * doc's ghost suppresses nothing), and (c) compaction invariance. */
class SignedStreamsSpec extends AnyFunSuite with SparkSessionTestBase {

  private def rows(df: DataFrame, sort: String*): Seq[String] =
    df.orderBy(sort.map(col): _*).collect().map(_.toString).toSeq

  test("signed dedup gate: live faces equal direct sketches of the " +
      "survivors; a deleted doc's content re-admits instead of being " +
      "suppressed; compaction invariant") {
    import spark.implicits._
    val root = tempRoot("dedup_signed_spec")
    try {
      val src = root.resolve("src").toString
      val seedP = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      // texts long enough to fill every OPH slot (the signature's
      // empty-slot densification is id-seeded BY DESIGN, so exact
      // copies under different ids only read est 1.0 when no slot is
      // empty — true for real documents, not for 6-word toys)
      def words(tag: String): String =
        (1 to 120).map(i => s"$tag$i").mkString(" ")
      // yesterday: doc1 verbatim, doc2 STALE, doc9 alien (content
      // that exists NOWHERE else; deleted today)
      val alienText = words("alien")
      DedupSignedStream.seedIndex(
        Seq((1L, words("fox")),
          (2L, words("lorem") + " stalecopy"),
          (9L, alienText)).toDF("doc_id", "text"), seedP)
      // BEFORE the deletion, a re-submission of the alien content IS
      // suppressed (pairs against the ghost at est 1.0)
      val probeAlien = Seq((100L, alienText)).toDF("doc_id", "text")
      val suppressed = DedupSignedStream.gate(
        spark, seedP, deltaP, probeAlien).collect()
      assert(suppressed.length === 1 &&
        suppressed.head.getLong(1) === 9L &&
        suppressed.head.getDouble(2) === 1.0)
      val b0 = Seq((2L, words("lorem"), "add"),
        (3L, words("zebra"), "add"))
        .toDF("doc_id", "text", "op")
      b0.write.mode("overwrite").parquet(src)
      val q = DedupSignedStream.indexMaintain(
        spark.readStream.schema(b0.schema).parquet(src),
        seedP, deltaP, root.resolve("ckpt").toString)
      try {
        q.processAllAvailable()
        Seq((9L, "", "remove")).toDF("doc_id", "text", "op")
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      val surviving = Seq(
        (1L, words("fox")),
        (2L, words("lorem")),
        (3L, words("zebra")))
        .toDF("doc_id", "text")
      def checkFaces(): Unit = {
        assert(rows(DedupSignedStream.liveSignatures(spark, seedP, deltaP),
          "doc_id")
          === rows(graft.operators.Dedup.minhashSignatures(surviving),
            "doc_id"))
        assert(rows(DedupSignedStream.liveFingerprints(spark, seedP, deltaP),
          "doc_id")
          === rows(DedupSignedStream.simhashFps(surviving), "doc_id"))
      }
      checkFaces()
      // the deleted alien's ghost is gone: the same re-submission now
      // emits ZERO pairs — the content legitimately re-enters
      assert(DedupSignedStream.gate(spark, seedP, deltaP, probeAlien)
        .collect().isEmpty)
      // an exact copy of a SURVIVING doc still pairs at est 1.0 —
      // including against the REPLACED doc2's new text, not its stale
      // seed text
      val probeCopy = Seq((101L, words("lorem"))).toDF("doc_id", "text")
      val hits = DedupSignedStream.gate(spark, seedP, deltaP, probeCopy)
        .collect()
      assert(hits.length === 1 && hits.head.getLong(1) === 2L &&
        hits.head.getDouble(2) === 1.0)
      // the simhash face serves the same semantics through the
      // hamming gate (fingerprint of the replaced text, not the stale)
      val fpHits = DedupSignedStream.gateFingerprints(
        spark, seedP, deltaP, probeCopy).collect()
      assert(fpHits.length === 1 && fpHits.head.getLong(1) === 2L &&
        fpHits.head.getInt(2) === 0)
      assert(DedupSignedStream.gateFingerprints(
        spark, seedP, deltaP, probeAlien).collect().isEmpty)
      DedupSignedStream.compact(spark, seedP, deltaP)
      checkFaces()
      assert(DedupSignedStream.gate(spark, seedP, deltaP, probeAlien)
        .collect().isEmpty)
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }

  test("signed SemDeDup assignment: live == direct assignment of the " +
      "survivors; served verdict == direct twin; compaction carries " +
      "centroids") {
    import spark.implicits._
    val root = tempRoot("semdedup_signed_spec")
    try {
      val src = root.resolve("src").toString
      val seedP = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      def vecs(rows: Seq[(Long, Seq[Float])]) = rows
        .map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")
      val cluster1 = Seq(1.0f, 0.0f)
      val cluster2 = Seq(0.0f, 1.0f)
      // today's truth: two tight clusters with near-dups inside
      val truth = vecs(Seq(
        (0L, cluster1), (1L, Seq(0.99f, 0.01f)), (2L, Seq(0.95f, 0.05f)),
        (3L, cluster2), (4L, Seq(0.01f, 0.99f)), (5L, Seq(0.05f, 0.95f))))
      // yesterday: vec 1 STALE (other side), vec 99 alien (deleted
      // today — without the removal it would seed keep/drop verdicts)
      val staleSeed = vecs(Seq(
        (0L, cluster1), (1L, Seq(-0.99f, -0.01f)), (3L, cluster2),
        (4L, Seq(0.01f, 0.99f)), (99L, Seq(0.7f, 0.7f))))
      SemDedupSignedStream.seedIndex(staleSeed, seedP, clusterSize = 3L)
      val b0 = vecs(Seq((1L, Seq(0.99f, 0.01f)), (2L, Seq(0.95f, 0.05f))))
        .withColumn("op", lit("add"))
      b0.write.mode("overwrite").parquet(src)
      val q = SemDedupSignedStream.indexMaintain(
        spark.readStream.schema(b0.schema).parquet(src),
        seedP, deltaP, root.resolve("ckpt").toString)
      try {
        q.processAllAvailable()
        vecs(Seq((5L, Seq(0.05f, 0.95f)), (99L, Seq(0f, 0f))))
          .withColumn("op",
            when(col("vec_id") === 99L, "remove").otherwise("add"))
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      val cents = spark.read.parquet(s"$seedP/centroids").localCheckpoint()
      val direct = graft.operators.Similarity
        .semDeDupAssignAgainst(truth, cents)
      def check(): Unit = {
        assert(rows(SemDedupSignedStream.liveAssign(spark, seedP, deltaP),
          "vec_id") === rows(direct, "vec_id"))
        assert(rows(
          SemDedupSignedStream.serveVerdict(spark, seedP, deltaP, truth),
          "vec_id")
          === rows(graft.operators.Similarity
            .semDeDupFromIndex(truth, direct), "vec_id"))
      }
      check()
      SemDedupSignedStream.compact(spark, seedP, deltaP)
      check()
      assert(rows(spark.read.parquet(s"$seedP/centroids"), "cid")
        === rows(cents, "cid"))
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }

  test("signed image index: a removed image's ghost gates nothing, a " +
      "re-added one still matches; live face == direct fingerprints " +
      "of the survivors") {
    import spark.implicits._
    import graft.sources.Multimodal
    import Multimodal.TwinIdBit
    val root = tempRoot("image_signed_spec")
    try {
      val src = root.resolve("src").toString
      val seedP = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      // ids 0..149 → BMP twins at 0/50/100, upscale twins at 10/60/110
      val docs = (0L until 150L).map(i => (i, s"document number $i body"))
        .toDF("doc_id", "text")
      val all = Multimodal.syntheticImages(docs).toDF().localCheckpoint()
      val baseFps = Multimodal.imageFingerprints(
          all.filter(col("media_id") < TwinIdBit)
            .as[Multimodal.MediaRecord])
        .toDF().localCheckpoint()
      ImageSignedStream.seedIndex(baseFps, seedP)
      // batch 0: re-add image 10 verbatim (replace — fingerprints
      // must not change); batch 1: remove images 0 and 50
      val readd = all.filter(col("media_id") === 10L)
        .withColumn("op", lit("add"))
      readd.write.mode("overwrite").parquet(src)
      val q = ImageSignedStream.indexMaintain(
        spark.readStream.schema(readd.schema).parquet(src),
        seedP, deltaP, root.resolve("ckpt").toString)
      try {
        q.processAllAvailable()
        docs.filter(col("doc_id").isin(0L, 50L))
          .select(col("doc_id").as("media_id"), lit("image").as("modality"),
            typedLit(Array.emptyByteArray).as("payload"), lit(0).as("width"),
            lit(0).as("height"), lit(0).as("sample_rate"),
            lit("remove").as("op"))
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      val survivorFps = baseFps.filter(!col("media_id").isin(0L, 50L))
      def checkFace(): Unit =
        assert(rows(ImageSignedStream.liveFingerprints(spark, seedP, deltaP),
          "media_id") === rows(survivorFps, "media_id"))
      checkFace()
      val twins = all.filter(col("media_id") >= TwinIdBit)
      val pairs = ImageSignedStream.gate(spark, seedP, deltaP, twins,
          maxHamming = 6)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      // twins of REMOVED originals (0, 50) emit nothing — deleted
      // content re-admits; every surviving original still catches its
      // twin, including the re-added 10
      assert(!pairs.exists(p => p._2 == 0L || p._2 == 50L))
      Seq(100L, 10L, 60L, 110L).foreach { id =>
        assert(pairs.contains((id | TwinIdBit) -> id),
          s"twin of surviving original $id must pair")
      }
      ImageSignedStream.compact(spark, seedP, deltaP)
      checkFace()
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }

  test("delete cascade: one victim set leaves ALL six live faces in " +
      "one lifecycle (rows_before > 0, rows_after == 0)") {
    val out = SignedDeleteCascade.deleteCascadeRun(spark, sfDir).collect()
    assert(out.length === 6)
    out.foreach { r =>
      assert(r.getLong(1) > 0L,
        s"${r.getString(0)}: victims were never indexed (rows_before == 0)")
      assert(r.getLong(2) === 0L,
        s"${r.getString(0)}: ${r.getLong(2)} victim rows survived the delete")
    }
  }

  test("multi-face signed machines are restart- and retry-safe: a " +
      "same-checkpoint re-run replays nothing and a fresh-checkpoint " +
      "retry overwrites BOTH faces' partitions") {
    import spark.implicits._
    val root = tempRoot("dedup_signed_retry")
    try {
      val src = root.resolve("src").toString
      val seedP = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      def words(tag: String): String =
        (1 to 120).map(i => s"$tag$i").mkString(" ")
      DedupSignedStream.seedIndex(
        Seq((1L, words("fox")), (5L, words("gone")))
          .toDF("doc_id", "text"), seedP)
      val b = Seq((2L, words("new"), "add"), (5L, "", "remove"))
        .toDF("doc_id", "text", "op")
      b.write.mode("overwrite").parquet(src)
      def runOnce(ckpt: String): Unit = {
        val q = DedupSignedStream.indexMaintain(
          spark.readStream.schema(b.schema).parquet(src),
          seedP, deltaP, ckpt)
        try q.processAllAvailable() finally q.stop()
      }
      val surviving = Seq((1L, words("fox")), (2L, words("new")))
        .toDF("doc_id", "text")
      def checkBothFaces(): Unit = {
        assert(rows(DedupSignedStream.liveSignatures(spark, seedP, deltaP),
          "doc_id")
          === rows(graft.operators.Dedup.minhashSignatures(surviving),
            "doc_id"))
        assert(rows(DedupSignedStream.liveFingerprints(spark, seedP, deltaP),
          "doc_id")
          === rows(DedupSignedStream.simhashFps(surviving), "doc_id"))
      }
      runOnce(root.resolve("ckpt").toString)
      checkBothFaces()
      runOnce(root.resolve("ckpt").toString) // restart: no replay
      checkBothFaces()
      runOnce(root.resolve("ckpt2").toString) // retry: same partitions
      checkBothFaces()
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }

  test("livePostings serves only batches whose ops face landed: an " +
      "orphan postings partition (crash between face writes) is " +
      "invisible, not double-served") {
    import spark.implicits._
    val root = tempRoot("orphan_face_spec")
    try {
      val src = root.resolve("src").toString
      val seedP = root.resolve("seed").toString
      val deltaP = root.resolve("delta").toString
      graft.streaming.PhraseSignedStream.seedIndex(
        Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text"), seedP)
      val b0 = Seq((3L, "ee ff", "add")).toDF("doc_id", "text", "op")
      b0.write.mode("overwrite").parquet(src)
      val q = graft.streaming.PhraseSignedStream.indexMaintain(
        spark.readStream.schema(b0.schema).parquet(src),
        seedP, deltaP, root.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      val served = rows(graft.streaming.SignedIndexLayout.livePostings(
        spark, seedP, deltaP, Long.MaxValue, Seq("term", "doc_id", "pos")),
        "term", "doc_id", "pos")
      // simulate the crash: a postings partition for batch 7 whose ops
      // write never landed — doc 1 replaced there, seed row still live
      graft.operators.Retrieval.positionalIndex(
          Seq((1L, "zz zz")).toDF("doc_id", "text"))
        .withColumn("batch_id", lit(7L))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$deltaP/postings")
      val afterOrphan = rows(graft.streaming.SignedIndexLayout.livePostings(
        spark, seedP, deltaP, Long.MaxValue, Seq("term", "doc_id", "pos")),
        "term", "doc_id", "pos")
      assert(afterOrphan === served,
        "orphan postings rows leaked into the served frame")
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }
}
