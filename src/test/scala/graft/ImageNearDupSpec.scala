package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.Multimodal
import graft.operators.Dedup

/** Perceptual image-fingerprint and near-dup specs: the aHash/dHash
  * invariants (re-encode, pixel-replicated resize, uniform brightness
  * shift) and the planted-twin capture over the synthetic REAL-image
  * corpus — the multimodal face of the dedup family. */
class ImageNearDupSpec extends AnyFunSuite with SparkSessionTestBase {

  import spark.implicits._

  /** A deterministic non-uniform test image (gradient + checker). */
  private def testImage(side: Int, scale: Int = 1,
      shift: Int = 0): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      side * scale, side * scale, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until side * scale; x <- 0 until side * scale) {
      val ox = x / scale
      val oy = y / scale
      val r = math.min(255, (ox * 255 / side + shift))
      val g = math.min(255, (oy * 255 / side + shift))
      val b = math.min(255, (if (((ox / 4) + (oy / 4)) % 2 == 0) 200 else 40) + shift)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    assert(javax.imageio.ImageIO.write(img, fmt, bos))
    bos.toByteArray
  }

  private def fps(recs: Seq[Multimodal.MediaRecord]) =
    Multimodal.imageFingerprints(recs.toDS()).collect()
      .map(f => f.media_id -> f).toMap

  test("aHash/dHash survive re-encoding, 2x pixel replication, and " +
      "uniform brightness shift; codec column records the real decode") {
    val img = testImage(32)
    val m = fps(Seq(
      Multimodal.MediaRecord(1L, "image", enc(img, "png"), 32, 32, 0),
      Multimodal.MediaRecord(2L, "image", enc(img, "bmp"), 32, 32, 0),
      Multimodal.MediaRecord(3L, "image", enc(testImage(32, scale = 2), "png"), 64, 64, 0),
      Multimodal.MediaRecord(4L, "image", enc(testImage(32, shift = 8), "png"), 32, 32, 0),
      Multimodal.MediaRecord(5L, "image", "not an image".getBytes("UTF-8"), 0, 0, 0)))
    assert(m(1L).codec === "imageio" && m(5L).codec === "stub")
    // lossless re-encode: identical pixels, identical fingerprints
    assert(m(2L).ahash === m(1L).ahash && m(2L).dhash === m(1L).dhash)
    // pixel-replicated 2x upscale: the fixed-fractional-position
    // probes hit the SAME original pixels (nested-floor identity), so
    // both grids — including dHash's 9-column one — are bit-identical
    assert(m(3L).ahash === m(1L).ahash && m(3L).dhash === m(1L).dhash)
    // uniform +8 brightness: every cell shifts equally, signs hold
    assert(m(4L).ahash === m(1L).ahash && m(4L).dhash === m(1L).dhash)
    // determinism: a second pass reproduces the fingerprints exactly
    val again = fps(Seq(
      Multimodal.MediaRecord(1L, "image", enc(img, "png"), 32, 32, 0)))
    assert(again(1L).ahash === m(1L).ahash && again(1L).dhash === m(1L).dhash)
  }

  test("imageNearDup catches every planted twin in the synthetic " +
      "corpus without exact-hash help; occupancy meters the buckets") {
    val docs = (0L until 120L)
      .map(i => (i, s"document body $i with some drift ${i * 37}"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticImages(docs)
    val recs = media.collect()
    // 120 docs, twins at %50==0 (0, 50, 100) and %50==10 (10, 60, 110)
    assert(recs.length === 126)
    val fp = Multimodal.imageFingerprints(media).toDF()
    assert(fp.filter(col("codec") =!= "imageio").count() === 0)
    val pairs = Multimodal.imageNearDup(fp, maxHamming = 6, bucketCap = 1000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getInt(3)))
      .toMap
    for (id <- Seq(0L, 50L, 100L)) {
      // BMP re-encode: same pixels, hamming 0 on both hashes
      assert(pairs.get((id, id | Multimodal.TwinIdBit)).exists(h => h._1 === 0 && h._2 === 0),
        s"BMP twin of $id not caught: ${pairs.get((id, id | Multimodal.TwinIdBit))}")
    }
    for (id <- Seq(10L, 60L, 110L)) {
      // 2x upscale: fingerprint-identical by the probe invariance
      assert(pairs.get((id, id | Multimodal.TwinIdBit)).exists(h => h._1 === 0 && h._2 === 0),
        s"resized twin of $id not caught: ${pairs.get((id, id | Multimodal.TwinIdBit))}")
    }
    // the meter sees the twin buckets (occupancy >= 2) before the join
    val occ = Dedup.fingerprintBucketOccupancy(
      fp.select(col("media_id").as("doc_id"), col("dhash").as("fp")))
    assert(occ.count() >= 6)
    // survivors face: one verdict row per image; every planted twin
    // drops (its original is the component's min id), every original
    // survives
    val surv = Multimodal.imageNearDupSurvivors(fp, maxHamming = 6,
        bucketCap = 1000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(surv.size === recs.length)
    for (id <- Seq(0L, 10L, 50L, 60L, 100L, 110L)) {
      assert(surv(id), s"original $id must survive")
      assert(!surv(id | Multimodal.TwinIdBit), s"twin of $id must drop")
    }
  }

  test("fingerprintPairsAgainst probes the index with the batch: " +
      "pairs within the hamming bound, no self-ids, recall bound holds") {
    val newFps = Seq((100L, 0x00000000000000FFL), (101L, 0x0F0F0F0F0F0F0F0FL))
      .toDF("doc_id", "fp")
    val idxFps = Seq(
      (1L, 0x00000000000000FCL), // hamming 2 vs 100 — caught
      (2L, 0x0F0F0F0F0F0F0F0FL), // hamming 0 vs 101 — caught
      (3L, 0xFFFFFFFFFFFFFFFFL), // far from both — dropped
      (100L, 0x00000000000000FFL)) // same id as an arrival — never pairs
      .toDF("doc_id", "fp")
    val got = Dedup.fingerprintPairsAgainst(newFps, idxFps, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got === Map((100L, 1L) -> 2, (101L, 2L) -> 0))
  }

  test("streaming image gate: planted twins arriving mid-stream are " +
      "caught against the frozen index; stream == batch operator; " +
      "growIndex catches a later copy of an earlier arrival") {
    import graft.streaming.ImageStream
    val docs = (0L until 120L)
      .map(i => (i, s"document body $i with some drift ${i * 37}"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticImages(docs)
    val fp = Multimodal.imageFingerprints(media).toDF().localCheckpoint()
    val base = fp.filter(col("media_id") < Multimodal.TwinIdBit)
    val twins = media.toDF()
      .filter(col("media_id") >= Multimodal.TwinIdBit).localCheckpoint()
    val root = tempRoot("graft_img_gate_spec")
    try {
      val src = root.resolve("src").toString
      val idxP = root.resolve("index").toString
      val pairsP = root.resolve("pairs").toString
      ImageStream.seedIndex(base, idxP)
      // two micro-batches: twins of 0/10/50 first, 60/100/110 after
      val firstIds = Seq(0L, 10L, 50L).map(_ | Multimodal.TwinIdBit)
      twins.filter(col("media_id").isin(firstIds.map(Long.box): _*))
        .write.mode("overwrite").parquet(src)
      val schema = org.apache.spark.sql.Encoders
        .product[Multimodal.MediaRecord].schema
      val q = ImageStream.imageGate(
        spark.readStream.schema(schema).parquet(src),
        idxP, pairsP, root.resolve("ckpt").toString,
        maxHamming = 6, bucketCap = 1000L, growIndex = false)
      try {
        q.processAllAvailable()
        twins.filter(!col("media_id").isin(firstIds.map(Long.box): _*))
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(pairsP)
        .select("media_new", "media_corpus", "hamming_d", "hamming_a")
      val gotPairs = got.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getInt(3)))
        .toMap
      // every planted twin — including the MID-STREAM second batch —
      // matches its original at hamming 0 on both hashes
      for (id <- Seq(0L, 10L, 50L, 60L, 100L, 110L))
        assert(gotPairs.get((id | Multimodal.TwinIdBit, id))
            .exists(h => h._1 === 0 && h._2 === 0),
          s"twin of $id not gated: ${gotPairs.get((id | Multimodal.TwinIdBit, id))}")
      // stream == the batch operator over the same (arrivals, index)
      val batchTwin = Dedup.fingerprintPairsAgainst(
          fp.filter(col("media_id") >= Multimodal.TwinIdBit)
            .select(col("media_id").as("doc_id"), col("dhash").as("fp")),
          base.select(col("media_id").as("doc_id"), col("dhash").as("fp")),
          maxHamming = 6, bucketCap = 1000L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        === batchTwin)
      // growIndex: a LATER exact copy of an earlier stream arrival
      // (fresh id) matches that arrival, not just the seed corpus
      val root2 = tempRoot("graft_img_grow_spec")
      try {
        val src2 = root2.resolve("src").toString
        val idx2 = root2.resolve("index").toString
        val pairs2 = root2.resolve("pairs").toString
        ImageStream.seedIndex(base.limit(0), idx2)
        val arrival = twins.filter(
          col("media_id") === (0L | Multimodal.TwinIdBit))
        arrival.write.mode("overwrite").parquet(src2)
        val q2 = ImageStream.imageGate(
          spark.readStream.schema(schema).parquet(src2),
          idx2, pairs2, root2.resolve("ckpt").toString,
          maxHamming = 6, bucketCap = 1000L, growIndex = true)
        try {
          q2.processAllAvailable()
          arrival.withColumn("media_id", lit(999999L))
            .write.mode("append").parquet(src2)
          q2.processAllAvailable()
        } finally q2.stop()
        val g2 = spark.read.parquet(pairs2)
          .select("media_new", "media_corpus").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(g2 === Set((999999L, 0L | Multimodal.TwinIdBit)))
      } finally graft.streaming.DeltaLayout.rmTree(root2)
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }
}
