package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.SemDedupStream

/** Streaming/incremental SemDeDup specs: the lifecycle's equality
  * contract (stream-maintained verdict == the direct full-corpus
  * [[Similarity.semDeDupFromIndex]] at the same fixed centroids),
  * the untouched-cluster pass-through, and compaction invariance. */
class SemDedupStreamSpec extends AnyFunSuite with SparkSessionTestBase {

  test("semDeDupIncremental re-resolves only touched clusters; " +
      "untouched verdicts pass through verbatim (poison-pinned)") {
    import spark.implicits._
    // two well-separated clusters in 4 dims: near-dup pairs inside
    // each (cosine 1.0), nothing across
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0.9f, 0.1f, 0f, 0f)),
      (10L, Array(0f, 0f, 1f, 0f)), (11L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val (assign, cents) = Similarity.semDeDupIndex(emb, nCentroids = Some(2))
    val prior = Similarity.semDeDupFromIndex(emb, assign, tau = 0.95)
      .localCheckpoint()
    // new vector lands in vec 10's cluster and duplicates it
    val newEmb = Seq((12L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val newAssign = Similarity.semDeDupAssignAgainst(newEmb, cents)
      .localCheckpoint()
    val allEmb = emb.unionByName(newEmb)
    val allAssign = assign.unionByName(newAssign)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cid").longValue, r.getBoolean(2))).toSeq
    val inc = rows(Similarity.semDeDupIncremental(
      allEmb, allAssign, prior, newAssign.select("cid"), tau = 0.95))
    val full = rows(Similarity.semDeDupFromIndex(allEmb, allAssign, tau = 0.95))
    assert(inc === full)
    // pass-through proof: poison the UNTOUCHED cluster's prior rows —
    // the incremental path must carry the poison verbatim
    val touchedCid = newAssign.select("cid").head().getAs[Number](0).longValue
    val poisoned = prior.withColumn("kept",
      when(col("cid") =!= touchedCid, !col("kept")).otherwise(col("kept")))
    val incP = rows(Similarity.semDeDupIncremental(
      allEmb, allAssign, poisoned, newAssign.select("cid"), tau = 0.95))
    assert(incP.filter(_._2 != touchedCid)
      === full.map(t => (t._1, t._2, if (t._2 != touchedCid) !t._3 else t._3))
        .filter(_._2 != touchedCid))
    assert(incP.filter(_._2 == touchedCid) === full.filter(_._2 == touchedCid))
  }

  test("stream-maintained verdict == direct full-corpus twin; " +
      "compaction and checkpoint replay change nothing") {
    val emb = Tables.embeddings(spark, sfDir).limit(400).localCheckpoint()
    val root = tempRoot("semdedup_stream")
    val src = root.resolve("src").toString
    val seedP = root.resolve("seed").toString
    val deltaP = root.resolve("delta").toString
    emb.filter(col("vec_id") % 2 =!= 0)
      .repartition(2).write.mode("overwrite").parquet(src)
    SemDedupStream.seedIndex(emb.filter(col("vec_id") % 2 === 0), seedP,
      clusterSize = 50L)
    def runOnce(ckpt: String = root.resolve("ckpt").toString): Unit = {
      val q = SemDedupStream.verdictMaintain(
        spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        seedP, deltaP, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def serve() = SemDedupStream.serveVerdict(spark, seedP, deltaP, emb)
      .collect().map(_.toString).toSeq
    runOnce()
    val first = serve()
    // the equality lever: assignment at FIXED centroids is
    // deterministic and components never cross clusters, so the
    // stream-maintained verdict equals a direct full-corpus run
    // against the same seed centroids
    val cents = spark.read.parquet(s"$seedP/centroids")
    val direct = Similarity.semDeDupFromIndex(
        emb, Similarity.semDeDupAssignAgainst(emb, cents))
      .collect().map(_.toString).toSeq
    assert(first === direct)
    assert(first.nonEmpty && first.size === emb.count())
    // some arriving vector must actually share a cluster with seed
    // vectors, or the touched-cluster path proved nothing
    val touched = spark.read.parquet(deltaP).select("cid").distinct().count()
    assert(touched >= 1)
    runOnce() // restart over the same checkpoint: no double-assignment
    assert(serve() === first)
    // compaction folds assignments AND refreshes the persisted
    // verdict without changing served results
    SemDedupStream.compact(spark, seedP, deltaP, emb)
    assert(serve() === first)
    // a replayed batch at or below the watermark is skipped
    runOnce(root.resolve("ckpt2").toString)
    assert(serve() === first)
  }

  test("semDedupMaintainRun (the measured driver entry) serves one " +
      "verdict row per vector") {
    val got = SemDedupStream.semDedupMaintainRun(spark, sfDir)
    val n = Tables.embeddings(spark, sfDir).count()
    assert(got.count() === n)
    assert(got.columns.toSeq === Seq("vec_id", "cid", "kept"))
  }
}
