package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** REMOVAL-AWARE streaming IVF maintenance — the [[SignedIndexLayout]]
  * state machine instantiated for the VECTOR index (third
  * instantiation: BM25, phrase, now ANN — one machinery, three
  * indexes), completing the deletion story for the semantic family:
  * a document deleted upstream must leave the ANN index too, or
  * retrieval keeps surfacing a vector whose document no longer
  * exists. Signed rows are (vec_id, embedding, op): an add of an
  * existing id is a RE-EMBED (content changed → new vector → new
  * list assignment, the upsert case), a remove deletes by id, net
  * state per vector resolves by last op in batch order.
  *
  * The FAISS train-once contract is untouched: centroids train at
  * seed time and stay FIXED; each batch's adds assign against the
  * broadcast centroid table (a narrow map, no shuffle); compaction
  * carries the centroid face across the seed swap verbatim. Because
  * assignment at fixed centroids is deterministic, the signed live
  * index is bit-identical to a direct assignment of the SURVIVING
  * corpus against the same centroids — proven through the serving
  * path in spec. An append-only stream (the FAISS add-after-train
  * contract, q_stream_ivf) is the all-`add` case of the same
  * machine. Both driver entries are rows-only: the served top-k's
  * equality to the direct twin is spec-asserted, like the other ANN
  * families. */
object IvfSignedStream {

  private val Cols = Seq("vec_id", "cid")

  /** Seed (or rebuild) the persisted index pair: train centroids on
    * the seed corpus, assign it; postings land in the shared layout's
    * postings face, centroids as a carried sibling face. */
  def seedIndex(emb: DataFrame, seedPath: String,
      nCentroids: Int = 16, lloydIters: Int = 2): Unit = {
    val (assign, cents) = Similarity.ivfIndex(emb, nCentroids, lloydIters)
    assign.write.mode("overwrite").parquet(s"$seedPath/postings")
    cents.write.mode("overwrite").parquet(s"$seedPath/centroids")
  }

  /** Launch maintenance over a streaming signed frame
    * (vec_id, embedding, op). */
  def indexMaintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    SignedIndexLayout.maintain(newOps, seedPath, deltaPath, checkpoint,
      adds => Similarity.ivfAssignAgainst(adds,
        DeltaLayout.readParquet(adds.sparkSession, s"$seedPath/centroids")),
      "IvfSignedStream", idCol = "vec_id", payloadCols = Seq("embedding"))

  /** The live (vec_id, cid) assignment under last-writer-wins. */
  def liveAssign(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    SignedIndexLayout.livePostings(
      spark, seedPath, deltaPath, Long.MaxValue, Cols, idCol = "vec_id")

  /** Serve an ANN top-k over the signed live state: a removed vector
    * drops from the posting lists (the join to its list assignment
    * finds nothing), a re-embedded one scores from its LAST
    * assignment. */
  def searchLive(
      spark: SparkSession, seedPath: String, deltaPath: String,
      emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nProbe: Int = 4): DataFrame =
    Similarity.embedIvfTopKFromIndex(
      liveAssign(spark, seedPath, deltaPath),
      DeltaLayout.readParquet(spark, s"$seedPath/centroids"),
      emb, nQueries, k, nProbe)

  /** Fold the net signed state into a fresh seed; the centroid face
    * rides the swap unchanged (train-once). */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    SignedIndexLayout.compact(spark, seedPath, deltaPath, Cols,
      idCol = "vec_id", carryFaces = Seq("centroids"))

  /** The signed vector staging (q_stream_ivf_signed): the seed
    * holds yesterday's vectors — a third verbatim, a third STALE
    * (negated, so today's re-embeds genuinely move list assignments)
    * and an alien slice deleted today — and the stream, split in two
    * files, delivers today's adds (new + re-embedded) and the alien
    * removals by id. */
  val stageSignedVectors: SignedIndexLayout.Staging =
    (emb, seedWith, src) => {
      val stale = emb.filter(col("vec_id") % 3 === 1)
        .withColumn("embedding", expr("transform(embedding, x -> -x)"))
      val alien = emb.filter(col("vec_id") % 3 === 2)
        .select(col("vec_id").bitwiseOR(SignedIndexLayout.AlienIdBit)
          .as("vec_id"), col("embedding"))
      seedWith(emb.filter(col("vec_id") % 3 === 0)
        .unionByName(stale).unionByName(alien))
      val d = emb.filter(col("vec_id") % 3 =!= 0)
        .withColumn("op", lit("add"))
        .unionByName(alien.withColumn("op", lit("remove")))
      d.repartition(2).write.mode("overwrite").parquet(src)
      d
    }

  /** Bounded end-to-end run — the measured driver entries: `stage`
    * the seed and the op stream, compact mid-lifecycle (both entries
    * do), and serve the standard top-k, which must equal the direct
    * twin — the surviving corpus assigned in ONE batch against the
    * same seed centroids. q_stream_ivf_signed stages
    * [[stageSignedVectors]]; q_stream_ivf stages
    * [[SignedIndexLayout.stageAllAdds]] (even ids train and seed the
    * index, odd ids arrive). */
  def ivfMaintainRun(
      spark: SparkSession, dir: String, entry: String,
      stage: SignedIndexLayout.Staging): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    DeltaLayout.run(spark, entry, compacts = true,
      (seed, src) => stage(emb, seedIndex(_, seed), src), indexMaintain,
      compact(spark, _, _), searchLive(spark, _, _, emb))
  }
}
