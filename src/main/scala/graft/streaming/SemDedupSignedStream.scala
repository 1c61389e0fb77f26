package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** REMOVAL-AWARE SemDeDup assignment maintenance — the
  * [[SignedIndexLayout]] state machine instantiated for the
  * persisted (vec_id, cid, sim) assignment artifact (the
  * [[SemDedupStream]] grow-only posture made deletion-aware): a
  * document deleted upstream must stop seeding keep/drop verdicts,
  * or the survivor of a duplicate cluster can be a vector whose
  * document no longer exists — and every OTHER member of that
  * cluster stays wrongly dropped.
  *
  * The machinery is [[IvfSignedStream]]'s verbatim (the assignment
  * IS an IVF posting with the centroid cosine riding along):
  * centroids train once at seed time and stay FIXED, each batch's
  * adds assign against the broadcast centroid table (narrow map, no
  * shuffle), an add of an existing id is a re-embed (new vector →
  * possibly a new cluster), a remove deletes by id, and compaction
  * carries the centroid face across the seed swap verbatim. Because
  * assignment at fixed centroids is deterministic, the live signed
  * assignment is bit-identical to [[Similarity.semDeDupAssignAgainst]]
  * over the surviving corpus — spec-pinned; the served verdict then
  * equals [[Similarity.semDeDupFromIndex]] of the survivors by
  * construction. rows-only at the driver (trained centroids have no
  * SQL twin — the q_semdedup reason). */
object SemDedupSignedStream {

  private val Cols = Seq("vec_id", "cid", "sim")

  /** Seed (or rebuild) the persisted pair: train centroids on the
    * seed corpus (paper k ∝ n sizing), assign it; the assignment is
    * the layout's postings face, centroids a carried sibling. */
  def seedIndex(emb: DataFrame, seedPath: String,
      clusterSize: Long = 250L): Unit = {
    val (assign, cents) = Similarity.semDeDupIndex(
      emb, clusterSize = clusterSize)
    assign.write.mode("overwrite").parquet(s"$seedPath/postings")
    cents.write.mode("overwrite").parquet(s"$seedPath/centroids")
  }

  /** Launch maintenance over a streaming signed frame
    * (vec_id, embedding, op). */
  def indexMaintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String): StreamingQuery =
    SignedIndexLayout.maintain(newOps, seedPath, deltaPath, checkpoint,
      adds => Similarity.semDeDupAssignAgainst(adds,
        adds.sparkSession.read.parquet(s"$seedPath/centroids")),
      "SemDedupSignedStream", idCol = "vec_id",
      payloadCols = Seq("embedding"))

  /** The live (vec_id, cid, sim) assignment under last-writer-wins. */
  def liveAssign(
      spark: SparkSession, seedPath: String, deltaPath: String): DataFrame =
    SignedIndexLayout.livePostings(
      spark, seedPath, deltaPath, Long.MaxValue, Cols, idCol = "vec_id")

  /** Serve the SemDeDup verdict over the signed live state: `emb` is
    * the surviving corpus (vectors re-normalize narrowly; the join to
    * the live assignment drops nothing because every survivor has
    * exactly one live row). A removed vector seeds no pairs and no
    * survivor choice; a re-embedded one resolves in its NEW cluster. */
  def serveVerdict(
      spark: SparkSession, seedPath: String, deltaPath: String,
      emb: DataFrame, tau: Double = 0.9): DataFrame =
    Similarity.semDeDupFromIndex(
      emb, liveAssign(spark, seedPath, deltaPath), tau)

  /** Fold the net signed state into a fresh seed; the centroid face
    * rides the swap unchanged (train-once). */
  def compact(spark: SparkSession, seedPath: String, deltaPath: String): Unit =
    SignedIndexLayout.compact(spark, seedPath, deltaPath, Cols,
      idCol = "vec_id", carryFaces = Seq("centroids"))

  /** Bounded end-to-end run — the measured driver entry
    * (q_stream_semdedup_signed): the
    * [[IvfSignedStream.stageSignedVectors]] staging (seed = a third
    * verbatim, a third STALE — negated, so re-embeds genuinely move
    * clusters — and an alien slice deleted today; stream = adds +
    * re-embeds + removals by id), compaction mid-lifecycle, then the
    * served verdict over the surviving corpus — spec-pinned equal to
    * the direct twin at the same centroids. */
  def semDedupMaintainRun(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    DeltaLayout.run(spark, "q_stream_semdedup_signed", compacts = true,
      (seed, src) =>
        IvfSignedStream.stageSignedVectors(emb, seedIndex(_, seed), src),
      indexMaintain, compact(spark, _, _),
      serveVerdict(spark, _, _, emb)).orderBy("vec_id")
  }
}
