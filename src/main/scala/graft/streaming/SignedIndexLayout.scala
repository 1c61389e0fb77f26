package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The REMOVAL-AWARE document-index state machine shared by the
  * index streams ([[Bm25SignedStream]], [[PhraseSignedStream]],
  * [[IvfSignedStream]] and the signed dedup, image and SemDeDup
  * streams) — one machinery, many indexes, the same move as
  * [[graft.operators.Dedup.fingerprintPairs]] carrying both text
  * SimHash and image dHash. An append-only stream is its all-`add`
  * case ([[stageAllAdds]]). Signed rows (doc_id, text,
  * op ∈ add|remove) with LAST-WRITER-WINS semantics:
  *
  *  - batches land their guarded (doc_id, op) rows under
  *    `deltaPath/ops/batch_id=` and their adds' postings (whatever
  *    frame `indexOf` derives) under `deltaPath/postings/batch_id=`,
  *    both dynamic-overwrite — a retried batch replaces its own
  *    attempt;
  *  - landing guards raise LOUDLY on an unknown op or a doc_id
  *    appearing twice in one batch (two texts for one id, or
  *    add+remove, is ambiguous: across batches order decides, inside
  *    one there is no order);
  *  - the live postings reconstruct as `untouched seed docs ∪ each
  *    net-added doc's postings from its LAST add batch` — a replace
  *    drops the seed rows, a net remove drops the doc entirely, an
  *    added-then-removed doc nets out, a removed-then-re-added doc
  *    serves the re-add's text;
  *  - compaction folds the net state into a fresh postings seed
  *    under the standard watermark + crash-safe swap.
  *
  * Serving-side corpus statistics (df/avgdl for BM25) are the
  * instantiator's job — the layout owns id-keyed FACES (the primary
  * `postings` plus any instantiator-declared extras, each a frame
  * derived from the same adds slice and reconstructed by the same
  * last-writer-wins fold), which is why removals make those
  * statistics exact: a vanished doc's rows are simply not in the
  * faces the instantiator aggregates. */
private[graft] object SignedIndexLayout {

  /** High-bit tag for the staged runs' alien ids (the slice the
    * stream deletes): `id | AlienIdBit` stays collision-free for ALL
    * real ids below 2^40 — an additive offset silently collides once
    * ids reach it (the defect class [[graft.sources.Multimodal]]'s
    * TwinIdBit fixed for media ids). */
  private[graft] val AlienIdBit: Long = 1L << 40

  /** Launch maintenance over a streaming signed frame
    * (idCol, payloadCols..., op). `indexOf` maps the adds slice
    * (idCol, payloadCols...) to the primary `postings` face; `who`
    * names the instantiator in the loud guard messages. Text indexes
    * use the default (doc_id, text); the vector index rides the same
    * machine with (vec_id, embedding); the image index carries the
    * whole media record as several payload columns. `extraFaces`
    * land additional per-batch faces derived from the SAME adds
    * slice (e.g. BM25's per-doc lengths) — every face writes BEFORE
    * the ops face, which commits the batch: [[livePostings]] serves
    * only batches whose ops partition landed, so a crash between
    * face writes leaves the half-landed batch invisible (not
    * half-served) until the replay overwrites it. */
  def maintain(
      newOps: DataFrame, seedPath: String, deltaPath: String,
      checkpoint: String, indexOf: DataFrame => DataFrame,
      who: String, idCol: String = "doc_id",
      payloadCols: Seq[String] = Seq("text"),
      extraFaces: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Nil)
      : StreamingQuery =
    DeltaLayout.maintain(newOps, seedPath, checkpoint) { (batch, batchId) =>
      val adds = batch.filter(col("op") === "add")
        .select((idCol +: payloadCols).map(col): _*)
      // the primary face is computed ONCE: extra faces receive it
      // alongside the adds slice, so a face that is a projection
      // of the postings (BM25's doclen) reuses the materialized
      // frame instead of re-deriving the whole index per batch
      // (guide §1.2 — don't compute things twice)
      val primary =
        if (extraFaces.isEmpty) indexOf(adds)
        else indexOf(adds).localCheckpoint()
      // the non-commit faces are independent writes against
      // disjoint paths — overlap them (guide §2.6); ops still
      // lands strictly AFTER, it is the batch's commit face
      DeltaLayout.overlap(
        (("postings" -> primary) +: extraFaces.map { case (face, f) =>
          face -> f(adds, primary)
        }).map { case (face, df) =>
          () => DeltaLayout.landBatch(df, batchId, s"$deltaPath/$face")
        })
      // ops lands LAST — the batch's commit face — and carries the
      // landing guards: a window count over the (id, op) rows alone
      // flags a doc_id appearing twice in this batch. A batch that
      // fails a guard leaves face partitions whose ops never landed,
      // which never serve, exactly as after a crash before the commit
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
      DeltaLayout.landBatch(batch
        .select(col(idCol),
          when(col("op").isin("add", "remove"), col("op"))
            .otherwise(raise_error(concat(
              lit(s"$who: op must be add|remove, got "), col("op"))))
            .as("op"))
        .withColumn("n_rows", count(lit(1)).over(w))
        .select(col(idCol),
          when(col("n_rows") > 1, raise_error(concat(
              lit(s"$who: $idCol "), col(idCol).cast("string"),
              lit(" appears more than once in one batch — ambiguous"))))
            .otherwise(col("op")).as("op")),
        batchId, s"$deltaPath/ops")
    }

  /** The resolved live signed state of one layout: the compaction
    * watermark, the fold bound `upTo`, the batches whose `ops` commit
    * face landed in that range, and the last-writer-wins net op per id
    * (`net` = None when no ops batch is live — the seed alone is live).
    * Resolve it ONCE per serve or compaction and read every face
    * against it ([[liveFace]]): faces of one layout share the net
    * frame. */
  final case class Live(
      folded: Long, upTo: Long, landedOps: Seq[Long],
      net: Option[DataFrame])

  def resolve(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long, idCol: String = "doc_id"): Live = {
    val folded = DeltaLayout.foldedThrough(spark, seedPath)
    // trust only face partitions whose batch also landed its ops
    // partition: maintenance writes the faces first and ops LAST (the
    // commit face), so a crash between the two leaves an orphan face
    // partition that must not serve until the batch replays. The id
    // list is a driver-side partition listing, bounded by batch
    // count, and `isin` on the partition column prunes the orphan at
    // planning time.
    val landedOps = DeltaLayout.batchIds(spark, s"$deltaPath/ops")
      .filter(b => b > folded && b <= upTo)
    if (landedOps.isEmpty) return Live(folded, upTo, Nil, None)
    val ops = DeltaLayout.readParquet(spark, s"$deltaPath/ops")
      .filter(liveBatch(folded, upTo))
      .select(col(idCol), col("op"),
        col("batch_id").cast("long").as("last_batch"))
    // the landing guard keeps ids unique inside one batch, so the ops
    // of a single live batch already are the net ops; across batches
    // the last one wins, resolved once and checkpointed
    val net =
      if (landedOps.sizeIs == 1) ops
      else ops.groupBy(idCol)
        .agg(max(struct(col("last_batch"), col("op"))).as("last"))
        .select(col(idCol), col("last.op").as("op"),
          col("last.last_batch").as("last_batch"))
        .localCheckpoint()
    Live(folded, upTo, landedOps, Some(net))
  }

  private def liveBatch(folded: Long, upTo: Long) =
    col("batch_id").cast("long") > folded &&
      col("batch_id").cast("long") <= upTo

  /** The live rows of one face under last-writer-wins against the
    * resolved state `live`; `cols` is the instantiator's schema for
    * that face (must contain `idCol`). */
  def liveFace(
      spark: SparkSession, seedPath: String, deltaPath: String,
      live: Live, cols: Seq[String], idCol: String = "doc_id",
      face: String = "postings"): DataFrame = {
    val seedP = DeltaLayout.readParquet(spark, s"$seedPath/$face")
      .select(cols.map(col): _*)
    val net = live.net match {
      case None => return seedP
      case Some(n) => n
    }
    // a seed row serves only while no live op touches its id; a delta
    // row serves only from its id's LAST add batch. Every landed delta
    // row's id has an op in the same batch, so the seed alone feeds
    // the anti-join and the delta alone the last-add join. Both joins
    // take `net` whole, so one broadcast of it serves every join of a
    // plan.
    val untouched = seedP.join(net, Seq(idCol), "left_anti")
    if (!DeltaLayout.hasDeltaPartitions(spark, s"$deltaPath/$face"))
      return untouched
    val lastAdds = DeltaLayout.readParquet(spark, s"$deltaPath/$face")
      .filter(liveBatch(live.folded, live.upTo))
      .filter(col("batch_id").isin(live.landedOps: _*))
      .join(net, Seq(idCol))
      .filter(col("op") === "add" && col("batch_id") === col("last_batch"))
      .select(cols.map(col): _*)
    untouched.unionByName(lastAdds)
  }

  /** The live rows of one face under last-writer-wins — [[resolve]]
    * then [[liveFace]], for a caller that reads a single face. */
  def livePostings(
      spark: SparkSession, seedPath: String, deltaPath: String,
      upTo: Long, cols: Seq[String], idCol: String = "doc_id",
      face: String = "postings"): DataFrame =
    liveFace(spark, seedPath, deltaPath,
      resolve(spark, seedPath, deltaPath, upTo, idCol), cols, idCol, face)

  /** Fold the net signed state into a fresh seed (watermark +
    * crash-safe swap; a batch committed mid-compact stays live).
    * `extraFaces` are additional maintained faces ((name, schema) —
    * e.g. BM25's per-doc lengths), each folded through the same
    * last-writer-wins reconstruction. `carryFaces` are immutable
    * sibling faces under the seed root (e.g. the IVF centroids)
    * rewritten verbatim into the new seed so the swap carries them
    * across. */
  def compact(
      spark: SparkSession, seedPath: String, deltaPath: String,
      cols: Seq[String], idCol: String = "doc_id",
      carryFaces: Seq[String] = Nil,
      extraFaces: Seq[(String, Seq[String])] = Nil): Unit = {
    val faces = ("postings" -> cols) +: extraFaces
    DeltaLayout.fold(spark, seedPath, deltaPath, "ops") { (upTo, tmp) =>
      val live = resolve(spark, seedPath, deltaPath, upTo, idCol)
      // each face's reconstruction chain and each carried copy is an
      // independent job against a disjoint tmp path — overlap them
      // (guide §2.6); everything reads the OLD seed root, which only
      // swaps after all writes land, so no checkpoint is needed
      DeltaLayout.overlap(
        faces.map { case (face, fcols) =>
          () => liveFace(spark, seedPath, deltaPath, live, fcols, idCol, face)
            .write.mode("overwrite").parquet(s"$tmp/$face")
        } ++ carryFaces.map { f =>
          () => DeltaLayout.readParquet(spark, s"$seedPath/$f")
            .write.mode("overwrite").parquet(s"$tmp/$f")
        })
    }
  }

  /** A measured run's staging: seed the index through `seedWith`
    * (the entry's `seedIndex`), land the signed (id, payload..., op)
    * stream under `src` as one file per micro-batch, and return the
    * staged frame (its schema seeds the file source). */
  type Staging = (DataFrame, DataFrame => Unit, String) => DataFrame

  /** The insert-only entries' staging: the seed indexes the even ids
    * and ONE micro-batch adds the odd ids. An `add` of a new id
    * serves exactly what the `seed ∪ deltas` union of an append-only
    * index serves, so these runs match the same full-corpus oracles
    * as a rebuild. */
  def stageAllAdds(idCol: String): Staging = (rows, seedWith, src) =>
    DeltaLayout.stageHalves(rows.withColumn("op", lit("add")), idCol,
      even => seedWith(even.drop("op")), src)

  /** The measured signed-run corpus staging shared by the driver
    * entries: the seed indexes YESTERDAY'S corpus — doc_id %3==0
    * verbatim, %3==1 with STALE text (today's stream replaces them),
    * and an id-shifted alien slice (text `alienText`) that today
    * DELETES — and the staged stream delivers today's adds (new +
    * replacing) plus the alien removals by id, split in two files so
    * the stream sees more than one micro-batch. */
  def stageSignedCorpus(alienText: Column = col("text")): Staging =
    (docs, seedWith, src) => {
      val stale = docs.filter(col("doc_id") % 3 === 1)
        .withColumn("text", concat(col("text"), lit(" stalecopy")))
      val alien = docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id").bitwiseOR(AlienIdBit).as("doc_id"),
          alienText.as("text"))
      seedWith(docs.filter(col("doc_id") % 3 === 0)
        .unionByName(stale).unionByName(alien))
      val d = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("op", lit("add"))
        .unionByName(alien.select(col("doc_id"),
          lit("").as("text"), lit("remove").as("op")))
      d.repartition(2).write.mode("overwrite").parquet(src)
      d
    }
}
