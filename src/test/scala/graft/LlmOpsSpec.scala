package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}
import graft.sources.Multimodal

/** Section C (LLM-training-data operators) specs on sf0.001/sf0.01. */
class LlmOpsSpec extends AnyFunSuite with SparkSessionTestBase {

  // documents/embeddings at sf0.001 are small; use sf0.01 for dedup recall
  val docDir = "/root/testdata/sf0.01"

  test("exactDocs keeps one row per distinct content") {
    val docs = Tables.documents(spark, docDir)
    val df = Dedup.exactDocs(docs)
    assert(df.count() === docs.select("text").distinct().count())
    assert(df.agg(sum("n_copies")).collect().head.getLong(0) === docs.count())
  }

  test("minhashPairs finds planted near-duplicates, deterministically") {
    val docs = Tables.documents(spark, docDir)
    val pairs = Dedup.minhashPairs(docs).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("est_jaccard") >= 0.5))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    // re-run is bit-identical (hash-based permutations, no RNG)
    val again = Dedup.minhashPairs(docs).collect()
    assert(pairs.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("ngramContainment catches doc-inside-doc pairs Jaccard misses") {
    import spark.implicits._
    // doc 2's trigram set sits ENTIRELY inside doc 1's (20 extra
    // words push Jaccard to ~0.2); docs 3/4 are unrelated filler
    val inner = "alpha beta gamma delta epsilon zeta"
    val outer = inner + " " + (1 to 20).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (1L, "en", outer), (2L, "en", inner),
      (3L, "en", "one two three four five"),
      (4L, "en", "six seven eight nine ten")).toDF("doc_id", "lang", "text")
    val got = Dedup.ngramContainment(docs, threshold = 0.9).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    // inner has 4 trigrams, all shared; outer has 24
    assert(r.getAs[Long]("sz_b") === 4L && r.getAs[Long]("n_common") === 4L)
    assert(r.getAs[Long]("containment_b_micro") === 1000000L)
    assert(r.getAs[Long]("containment_a_micro") === (4L * 2000000L + 24L) / 48L)
    // Jaccard at the same pair is far below any dedup threshold
    val j = Dedup.ngramJaccard(docs, threshold = 0.0).collect()
      .find(p => p.getLong(0) == 1L && p.getLong(1) == 2L).get
    assert(j.getAs[Double]("jaccard") < 0.25)
    // df-cap drops index entries only, never true pairs (the
    // ngramJaccard lossless-prune contract carried over)
    val corpus = Tables.documents(spark, docDir)
    assert(Dedup.ngramContainment(corpus).collect().map(_.toString).toSeq ===
      Dedup.ngramContainment(corpus, dfCap = Long.MaxValue)
        .collect().map(_.toString).toSeq)
    // re-run is bit-identical (hash-only, no RNG)
    assert(Dedup.ngramContainment(corpus).collect().map(_.toString).toSeq ===
      Dedup.ngramContainment(corpus).collect().map(_.toString).toSeq)
  }

  test("minhash estimate correlates with true ngram jaccard") {
    val docs = Tables.documents(spark, docDir)
    val mh = Dedup.minhashPairs(docs, threshold = 0.5)
      .withColumnRenamed("est_jaccard", "est")
    val truth = Dedup.ngramJaccard(docs, threshold = 0.0)
    val joined = mh.join(truth, Seq("doc_a", "doc_b")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(math.abs(r.getAs[Double]("est") - r.getAs[Double]("jaccard")) < 0.35)
    }
  }

  test("ngramJaccard df-cap drops index entries only, never true pairs") {
    import spark.implicits._
    // 30 filler docs share exactly one ultra-common trigram; docs
    // 100/101 are true near-dups sharing rare grams
    val docs = ((1 to 30).map(i =>
      (i.toLong, "en", s"lorem ipsum dolor unique$i tail$i end$i")) ++
      Seq((100L, "en", "alpha beta gamma delta epsilon"),
        (101L, "en", "alpha beta gamma delta zeta"))).toDF("doc_id", "lang", "text")
    // threshold 0 exposes every candidate the index generates
    val capped = Dedup.ngramJaccard(docs, threshold = 0.0, dfCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.ngramJaccard(docs, threshold = 0.0, dfCap = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: the common gram pairs all 30 filler docs quadratically
    assert(uncapped.size > 400)
    // capped: the common gram is dropped from the index, the true pair
    // survives via its rare grams
    assert(capped === Set((100L, 101L)))
    // at any useful threshold the outputs are identical (exact verify)
    val cappedT = Dedup.ngramJaccard(docs, dfCap = 10).collect().map(_.toString).sorted
    val uncappedT = Dedup.ngramJaccard(docs, dfCap = Long.MaxValue).collect().map(_.toString).sorted
    assert(cappedT.toSeq === uncappedT.toSeq)
    // corpus-level equality: the sf0.01 pair set is unchanged by the cap
    val corpus = Tables.documents(spark, docDir)
    assert(Dedup.ngramJaccard(corpus).collect().map(_.toString).sorted.toSeq ===
      Dedup.ngramJaccard(corpus, dfCap = Long.MaxValue).collect().map(_.toString).sorted.toSeq)
  }

  test("bucketCap bounds mega-bucket pair output; occupancy report flags it") {
    import spark.implicits._
    // 40 exact copies of one boilerplate doc: every band collapses to a
    // 40-doc bucket, 780 candidate pairs per band uncapped. Two genuine
    // near-dups (100/101) live in ordinary low-occupancy buckets. Texts
    // are ≥70 words so OPH slots fill and the doc_id-seeded empty-slot
    // densification can't drift the copies' signatures apart.
    val boiler = (1 to 70).map(w => s"term$w").mkString(" ")
    val nearA = (1 to 79).map(w => s"alpha$w").mkString(" ") + " omega"
    val nearB = (1 to 79).map(w => s"alpha$w").mkString(" ") + " mu"
    val docs = ((1 to 40).map(i => (i.toLong, "en", boiler)) ++
      Seq((100L, "en", nearA), (101L, "en", nearB)))
      .toDF("doc_id", "lang", "text")
    // the report sees the quadratic hot spot before any join runs
    val occ = Dedup.minhashBucketOccupancy(docs)
    assert(occ.filter(col("n_docs") === 40 && col("est_pairs") === 780).count() >= 1)
    // capped: the mega-cluster's pairs are dropped (lossy, documented),
    // the ordinary near-dup pair survives untouched
    val capped = Dedup.minhashPairs(docs, bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 101L)))
    val uncapped = Dedup.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 780 + 1)
    // same shape for the simhash and embedding families
    val sh = Dedup.simhashPairs(docs, bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sh.exists(p => p._1 <= 40 && p._2 <= 40))
    // copies are constant vectors; the near-dup pair alternates sign so
    // it is ~orthogonal to the copies (cos ≈ 0) but ~parallel to itself
    def alt(last: Float) = Array.tabulate(16)(j =>
      if (j == 15) last else if (j % 2 == 0) 0.4f else -0.4f)
    val emb = ((1 to 40).map(i => (i.toLong, Array.fill(16)(0.5f))) ++
      Seq((100L, alt(-0.41f)), (101L, alt(-0.42f))))
      .toDF("vec_id", "embedding")
    val embCapped = Similarity.embedNearDupPairs(emb, threshold = 0.9, bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(embCapped === Set((100L, 101L)))
    // default is uncapped: existing pair-set behavior unchanged
    assert(Similarity.embedNearDupPairs(emb, threshold = 0.9)
      .count() === 780 + 1)
  }

  test("substringDupPairs finds a shared verbatim passage, not unrelated docs") {
    import spark.implicits._
    val passage = (1 to 40).map(w => s"quoted$w").mkString(" ")
    val docA = (1 to 60).map(w => s"alpha$w").mkString(" ") + " " + passage
    val docB = passage + " " + (1 to 60).map(w => s"beta$w").mkString(" ")
    val docC = (1 to 100).map(w => s"gamma$w").mkString(" ")
    val docs = Seq((1L, "en", docA), (2L, "en", docB), (3L, "en", docC))
      .toDF("doc_id", "lang", "text")
    val pairs = Dedup.substringDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // A and B share only the 40-word verbatim passage — overall token
    // overlap is low, but the winnowing guarantee surfaces the run
    assert(pairs === Set((1L, 2L)))
    // whole-doc jaccard misses it at any useful threshold: A∩B ≈ 40 of
    // 160 distinct grams
    assert(Dedup.ngramJaccard(docs, threshold = 0.3).count() === 0)
    // determinism
    val again = Dedup.substringDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === pairs)
    // overlap is containment: a short doc fully embedded in a long one
    // scores 1.0
    val contained = Seq((10L, "en", docA), (11L, "en", passage))
      .toDF("doc_id", "lang", "text")
    val c = Dedup.substringDupPairs(contained).collect()
    assert(c.length === 1)
    assert(c.head.getAs[Double]("overlap") === 1.0)
    // boilerplate cap: 30 docs sharing one passage → its fingerprints
    // exceed dfCap and generate no quadratic pair mass
    val boiler = (1 to 30).map(i =>
      (100L + i, "en", (1 to 30).map(w => s"tos$w").mkString(" ") + s" tail$i"))
      .toDF("doc_id", "lang", "text")
    assert(Dedup.substringDupPairs(boiler, dfCap = 10).count() === 0)
  }

  test("exactSubstringSpans recovers exact boundaries of a shifted shared passage") {
    import spark.implicits._
    val passage = (1 to 12).map(w => s"p$w").mkString(" ")
    // the passage sits at DIFFERENT offsets (8 vs 4) — no 5-word grid
    // chunk aligns, the case the overlapping windows exist for
    val docA = (1 to 7).map(w => s"a$w").mkString(" ") + " " + passage
    val docB = (1 to 3).map(w => s"b$w").mkString(" ") + " " + passage +
      " " + (1 to 3).map(w => s"c$w").mkString(" ")
    val docC = (1 to 30).map(w => s"u$w").mkString(" ")
    val docs = Seq((1L, "en", docA), (2L, "en", docB), (3L, "en", docC))
      .toDF("doc_id", "lang", "text")
    val spans = Dedup.exactSubstringSpans(docs, windowWords = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // every 5-window inside the 12-word passage is duplicated; merged
    // they reconstruct the passage's exact token range in each doc
    assert(spans.toSet === Set(
      (1L, 8L, 19L, 12L, 8L),   // docA: passage at tokens 8..19
      (2L, 4L, 15L, 12L, 8L)))  // docB: passage at tokens 4..15
    // the grid-quantized spanDedup misses it entirely at the same width
    val grid = Dedup.spanDedup(docs, spanWords = 5).collect()
    assert(grid.forall(r =>
      r.getAs[Long]("n_kept_spans") === r.getAs[Long]("n_spans")))
    // repartition-invariance
    val again = Dedup.exactSubstringSpans(docs.repartition(7), windowWords = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(again.toSet === spans.toSet)
  }

  test("exactSubstringSpans counts within-doc repeats and keeps disjoint islands apart") {
    import spark.implicits._
    // the 5-word run repeats INSIDE one document at positions 1 and 8;
    // 8 > 1 + 5 so the islands stay separate spans
    val docs = Seq((1L, "en",
      "x1 x2 x3 x4 x5 y1 y2 x1 x2 x3 x4 x5")).toDF("doc_id", "lang", "text")
    val spans = Dedup.exactSubstringSpans(docs, windowWords = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(spans.toSet === Set((1L, 5L, 1L), (8L, 12L, 1L)))
    // windows that touch (next.pos == prev.pos + W) merge: positions
    // 1 and 6 of the same run cover 1..10 contiguously
    val touch = Seq((1L, "en",
      "z1 z2 z3 z4 z5 z1 z2 z3 z4 z5 w1 w2 w3 w4 w5 q1 z1 z2 z3 z4 z5 z1 z2 z3 z4 z5 w1 w2 w3 w4 w5"))
      .toDF("doc_id", "lang", "text")
    val t = Dedup.exactSubstringSpans(touch, windowWords = 5).collect()
    // the repeated 15-word super-run yields two merged islands (one per
    // occurrence), not a per-window scatter
    assert(t.length === 2)
  }

  test("exactSubstringSpansAgainst equals the full recompute restricted to the batch") {
    import spark.implicits._
    val passage = (1 to 12).map(w => s"p$w").mkString(" ")
    val seed = Seq(
      (2L, "en", (1 to 7).map(w => s"a$w").mkString(" ") + " " + passage),
      (4L, "en", (1 to 30).map(w => s"u$w").mkString(" ")),
      // a seed-internal duplicate the batch must ALSO see through the
      // index (count 2 already in the corpus)
      (6L, "en", (1 to 10).map(w => s"q$w").mkString(" ")),
      (8L, "en", (1 to 10).map(w => s"q$w").mkString(" ")))
    val batch = Seq(
      // duplicates a seed passage (index count 1 + batch count 1)
      (1L, "en", (1 to 3).map(w => s"b$w").mkString(" ") + " " + passage),
      // duplicates the seed-internal pair (index count 2, batch 1)
      (3L, "en", (1 to 10).map(w => s"q$w").mkString(" ")),
      // batch-internal pair, absent from the index entirely
      (5L, "en", (1 to 9).map(w => s"r$w").mkString(" ")),
      (7L, "en", (1 to 9).map(w => s"r$w").mkString(" ")),
      (9L, "en", (1 to 20).map(w => s"v$w").mkString(" ")))
    val all = (seed ++ batch).toDF("doc_id", "lang", "text")
    val batchDf = batch.toDF("doc_id", "lang", "text")
    val seedDf = seed.toDF("doc_id", "lang", "text")
    // index round-trips through parquet like the persisted artifact
    val dir = tempRoot("graft_es_idx_spec")
    Dedup.substringHashIndex(seedDf, windowWords = 5)
      .write.mode("overwrite").parquet(dir.toString)
    val served = Dedup.exactSubstringSpansAgainst(
        batchDf, spark.read.parquet(dir.toString), windowWords = 5)
      .collect().map(_.toString).toSeq
    val full = Dedup.exactSubstringSpans(all, windowWords = 5)
      .filter(col("doc_id") % 2 =!= 0)
      .collect().map(_.toString).toSeq
    assert(served === full)
    assert(served.nonEmpty) // all three duplicate modes must fire
    // the batch-internal-only pair is flagged even with no index hit
    assert(served.exists(_.startsWith("[5,")))
    assert(served.exists(_.startsWith("[3,"))) // seed-pair mode
    assert(served.exists(_.startsWith("[1,"))) // cross seed/batch mode
  }

  test("exactSubstringClean keeps the owning occurrence and cuts the rest") {
    import spark.implicits._
    val passage = (1 to 12).map(w => s"p$w").mkString(" ")
    val docA = (1 to 7).map(w => s"a$w").mkString(" ") + " " + passage
    val docB = (1 to 3).map(w => s"b$w").mkString(" ") + " " + passage +
      " " + (1 to 3).map(w => s"c$w").mkString(" ")
    val docC = (1 to 30).map(w => s"u$w").mkString(" ")
    // within-doc repeat: the SECOND occurrence is cut, the first kept
    val docD = "x1 x2 x3 x4 x5 y1 y2 x1 x2 x3 x4 x5"
    val docE = "tiny doc"
    val docs = Seq((1L, "en", docA), (2L, "en", docB), (3L, "en", docC),
      (4L, "en", docD), (5L, "en", docE)).toDF("doc_id", "lang", "text")
    val out = Dedup.exactSubstringClean(docs, windowWords = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 owns every passage window (lowest doc_id) — untouched
    assert(out(1L) === (19L, 0L, docA))
    // doc 2's copy is fully cut; its own prefix/suffix survive
    assert(out(2L) === (18L, 12L, "b1 b2 b3 c1 c2 c3"))
    assert(out(3L) === (30L, 0L, docC))
    assert(out(4L) === (12L, 5L, "x1 x2 x3 x4 x5 y1 y2"))
    // short docs carry no windows and pass through verbatim
    assert(out(5L) === (2L, 0L, docE))
    // every doc appears exactly once
    assert(out.size === 5)
    // repartition-invariance (ownership is a global integer argmin)
    val again = Dedup.exactSubstringClean(docs.repartition(7), windowWords = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(again === out)
  }

  test("perplexityScore frequency floor scores rare tokens at singleton surprisal") {
    val docs = Tables.documents(spark, docDir)
    // floor 1 is the exact formulation
    val base = TextAnalysis.perplexityScore(docs).collect()
    val floored = TextAnalysis.perplexityScore(docs, minTokenCount = 5L).collect()
    assert(base.length === floored.length)
    // floored model only raises surprisal for docs with rare tokens
    val b = base.map(r => r.getLong(0) -> r.getAs[Double]("avg_surprisal")).toMap
    floored.foreach { r =>
      assert(r.getAs[Double]("avg_surprisal") >= b(r.getLong(0)) - 1e-9)
    }
  }

  test("duplicateClusters computes transitive closure of pairs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L))
      .toDF("doc_a", "doc_b")
    // both strategies: driver union-find and distributed propagation
    for (threshold <- Seq(1000000L, 0L)) {
      val clusters = Dedup.duplicateClusters(pairs, driverThreshold = threshold).collect()
      assert(clusters.length === 2)
      val byRep = clusters.map(r => r.getLong(0) -> r.getAs[Seq[Long]]("members")).toMap
      assert(byRep(1L).toSet === Set(1L, 2L, 3L, 7L)) // transitive chain
      assert(byRep(10L).toSet === Set(10L, 11L))
    }
  }

  test("duplicateLabelsStar matches union-find on adversarial graphs") {
    import spark.implicits._
    // (a) 64-node path — diameter 63: the shape where capped min-label
    // propagation (O(diameter) rounds) silently truncates; star
    // contraction needs O(log n) round pairs
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // (b) cycles, reversed duplicate edges, multiple components
    val messy = Seq((5L, 6L), (6L, 7L), (7L, 5L), (20L, 21L), (21L, 20L),
      (30L, 31L), (31L, 32L), (32L, 30L), (30L, 33L)).toDF("doc_a", "doc_b")
    // (c) seeded random graph: 400 edges over 200 nodes
    val rnd = new scala.util.Random(42)
    val rand = Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    for (pairs <- Seq(path, messy, rand)) {
      val star = Dedup.duplicateLabelsStar(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val uf = Dedup.duplicateLabels(pairs, driverThreshold = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === uf)
      // the in-executor union-find leaf (default gate) is
      // row-identical to the forced-distributed round loop
      val rounds = Dedup.duplicateLabelsStar(pairs, localMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === rounds)
    }
    // empty pair set converges immediately to zero labels
    assert(Dedup.duplicateLabelsStar(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() === 0L)
  }

  test("duplicateClusters over minhash pairs covers every paired doc") {
    val pairs = Dedup.minhashPairs(Tables.documents(spark, docDir))
    val clusters = Dedup.duplicateClusters(pairs).collect()
    assert(clusters.nonEmpty)
    val docsInPairs = pairs.select("doc_a").union(pairs.select("doc_b"))
      .distinct().count()
    assert(clusters.map(_.getAs[Long]("n_docs")).sum === docsInPairs)
    assert(clusters.forall(_.getAs[Long]("n_docs") >= 2))
  }

  test("dedupSurvivors keeps exactly one doc per cluster plus unpaired docs") {
    import spark.implicits._
    val docs = Tables.documents(spark, docDir)
    val pairs = Dedup.minhashPairs(docs)
    val survivors = Dedup.dedupSurvivors(docs, pairs)
    val labels = Dedup.duplicateLabels(pairs).collect()
    val paired = labels.map(_.getLong(0)).toSet
    val reps = labels.map(_.getLong(1)).toSet
    // survivors = all docs − (paired − representatives)
    assert(survivors.count() === docs.count() - (paired.size - reps.size))
    val kept = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reps.subsetOf(kept))
    assert((paired -- reps).forall(id => !kept.contains(id)))
    // synthetic closure: chain a-b, b-c collapses to one survivor
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val tiny = Seq((1L, "x"), (2L, "y"), (3L, "z"), (9L, "w")).toDF("doc_id", "text")
    val out = Dedup.dedupSurvivors(tiny, chain).select("doc_id").collect().map(_.getLong(0))
    assert(out.toSeq === Seq(1L, 9L))
  }

  test("simhashPairs emits low-hamming pairs only") {
    val pairs = Dedup.simhashPairs(Tables.documents(spark, docDir)).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("embedTopK ranks by cosine, excludes self, k per query") {
    val df = Similarity.embedTopK(Tables.embeddings(spark, docDir), nQueries = 5, k = 3)
    val rows = df.collect()
    assert(rows.length === 15)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.forall(_.getLong(1) != q))
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embedLshBuckets partitions the corpus completely") {
    val emb = Tables.embeddings(spark, docDir)
    val df = Similarity.embedLshBuckets(emb)
    assert(df.agg(sum("n_vectors")).collect().head.getLong(0) === emb.count())
  }

  test("embedLshTopK approximates exact top-k with sane recall") {
    val emb = Tables.embeddings(spark, docDir)
    val exact = Similarity.embedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.embedLshTopK(emb, nQueries = 10, k = 5,
      planes = 4, tables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    // 8 tables of 4 planes over 500 random vecs: union recall is solid
    // even though single-table recall on unclustered data is weak
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.4, s"recall=$recall")
  }

  test("embedSqTopK int8 index reranks to near-exact recall, deterministically") {
    val emb = Tables.embeddings(spark, docDir)
    val exact = Similarity.embedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.embedSqTopK(emb, nQueries = 10, k = 5).collect()
    val approx = sq.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sq.length === 50)
    // int8 coordinate error is tiny relative to cosine gaps, and the
    // 4k rerank pool re-ranks exactly — recall should be ~1, not "sane"
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.9, s"recall=$recall")
    val again = Similarity.embedSqTopK(emb, nQueries = 10, k = 5).collect()
    assert(sq.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // the stored index really is int8 + per-vector scale + exact norm
    val schema = Similarity.sqIndex(emb).schema
    assert(schema("qv").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.ByteType)
    // quantized approximate cosine stays within the int8 error envelope
    // of the exact cosine for the planted identical-direction pair
    val idx = Similarity.sqIndex(emb)
    val z = idx.filter(col("scale") <= 1e-30 / 127.0).count()
    assert(z === 0) // test embeddings have no all-zero vectors
  }

  test("embedSqTopKFromIndex over a parquet round-trip is bit-equal to inline") {
    val emb = Tables.embeddings(spark, docDir)
    val inline = Similarity.embedSqTopK(emb, nQueries = 10, k = 5).collect()
    val path = tempRoot("sqidx").toString + "/idx"
    Similarity.sqIndex(emb).write.parquet(path)
    val persisted = spark.read.parquet(path)
    // the persisted artifact keeps the int8 element type
    assert(persisted.schema("qv").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.ByteType)
    val indexed = Similarity.embedSqTopKFromIndex(persisted, emb,
      nQueries = 10, k = 5).collect()
    assert(indexed.map(_.toString).toSeq === inline.map(_.toString).toSeq)
    assert(indexed.length === 50)
  }

  test("embedIvfTopKFromIndex over a parquet round-trip is bit-equal to inline") {
    val emb = Tables.embeddings(spark, docDir)
    val inline = Similarity.embedIvfTopK(emb, nQueries = 10, k = 5).collect()
    val root = tempRoot("ivfidx").toString
    val (assign, cents) = Similarity.ivfIndex(emb)
    assign.write.parquet(s"$root/assign")
    cents.write.parquet(s"$root/centroids")
    // the posting-list artifact is the slim (vec_id, cid) pair
    val persisted = spark.read.parquet(s"$root/assign")
    assert(persisted.columns.toSeq.sorted === Seq("cid", "vec_id"))
    val indexed = Similarity.embedIvfTopKFromIndex(
      persisted, spark.read.parquet(s"$root/centroids"), emb,
      nQueries = 10, k = 5).collect()
    assert(indexed.map(_.toString).toSeq === inline.map(_.toString).toSeq)
    assert(indexed.nonEmpty)
  }

  test("composed IVF×SQ / IVF×PQ serving from shared artifacts is bit-equal to inline") {
    val emb = Tables.embeddings(spark, docDir)
    val root = tempRoot("ivfcomp").toString
    val (assign, cents) = Similarity.ivfIndex(emb)
    assign.write.parquet(s"$root/assign")
    cents.write.parquet(s"$root/centroids")
    Similarity.sqIndex(emb).write.parquet(s"$root/sq")
    val (codes, cbooks) = Similarity.pqIndex(emb)
    codes.write.parquet(s"$root/codes")
    cbooks.write.parquet(s"$root/codebooks")
    def rd(p: String) = spark.read.parquet(s"$root/$p")
    val ivfSq = Similarity.embedIvfSqTopKFromIndex(
      rd("assign"), rd("centroids"), rd("sq"), emb).collect()
    assert(ivfSq.map(_.toString).toSeq ===
      Similarity.embedIvfSqTopK(emb).collect().map(_.toString).toSeq)
    val ivfPq = Similarity.embedIvfPqTopKFromIndex(
      rd("assign"), rd("centroids"), rd("codes"), rd("codebooks"), emb).collect()
    assert(ivfPq.map(_.toString).toSeq ===
      Similarity.embedIvfPqTopK(emb).collect().map(_.toString).toSeq)
    assert(ivfSq.nonEmpty && ivfPq.nonEmpty)
  }

  test("PQ rejects configurations that would corrupt codes or drop coordinates") {
    val emb = Tables.embeddings(spark, docDir)
    // nCodes > 127 would wrap the 1-based tinyint codes negative and
    // graft_pq_adc would NULL every affected score — vectors silently
    // vanishing from results; rejected up front instead
    val ex = intercept[IllegalArgumentException] {
      Similarity.embedPqTopK(emb, nCodes = 256)
    }
    assert(ex.getMessage.contains("127"))
    // a non-divisible m would silently drop the trailing coordinates
    // from training, encoding, and scoring; the split raises instead
    val ex2 = intercept[Exception] {
      Similarity.embedPqTopK(emb, m = 7).collect()
    }
    assert(ex2.getMessage.contains("divisible") ||
      Option(ex2.getCause).exists(_.getMessage.contains("divisible")))
  }

  test("embedPqTopKFromIndex over a parquet round-trip is bit-equal to inline") {
    val emb = Tables.embeddings(spark, docDir)
    val inline = Similarity.embedPqTopK(emb, nQueries = 10, k = 5).collect()
    val root = tempRoot("pqidx").toString
    val (codes, cents) = Similarity.pqIndex(emb)
    codes.write.parquet(s"$root/codes")
    cents.write.parquet(s"$root/codebooks")
    val indexed = Similarity.embedPqTopKFromIndex(
      spark.read.parquet(s"$root/codes"),
      spark.read.parquet(s"$root/codebooks"), emb,
      nQueries = 10, k = 5).collect()
    assert(indexed.map(_.toString).toSeq === inline.map(_.toString).toSeq)
    assert(indexed.length === 50)
  }

  test("embedIvfSqTopK composes list probing with int8 scoring at IVF-level recall") {
    val emb = Tables.embeddings(spark, docDir)
    val ivf = Similarity.embedIvfTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = Similarity.embedIvfSqTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8).collect()
    val got = composed.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(composed.nonEmpty)
    // identical probe lists + exact fp rerank: quantization only
    // perturbs which candidates reach the rerank pool, so the composed
    // result should nearly coincide with plain IVF at the same nProbe
    val agree = (ivf intersect got).size.toDouble / ivf.size
    assert(agree > 0.9, s"agreement with plain IVF=$agree")
    val again = Similarity.embedIvfSqTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8).collect()
    assert(composed.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("embedPqTopK ADC scoring reranks to sane recall; codes really compress") {
    val emb = Tables.embeddings(spark, docDir)
    val exact = Similarity.embedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.embedPqTopK(emb, nQueries = 10, k = 5).collect()
    val approx = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.length === 50)
    // random unit vectors are PQ's worst case (no cluster structure);
    // the 8k rerank pool still recovers a solid fraction of the truth
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall")
    val again = Similarity.embedPqTopK(emb, nQueries = 10, k = 5).collect()
    assert(pq.map(_.toString).toSeq === again.map(_.toString).toSeq)

    // the packed artifact: m tinyint codes per vector, materially
    // smaller than the fp corpus on disk
    val codes = Similarity.pqCodes(emb)
    assert(codes.count() === emb.count())
    assert(codes.select(size(col("codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(8))
    val dir = tempRoot("pq").toString
    codes.write.parquet(s"$dir/codes")
    emb.select("vec_id", "embedding").write.parquet(s"$dir/fp")
    def bytes(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val ratio = bytes(s"$dir/fp").toDouble / bytes(s"$dir/codes")
    assert(ratio > 4.0, s"compression ratio=$ratio")
  }

  test("embedIvfPqTopK composes coarse lists with ADC codes at sane recall") {
    val emb = Tables.embeddings(spark, docDir)
    val exact = Similarity.embedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = Similarity.embedIvfPqTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8).collect()
    val got = composed.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(composed.nonEmpty)
    // bounded below by IVF's probe recall minus PQ's pool misses; the
    // exact fp rerank restores ordering within the pool
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall > 0.25, s"recall=$recall")
    val again = Similarity.embedIvfPqTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8).collect()
    assert(composed.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("embedIvfPqTopK residual codes at equal params beat or match flat codes") {
    val emb = Tables.embeddings(spark, docDir)
    val exact = Similarity.embedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // rerankFactor = 1 makes the survivor pool exactly k, so pool
    // selection is purely ADC-driven — the configuration where code
    // quality shows; coarse codes (nCodes = 8) widen the gap
    def run(residual: Boolean) = Similarity.embedIvfPqTopK(
      emb, nQueries = 10, k = 5, nCentroids = 16, lloydIters = 2,
      nProbe = 8, m = 8, nCodes = 8, rerankFactor = 1,
      residual = residual).collect()
    def recallOf(rows: Array[org.apache.spark.sql.Row]) = {
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val flat = recallOf(run(residual = false))
    val resRows = run(residual = true)
    val res = recallOf(resRows)
    info(s"recall flat=$flat residual=$res")
    // residuals have a far smaller dynamic range than the vectors, so
    // equal (m, nCodes) bits quantize finer — recall must not regress
    assert(res >= flat, s"residual=$res flat=$flat")
    // absolute floor is deliberately loose: rerankFactor = 1 with
    // 8 codes is the harshest configuration (observed: flat 0.10,
    // residual 0.16 — the comparison above is the real assertion)
    assert(res > 0.05, s"residual=$res")
    // determinism: seeded centroids, no RNG anywhere in the path
    assert(run(residual = true).map(_.toString).toSeq ===
      resRows.map(_.toString).toSeq)
  }

  test("embedIvfTopK probes centroid lists with sane recall") {
    val emb = Tables.embeddings(spark, docDir)
    val exact = Similarity.embedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.embedIvfTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8).collect()
    assert(ivf.nonEmpty)
    val approx = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall")
    // determinism: seeded centroids, no RNG
    val again = Similarity.embedIvfTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8).collect()
    assert(ivf.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("IVF Lloyd trains on the deterministic hash sample, not the corpus") {
    val emb = Tables.embeddings(spark, docDir)
    // the training frame IS the xxhash64-rank prefix of the corpus —
    // as a SET: the sample repartitions for parallel Lloyd passes
    // (row order is free; seeds re-sort internally and the means are
    // integer-exact, so partitioning cannot change the model)
    val sample = Similarity.ivfTrainingSample(
      emb.select(col("vec_id")), nCentroids = 8, trainFactor = 4).collect()
    assert(sample.length === 32)
    val expected = emb.select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(32).collect().map(_.getLong(0)).toSeq
    assert(sample.map(_.getLong(0)).sorted.toSeq === expected.sorted)
    // sample-trained centroids still give sane recall and determinism
    val exact = Similarity.embedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.embedIvfTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8, trainFactor = 4).collect()
    val approx = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall")
    val again = Similarity.embedIvfTopK(emb, nQueries = 10, k = 5,
      nCentroids = 16, lloydIters = 2, nProbe = 8, trainFactor = 4).collect()
    assert(ivf.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("minhashPairsShared serves the cache until the data dir is rewritten") {
    val docs = Tables.documents(spark, docDir)
    val tmp = tempRoot("pairscache").toString
    docs.filter(col("doc_id") < 100)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val first = SparkEntry.minhashPairsShared(spark, tmp)
    val r1 = first.collect().map(_.toString).toSet
    // unchanged fingerprint → the SAME persisted frame comes back
    assert(SparkEntry.minhashPairsShared(spark, tmp) eq first)
    // rewrite under the live dir → stale entry unpersisted, fresh pairs
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r2 = SparkEntry.minhashPairsShared(spark, tmp).collect().map(_.toString).toSet
    val expected = Dedup.minhashPairs(spark.read.parquet(s"$tmp/documents.parquet"))
      .collect().map(_.toString).toSet
    assert(r2 === expected)
    assert(r2 !== r1)
  }

  test("embedNearDupPairs finds above-threshold cosine pairs via LSH") {
    val emb = Tables.embeddings(spark, docDir)
    val pairs = Similarity.embedNearDupPairs(emb, threshold = 0.35, planes = 4, tables = 4)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("cos_sim") >= 0.35))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("semDeDup dedups within clusters and inherits the cross-cluster miss") {
    import spark.implicits._
    // bimodal fixture: a tight pile at each axis (within-cluster
    // near-dups) plus one high-cosine pair STRADDLING the boundary
    val vecs =
      (1L to 5L).map(i => i -> Array(1f, 0.001f * i, 0f, 0f)) ++
        Seq(6L -> Array(0.72f, 0.69f, 0f, 0f)) ++
        (11L to 15L).map(i => i -> Array(0.001f * i, 1f, 0f, 0f)) ++
        Seq(16L -> Array(0.69f, 0.72f, 0f, 0f))
    val emb = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(emb, nCentroids = Some(2), tau = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out.keySet === vecs.map(_._1).toSet)
    // each axis pile collapses to its min id
    assert(out(1L)._2 === true)
    assert((2L to 5L).forall(!out(_)._2))
    assert(out(11L)._2 === true)
    assert((12L to 15L).forall(!out(_)._2))
    // the straddlers' cosine is ~0.999 >= tau, but they sit in
    // DIFFERENT clusters — SemDeDup never compares them: both kept
    // (the paper's recall trade, inherited deliberately)
    assert(out(6L)._1 !== out(16L)._1, "fixture must straddle the boundary")
    assert(out(6L)._2 && out(16L)._2)
    // determinism across partitionings
    val again = Similarity.semDeDup(emb.repartition(5), nCentroids = Some(2), tau = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(again === out)
  }

  test("semDeDup paper keep-rule keeps the farthest-from-centroid member") {
    import spark.implicits._
    // one cluster of three mutual dups; v3 sits clearly farthest from
    // the (single) centroid = normalized corpus mean
    val emb = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(1f, 0.01f, 0f, 0f),
      3L -> Array(0.92f, 0.39f, 0f, 0f)).toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(emb, nCentroids = Some(1), tau = 0.9,
        keepFarthest = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out === Map(1L -> false, 2L -> false, 3L -> true))
    // the keeper is the component's argmin sim per the assignment —
    // self-consistent with the slim artifact the serving path stores
    val sims = Similarity.semDeDupAssign(emb, nCentroids = Some(1))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sims(3L) < sims(1L) && sims(3L) < sims(2L))
    // default rule on the same fixture keeps min id instead
    val minId = Similarity.semDeDup(emb, nCentroids = Some(1), tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(minId === Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("flat centroid assignment is the brute-force argmax, smallest cid on ties") {
    import spark.implicits._
    // assignTo against a driver-side scan over the collected centroids:
    // the same left-to-right dot fold graft_dot evaluates (bit-equal,
    // VectorExpressionsSpec), the first maximum in cid order winning
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def check(e: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Double)] = {
      val cs = cents.collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
      val got = Similarity.assignTo(e, cents)
        .select("vec_id", "cid", "sim").orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val brute = e.select("vec_id", "vn").orderBy("vec_id").collect().map { r =>
        val sims = cs.map { case (cid, c) => cid -> dot(r.getSeq[Double](1), c) }
        val best = sims.map(_._2).max
        (r.getLong(0), sims.find(_._2 == best).get._1, best)
      }.toSeq
      // EXACT equality, doubles included
      assert(got === brute)
      got
    }
    // clustered-but-messy fixture: 12 loose piles in 8 dims plus
    // deterministic jitter, k = 12 centroids
    val vecs = (0 until 240).map { i =>
      val pile = i % 12
      i.toLong -> Array.tabulate(8) { j =>
        (if (j == pile % 8) 4.0 else 0.0) +
          math.sin(i * 131 + j * 37) * 0.8
      }
    }
    val (e, cents) = Similarity.ivfModel(vecs.toDF("vec_id", "embedding"), 12,
      lloydIters = 2)
    assert(check(e.localCheckpoint(), cents).map(_._2).distinct.size > 4,
      "fixture must use many centroids")
    // degenerate corpus (every vector identical) against its untrained
    // seed centroids (six copies of the same vector): a tie storm on
    // every row, which the smallest cid must win
    val same = (0 until 30).map(i => i.toLong -> Array(1.0, 0.5, 0.25, 0.0))
      .toDF("vec_id", "embedding")
    val (se, scents) = Similarity.ivfModel(same, 6, lloydIters = 0)
    assert(scents.count() === 6)
    assert(check(se.localCheckpoint(), scents).map(_._2).toSet === Set(1))
  }

  test("semDeDup served from the persisted assignment is bit-equal to inline") {
    val emb = Tables.embeddings(spark, docDir)
    val inline = Similarity.semDeDup(emb, tau = 0.35)
      .collect().map(_.toString).toSeq
    val dir = tempRoot("sd_assign").toString
    Similarity.semDeDupAssign(emb).write.mode("overwrite").parquet(dir)
    val served = Similarity.semDeDupFromIndex(
        emb, spark.read.parquet(dir), tau = 0.35)
      .collect().map(_.toString).toSeq
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("mixSources keeps deterministic per-source rates") {
    val docs = Tables.documents(spark, docDir)
    val rates = Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.5)
    val mixed = Curation.mixSources(docs, rates)
    val counts = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("src0")) // rate 0 drops the source entirely
    assert(counts("src1") === 25)    // rate 1 keeps every doc
    assert(counts("src2") > 0 && counts("src2") < 25)
    // deterministic: same ids on re-run, no RNG state
    val again = Curation.mixSources(docs, rates)
    assert(mixed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("mixTemperature flattens skewed sources with exact integer rates") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // 70/20/10 skew over the fixture corpus
    val docs = Tables.documents(spark, docDir).withColumn("source",
      when(col("doc_id") % 10 < 7, lit("head"))
        .when(col("doc_id") % 10 < 9, lit("mid")).otherwise(lit("tail")))
    val out = Curation.mixTemperature(docs, alpha = 0.5, budget = 300L)
    val rates = out.groupBy("source").agg(
        org.apache.spark.sql.functions.min("r_micro").as("r"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // α = 0.5 flattens: the head downsamples hardest, the tail clamps
    // at 1 (sampling without replacement cannot upsample)
    assert(rates("head") < rates("mid") && rates("mid") < rates("tail"))
    assert(rates("tail") === 1000000L)
    // the rate formula is exact integers end to end: recompute locally
    val n = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pwm = n.map { case (s, c) => s -> math.round(math.pow(c.toDouble, 0.5) * 1e6) }
    val tot = pwm.values.sum
    val expect = n.map { case (s, c) =>
      s -> math.min(1000000L,
        (BigInt(300L) * pwm(s) * 1000000 / (BigInt(tot) * c)).toLong) }
    assert(rates === expect.filter { case (_, r) => r > 0 })
    // α = 1 is the raw proportional mix: every source gets the same rate
    val raw = Curation.mixTemperature(docs, alpha = 1.0, budget = 300L)
      .groupBy("source").agg(
        org.apache.spark.sql.functions.min("r_micro").as("r"))
      .collect().map(_.getLong(1)).toSet
    assert(raw.size === 1)
    // deterministic on re-run (the md5 uniform, no RNG)
    val again = Curation.mixTemperature(docs, alpha = 0.5, budget = 300L)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("tokenBudgetSample keeps the deterministic hash-order token prefix per source") {
    val docs = Tables.documents(spark, docDir)
    val out = Curation.tokenBudgetSample(docs,
      budgets = Map("src2" -> 0L), defaultBudget = 500L)
    val rows = out.collect()
    assert(rows.length === 500)
    // zero budget drops the whole source; default 500 splits the rest
    assert(!rows.exists(r =>
      r.getAs[String]("source") == "src2" && r.getAs[Boolean]("kept")))
    rows.groupBy(_.getAs[String]("source")).filterNot(_._1 == "src2").foreach {
      case (_, rs) =>
        assert(rs.exists(_.getAs[Boolean]("kept")))
        assert(rs.exists(!_.getAs[Boolean]("kept")))
    }
    // kept ⇔ cum_before < budget
    rows.foreach { r =>
      val budget = if (r.getAs[String]("source") == "src2") 0L else 500L
      assert(r.getAs[Boolean]("kept") === (r.getAs[Long]("cum_before") < budget))
    }
    // the two-level prefix sum equals a flat per-source window in global
    // (h, doc_id) order — the formulation the oracle uses
    val flat = docs.select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|\\S"), lit(0)))
          .as("n_tokens"))
      .withColumn("h",
        graft.functions.DeterministicHash.md5Prefix("budget-v1", col("doc_id")))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("doc_id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("cum_before") === flat(r.getAs[Long]("doc_id")))
    }
    // bucket-count and partitioning independence: rows bit-for-bit equal
    val again = Curation.tokenBudgetSample(docs.repartition(7),
      budgets = Map("src2" -> 0L), defaultBudget = 500L, hashBuckets = 3)
    assert(again.collect().map(_.toString).toSeq === rows.map(_.toString).toSeq)
  }

  test("c4Rules applies every line and page rule and rewrites the text") {
    import spark.implicits._
    val good = (1 to 5).map(i => s"This is a good sentence number $i.")
    val docs = Seq(
      // every rule on display in one doc: kept lines interleaved with
      // a short line, an unpunctuated line, and a javascript line
      (1L, (good.take(3) ++ Seq("Too short.", "no terminal punctuation",
        "This line mentions JavaScript heavily.") ++ good.drop(3)).mkString("\n")),
      (2L, good.mkString("\n")),                        // clean: kept
      (3L, (good :+ "contains lorem ipsum.").mkString("\n")), // page rule
      (4L, (good :+ "has a { brace.").mkString("\n")),        // page rule
      (5L, good.take(4).mkString("\n"))                 // only 4 kept lines
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.c4Rules(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: 8 lines, the 5 good ones survive, rewritten in order
    assert(rows(1L).getAs[Long]("n_lines") === 8)
    assert(rows(1L).getAs[Long]("n_kept_lines") === 5)
    assert(rows(1L).getAs[String]("clean_text") === good.mkString("\n"))
    assert(rows(1L).getAs[Boolean]("keep"))
    assert(rows(2L).getAs[Boolean]("keep"))
    // lorem ipsum and curly braces kill the page even with enough lines
    assert(rows(3L).getAs[Boolean]("has_lorem") && !rows(3L).getAs[Boolean]("keep"))
    assert(rows(4L).getAs[Boolean]("has_brace") && !rows(4L).getAs[Boolean]("keep"))
    // fewer than minKeptLines surviving sentences drops the page
    assert(rows(5L).getAs[Long]("n_kept_lines") === 4 &&
      !rows(5L).getAs[Boolean]("keep"))
    // "Too short." IS punctuated but has under 3 words: not kept
    assert(rows(1L).getAs[String]("clean_text").split("\n").length === 5)
  }

  test("snapshotDiff classifies every doc across two corpus versions") {
    import spark.implicits._
    val old = Seq((1L, "keep"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "keep"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = operators.Etl.snapshotDiff(old, nw).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("dupProvenance counts shared duplicated chunks per source pair") {
    import spark.implicits._
    val ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, "a", ten), (2L, "a", ten),            // 2 copies within a
      (3L, "b", ten),                            // 1 copy in b
      (4L, "c", "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10") // unique: pruned
    ).toDF("doc_id", "source", "text")
    val rows = operators.Dedup.dupProvenance(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_shared_chunks"), r.getAs[Long]("n_dup_pairs"))).toMap
    // (a,a): C(2,2)=1 pair; (a,b): 2×1=2; (b,b): n=1 → filtered; c absent
    assert(rows === Map(("a", "a") -> (1L, 1L), ("a", "b") -> (1L, 2L)))
    // the real corpus has planted cross-source near-dups sharing chunks
    val corpus = operators.Dedup.dupProvenance(Tables.documents(spark, docDir))
    assert(corpus.filter(col("source_a") =!= col("source_b")).count() > 0)
  }

  test("sourceDivergence hits the JS boundary cases exactly") {
    import spark.implicits._
    // identical distributions: each source vs the rest is the same
    // distribution ⇒ JS exactly 0 (every snapped contribution is 0)
    val same = Seq((1L, "a", "x y z x"), (2L, "b", "x y z x"))
      .toDF("doc_id", "source", "text")
    TextAnalysis.sourceDivergence(same).collect().foreach { r =>
      assert(r.getAs[Double]("js_divergence") === 0.0)
    }
    // disjoint vocabularies ⇒ JS = ln 2: the present-term mass
    // contributes (ln 2)/2 and the absent-term closed form the rest
    val disjoint = Seq((1L, "a", "x y z"), (2L, "b", "u v w"))
      .toDF("doc_id", "source", "text")
    TextAnalysis.sourceDivergence(disjoint).collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("js_divergence") - math.log(2.0)) < 1e-4)
    }
    // a single source has no rest-of-corpus: null, not a crash
    val solo = Seq((1L, "a", "x y")).toDF("doc_id", "source", "text")
    val soloRows = TextAnalysis.sourceDivergence(solo).collect()
    assert(soloRows.length === 1 && soloRows.head.isNullAt(
      soloRows.head.fieldIndex("js_divergence")))
    // partitioning independence on the real corpus: bit-for-bit equal
    val docs = Tables.documents(spark, docDir)
    val out = TextAnalysis.sourceDivergence(docs).collect()
    assert(out.length === 20)
    // the synthetic sources share one vocabulary: drift is small but
    // nonzero, and every value is finite
    out.foreach { r =>
      val js = r.getAs[Double]("js_divergence")
      assert(js > 0.0 && js < 0.2, s"unexpected divergence $js")
    }
    val again = TextAnalysis.sourceDivergence(docs.repartition(7)).collect()
    assert(again.map(_.toString).toSeq === out.map(_.toString).toSeq)
  }

  test("dsirWeights scores target-like docs above off-distribution docs") {
    import spark.implicits._
    // target domain speaks vocab A; one raw doc shares it, one doesn't
    val a = "alpha beta gamma delta alpha beta gamma delta alpha beta"
    val b = "omega sigma theta kappa omega sigma theta kappa omega sigma"
    val docs = Seq(
      (1L, "tgt", a), (2L, "tgt", a + " gamma alpha"),
      (3L, "raw", a), (4L, "raw", b)).toDF("doc_id", "source", "text")
    val out = Curation.dsirWeights(docs, targetSources = Seq("tgt"), nBuckets = 64)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size === 4)
    // the A-speaking raw doc is more target-like than the B-speaking one
    val wA = rows(3L).getAs[Double]("log_weight")
    val wB = rows(4L).getAs[Double]("log_weight")
    assert(wA > wB, s"target-like $wA should beat off-distribution $wB")
    // the off-distribution doc's buckets never appear in the target, so
    // its weight is decisively negative (the target-like doc's sign can
    // legitimately hover near 0 on a tiny corpus — smoothing asymmetry)
    assert(wB < 0, s"off-distribution weight should be negative, got $wB")
    // n_feats = unigrams + adjacent bigrams
    assert(rows(3L).getAs[Long]("n_feats") === 10 + 9)
    // keep is the exact integer-margin sign; it must agree with the
    // rounded double anywhere away from the 4-decimal boundary
    rows.values.foreach { r =>
      val lw = r.getAs[Double]("log_weight")
      if (math.abs(lw) > 1e-3)
        assert(r.getAs[Boolean]("keep") === (lw > 0))
    }
    // partitioning/bucket-count independence: bit-for-bit equal rows
    val again = Curation.dsirWeights(
      docs.repartition(7), targetSources = Seq("tgt"), nBuckets = 64)
    assert(again.collect().map(_.toString).toSeq ===
      out.collect().map(_.toString).toSeq)
  }

  test("bigramPerplexity matches a hand-computed interpolated model") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a a"), (3L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramPerplexity(docs).collect()
    assert(rows.length === 3)
    // corpus: uni a:4 b:2 x:1 (total 7); bigrams doc1 (a,b)(b,a)(a,b),
    // doc2 (a,a); histories a->3 b->1; pb: (a,b)=2/3 (b,a)=1 (a,a)=1/3
    def snap(x: Double, s: Int) =
      BigDecimal.valueOf(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // integer micro-nat surprisal per transition (the engine snap)
    def unat(p: Double): Long =
      BigDecimal.valueOf(-math.log(p) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // half-up integer mean: floor((2·sum + n) / (2·n)) for sum >= 0
    def avgU(sum: Long, n: Long): Long = (2 * sum + n) / (2 * n)
    val sAB = unat(0.75 * (2.0 / 3) + 0.25 * (2.0 / 7))
    val sBA = unat(0.75 * 1.0 + 0.25 * (4.0 / 7))
    val sAA = unat(0.75 * (1.0 / 3) + 0.25 * (4.0 / 7))
    val sum1 = sAB + sBA + sAB
    val au1 = avgU(sum1, 3)
    val d1 = snap(au1 / 1e6, 6)
    val au2 = avgU(sAA, 1)
    val d2 = snap(au2 / 1e6, 6)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Long]("n_bigrams") === 3L)
    assert(byId(1L).getAs[Long]("surprisal_unat") === sum1)
    assert(byId(1L).getAs[Long]("avg_surprisal_unat") === au1)
    assert(byId(1L).getAs[Double]("avg_surprisal") === d1)
    assert(byId(1L).getAs[Double]("ppl") === snap(math.exp(d1), 6))
    assert(byId(2L).getAs[Double]("avg_surprisal") === d2)
    // a single-token doc has no transitions: 0 count, NULL scores
    assert(byId(3L).getAs[Long]("n_bigrams") === 0L)
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("avg_surprisal")))
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("surprisal_unat")))
    // flooring the bigram table degrades smoothly to the backoff term
    val floored = TextAnalysis.bigramPerplexity(docs, minBigramCount = 2L).collect()
      .map(r => r.getLong(0) -> r).toMap
    val sAAFloor = unat(0.25 * (4.0 / 7))
    assert(floored(2L).getAs[Double]("avg_surprisal") ===
      snap(avgU(sAAFloor, 1) / 1e6, 6))
    // full corpus: one row per doc, deterministic re-run
    val corpus = TextAnalysis.bigramPerplexity(Tables.documents(spark, docDir))
    val all = corpus.collect()
    assert(all.length === 500)
    assert(all.forall(r => r.getAs[Long]("n_bigrams") > 0))
    val again = TextAnalysis.bigramPerplexity(Tables.documents(spark, docDir)).collect()
    assert(all.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("trigramPerplexity scores hand-computed stupid backoff, all branches") {
    import spark.implicits._
    // counts with default floors (tri >= 2, bi >= 2):
    //   uni a:3 b:3 c:3 x:1 y:1 z:1 q:1 (N = 13)
    //   bigrams (a,b):3 (b,c):3 (c,a):1 (x,y):1 (y,z):1
    //   trigrams (a,b,c):3 (b,c,a):1 (c,a,b):1 (x,y,z):1
    val docs = Seq((1L, "a b c a b c"), (2L, "a b c"), (3L, "x y z"),
      (4L, "q")).toDF("doc_id", "text")
    val rows = TextAnalysis.trigramPerplexity(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def snap(x: Double, s: Int) =
      BigDecimal.valueOf(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def unat(s: Double): Long =
      BigDecimal.valueOf(-math.log(s) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def avgU(sum: Long, n: Long): Long = (2 * sum + n) / (2 * n)
    val a = 0.4
    // doc1 positions: (a,b,c) surviving trigram p3 = 3/3;
    // (b,c,a) → dead trigram, dead bigram (c,a) → α·(α·P(a));
    // (c,a,b) → dead trigram, live bigram (a,b) → α·(3/3); (a,b,c) again
    val sTri = unat(3.0 / 3)                    // = 0
    val sUniA = unat(a * (a * (3.0 / 13)))
    val sBiAB = unat(a * (3.0 / 3))
    val sum1 = sTri + sUniA + sBiAB + sTri
    assert(rows(1L).getAs[Long]("n_trigrams") === 4L)
    assert(rows(1L).getAs[Long]("surprisal_unat") === sum1)
    assert(rows(1L).getAs[Long]("avg_surprisal_unat") === avgU(sum1, 4))
    assert(rows(1L).getAs[Double]("avg_surprisal") === snap(avgU(sum1, 4) / 1e6, 6))
    assert(rows(1L).getAs[Double]("ppl") ===
      snap(math.exp(snap(avgU(sum1, 4) / 1e6, 6)), 6))
    // doc2: the one surviving trigram scores probability 1 → ppl 1
    assert(rows(2L).getAs[Long]("n_trigrams") === 1L)
    assert(rows(2L).getAs[Long]("surprisal_unat") === 0L)
    assert(rows(2L).getAs[Double]("ppl") === 1.0)
    // doc3: full double backoff to the unigram base case
    assert(rows(3L).getAs[Long]("surprisal_unat") === unat(a * (a * (1.0 / 13))))
    // doc4: under 3 tokens — zero trigrams, NULL scores
    assert(rows(4L).getAs[Long]("n_trigrams") === 0L)
    assert(rows(4L).isNullAt(rows(4L).fieldIndex("surprisal_unat")))
    assert(rows(4L).isNullAt(rows(4L).fieldIndex("avg_surprisal")))
    // unfloored self-scoring never backs off (every observed trigram
    // has count >= 1): flat relative-frequency trigram scores
    val unfloored = TextAnalysis.trigramPerplexity(docs,
      minTrigramCount = 1L, minBigramCount = 1L).collect()
      .map(r => r.getLong(0) -> r).toMap
    val sBCA = unat(1.0 / 3)  // c3(b,c,a)=1 / c2(b,c)=3
    val sCAB = unat(1.0 / 1)  // c3(c,a,b)=1 / c2(c,a)=1
    assert(unfloored(1L).getAs[Long]("surprisal_unat") ===
      sTri + sBCA + sCAB + sTri)
    // full corpus: every doc has >= 3 tokens; deterministic re-run
    val corpus = TextAnalysis.trigramPerplexity(Tables.documents(spark, docDir))
    val all = corpus.collect()
    assert(all.length === 500)
    assert(all.forall(r => r.getAs[Long]("n_trigrams") > 0))
    val again = TextAnalysis.trigramPerplexity(Tables.documents(spark, docDir)).collect()
    assert(all.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("knPerplexity matches hand-computed interpolated Kneser-Ney") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a a"), (3L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.knPerplexity(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def snap(x: Double, s: Int) =
      BigDecimal.valueOf(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def unat(p: Double): Long =
      BigDecimal.valueOf(-math.log(p) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def avgU(sum: Long, n: Long): Long = (2 * sum + n) / (2 * n)
    // type table: (a,b):2 (b,a):1 (a,a):1, ntypes 3
    // hist: a -> c1 3, nfwd 2; b -> c1 1, nfwd 1
    // cont: a <- 2 types, b <- 1 type
    val d = 0.75
    // hand float path mirrors the operator's operation order exactly
    def kn(cb: Double, c1: Double, nfwd: Double, nrev: Double): Long =
      unat(math.max(cb - d, 0.0) / c1 + ((d * nfwd) / c1) * (nrev / 3.0))
    val sAB = kn(2, 3, 2, 1)
    val sBA = kn(1, 1, 1, 2)
    val sAA = kn(1, 3, 2, 2)
    val sum1 = sAB + sBA + sAB
    assert(rows(1L).getAs[Long]("n_bigrams") === 3L)
    assert(rows(1L).getAs[Long]("surprisal_unat") === sum1)
    assert(rows(1L).getAs[Long]("avg_surprisal_unat") === avgU(sum1, 3))
    assert(rows(1L).getAs[Double]("avg_surprisal") === snap(avgU(sum1, 3) / 1e6, 6))
    assert(rows(1L).getAs[Double]("ppl") ===
      snap(math.exp(snap(avgU(sum1, 3) / 1e6, 6)), 6))
    assert(rows(2L).getAs[Long]("surprisal_unat") === sAA)
    // no transitions → 0 count, NULL scores
    assert(rows(3L).getAs[Long]("n_bigrams") === 0L)
    assert(rows(3L).isNullAt(rows(3L).fieldIndex("surprisal_unat")))
    // the KN identity: discounted mass + redistributed continuation
    // mass sums to EXACTLY 1 per history over the continuation vocab
    assert(math.abs((math.max(2 - d, 0) + math.max(1 - d, 0)) / 3.0 +
      ((d * 2) / 3.0) * (2.0 / 3 + 1.0 / 3) - 1.0) < 1e-12)
    assert(math.abs(math.max(1 - d, 0) / 1.0 +
      ((d * 1) / 1.0) * (2.0 / 3 + 1.0 / 3) - 1.0) < 1e-12)
    // flooring: surviving model is {(a,b):2} alone (ntypes 1) — a
    // floored-out transition keeps only its continuation mass, and a
    // history absent from the model backs off to Pcont
    val fl = TextAnalysis.knPerplexity(docs, minBigramCount = 2L).collect()
      .map(r => r.getLong(0) -> r).toMap
    val sAAfl = unat(math.max(0.0 - d, 0.0) / 2.0 + ((d * 1) / 2.0) * (1.0 / 1))
    assert(fl(2L).getAs[Long]("surprisal_unat") === sAAfl)
    val sBAfl = unat(1.0 / 1)  // w1=b not a surviving history → Pcont(a) = 1/1 (unseen-cont fallback)
    val sABfl = unat(math.max(2.0 - d, 0.0) / 2.0 + ((d * 1) / 2.0) * (1.0 / 1))
    assert(fl(1L).getAs[Long]("surprisal_unat") === sABfl + sBAfl + sABfl)
    // KN orders the corpus differently from raw-frequency backoff:
    // both run, one row per doc, deterministic re-run
    val corpus = TextAnalysis.knPerplexity(Tables.documents(spark, docDir))
    val all = corpus.collect()
    assert(all.length === 500)
    assert(all.forall(r => r.getAs[Long]("n_bigrams") > 0))
    val again = TextAnalysis.knPerplexity(Tables.documents(spark, docDir)).collect()
    assert(all.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // serving from the persisted type-table artifact is bit-equal to
    // the self-trained form (the whole model derives from that table)
    val modelPath =
      tempRoot("knmodel").toString + "/model"
    TextAnalysis.knModel(Tables.documents(spark, docDir))
      .write.parquet(modelPath)
    val served = TextAnalysis.knAgainst(
      Tables.documents(spark, docDir), spark.read.parquet(modelPath)).collect()
    assert(served.map(_.toString).toSeq === all.map(_.toString).toSeq)
    // held-out scoring exercises all three fallbacks deterministically:
    // seen bigram (main branch), unseen HISTORY (pure Pcont), unseen
    // CONTINUATION (type-count-1) — the q_kn_holdout driver shape
    val train = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val test = Seq((10L, "a b"), (11L, "q a"), (12L, "a q"))
      .toDF("doc_id", "text")
    val held = TextAnalysis.knAgainst(test, TextAnalysis.knModel(train))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("surprisal_unat")).toMap
    assert(held(10L) === sAB)                       // seen: same model stats as self-trained doc1
    assert(held(11L) === unat(2.0 / 3))             // unseen history q → Pcont(a) = 2/3
    assert(held(12L) === unat(((d * 2) / 3.0) * (1.0 / 3)))
    //              unseen continuation q → numerator 0, Pcont = 1/ntypes
    // a mis-pointed empty artifact fails loudly
    val emptyModel = TextAnalysis.knModel(docs.limit(0))
    val ex = intercept[Exception] {
      TextAnalysis.knAgainst(docs, emptyModel).collect()
    }
    assert(ex.getMessage.contains("model is empty") ||
      Option(ex.getCause).exists(_.getMessage.contains("model is empty")))
  }

  test("knTrigramPerplexity matches a local two-level KN mirror; levels normalize") {
    import spark.implicits._
    def unat(p: Double): Long =
      BigDecimal.valueOf(-math.log(p) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val d = 0.75
    def localKn3(texts: Seq[(Long, String)]): Map[Long, Long] = {
      val tgs = texts.flatMap { case (id, t) =>
        val w = t.toLowerCase.split(" ", -1)
        if (w.length < 3) Seq.empty
        else (2 until w.length).map(i => (id, w(i - 2), w(i - 1), w(i)))
      }
      val t3 = tgs.groupBy(g => (g._2, g._3, g._4)).map { case (k, v) => k -> v.size.toLong }
      val c2h = t3.groupBy(k => (k._1._1, k._1._2)).map { case (k, m) => k -> m.values.sum }
      val nfwd3 = t3.groupBy(k => (k._1._1, k._1._2)).map { case (k, m) => k -> m.size.toLong }
      val m2 = t3.keys.groupBy(k => (k._2, k._3)).map { case (k, v) => k -> v.size.toLong }
      val sumn = m2.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
      val nfwd2 = m2.groupBy(_._1._1).map { case (k, m) => k -> m.size.toLong }
      val nrev1 = m2.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val nt1 = m2.size.toLong
      tgs.groupBy(_._1).map { case (id, trans) =>
        id -> trans.map { case (_, w1, w2, w3) =>
          val pk1 = nrev1(w3).toDouble / nt1
          val pk2 = math.max(m2((w2, w3)).toDouble - d, 0.0) / sumn(w2) +
            ((d * nfwd2(w2)) / sumn(w2)) * pk1
          unat(math.max(t3((w1, w2, w3)).toDouble - d, 0.0) / c2h((w1, w2)) +
            ((d * nfwd3((w1, w2))) / c2h((w1, w2))) * pk2)
        }.sum
      }
    }
    val docs = Seq(
      (1L, "a b c a b c a b d"), (2L, "b c a b c e"),
      (3L, "x y z x y q"), (4L, "k l")).toDF("doc_id", "text")
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val got = TextAnalysis.knTrigramPerplexity(docs).collect()
      .filter(!_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getAs[Long]("surprisal_unat")).toMap
    assert(got === localKn3(texts))
    // under-3-token docs carry zero trigrams and NULL scores
    val short = TextAnalysis.knTrigramPerplexity(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(short(4L).getAs[Long]("n_trigrams") === 0L)
    assert(short(4L).isNullAt(short(4L).fieldIndex("surprisal_unat")))
    // per-level normalization: for every history, discounted mass +
    // redistributed continuation mass sums to exactly 1 over the
    // level's support (the KN self-consistency at BOTH orders)
    locally {
      val tgs = texts.flatMap { case (_, t) =>
        val w = t.split(" ", -1)
        if (w.length < 3) Seq.empty
        else (2 until w.length).map(i => (w(i - 2), w(i - 1), w(i)))
      }
      val t3 = tgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val m2 = t3.keys.groupBy(k => (k._2, k._3)).map { case (k, v) => k -> v.size.toLong }
      val nrev1 = m2.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val nt1 = m2.size.toLong
      def pk1(w3: String) = nrev1(w3).toDouble / nt1
      def pk2(w2: String, w3: String) = {
        val sn = m2.filter(_._1._1 == w2).values.sum
        val nf = m2.count(_._1._1 == w2)
        math.max(m2((w2, w3)).toDouble - d, 0.0) / sn + ((d * nf) / sn) * pk1(w3)
      }
      // level 1 sums to 1 over the full continuation vocab
      val w3s = nrev1.keys.toSeq
      assert(math.abs(w3s.map(pk1).sum - 1.0) < 1e-9)
      // level 2: for each middle word, sum over the FULL vocab
      m2.keys.map(_._1).toSeq.distinct.foreach { w2 =>
        assert(math.abs(w3s.map(w3 =>
          if (m2.contains((w2, w3))) pk2(w2, w3)
          else {
            val sn = m2.filter(_._1._1 == w2).values.sum
            val nf = m2.count(_._1._1 == w2)
            ((d * nf).toDouble / sn) * pk1(w3)
          }).sum - 1.0) < 1e-9, s"level-2 mass for history '$w2'")
      }
    }
    // held-out scoring exercises the LEVEL cascade deterministically:
    // seen trigram (main), unseen trigram history (drop to the
    // continuation-bigram level), unseen middle word (drop to the
    // continuation unigram), unseen continuation (type-count-1) —
    // the q_kn3_holdout driver shape
    locally {
      val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
      val test = Seq((10L, "a b c"), (11L, "q b c"), (12L, "a q c"),
        (13L, "a b q")).toDF("doc_id", "text")
      val held = TextAnalysis.knTrigramAgainst(test, TextAnalysis.kn3Model(train))
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("surprisal_unat")).toMap
      val pk1c = 1.0 / 3                       // nrev1(c)=1, nt1=3
      val pk2bc = math.max(1 - d, 0.0) / 1 + ((d * 1) / 1.0) * pk1c
      assert(held(10L) ===
        unat(math.max(2 - d, 0.0) / 2 + ((d * 1) / 2.0) * pk2bc))
      assert(held(11L) === unat(pk2bc))        // unseen history (q,b)
      assert(held(12L) === unat(1.0 / 3))      // unseen middle q → pk1(c)
      val pk2bq = 0.0 / 1 + ((d * 1) / 1.0) * (1.0 / 3)  // unseen cont q
      assert(held(13L) === unat(0.0 / 2 + ((d * 1) / 2.0) * pk2bq))
    }
    // deterministic re-run on the corpus; every doc has >= 3 tokens
    val corpus = TextAnalysis.knTrigramPerplexity(Tables.documents(spark, docDir))
    val all = corpus.collect()
    assert(all.length === 500)
    assert(all.forall(r => r.getAs[Long]("n_trigrams") > 0))
    val again = TextAnalysis.knTrigramPerplexity(Tables.documents(spark, docDir)).collect()
    assert(all.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("mknPerplexity matches a local modified-KN mirror on both discount paths") {
    import spark.implicits._
    def unat(p: Double): Long =
      BigDecimal.valueOf(-math.log(p) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // independent mirror of the whole cascade (same double chain)
    def localMkn(texts: Seq[(Long, String)]): Map[Long, Long] = {
      val bgs = texts.flatMap { case (id, t) =>
        val w = t.toLowerCase.split(" ", -1)
        w.dropRight(1).zip(w.drop(1)).map(p => (id, p._1, p._2))
      }
      val bi = bgs.groupBy(b => (b._2, b._3)).map { case (k, vs) => k -> vs.size.toLong }
      val Seq(n1, n2, n3, n4) = Seq(1L, 2L, 3L, 4L).map(c => bi.values.count(_ == c).toLong)
      val (d1, d2, d3) =
        if (n1 == 0 || n2 == 0 || n3 == 0 || n4 == 0) (0.75, 0.75, 0.75)
        else {
          val y = n1.toDouble / (n1 + 2 * n2)
          val e1 = 1.0 - 2.0 * y * (n2.toDouble / n1)
          val e2 = 2.0 - 3.0 * y * (n3.toDouble / n2)
          val e3 = 3.0 - 4.0 * y * (n4.toDouble / n3)
          if (e1 < 0 || e1 > 1 || e2 < 0 || e2 > 2 || e3 < 0 || e3 > 3)
            (0.75, 0.75, 0.75)
          else (e1, e2, e3)
        }
      val c1 = bi.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
      def hK(w1: String, k: Long) = bi.count { case ((a, _), c) =>
        a == w1 && (if (k == 3) c >= 3 else c == k) }.toLong
      val nrev = bi.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
      val ntypes = bi.size.toLong
      def dOf(c: Long) = if (c == 1) d1 else if (c == 2) d2 else if (c >= 3) d3 else 0.0
      bgs.groupBy(_._1).map { case (id, trans) =>
        id -> trans.map { case (_, w1, w2) =>
          val cb = bi((w1, w2))
          val pc = nrev(w2).toDouble / ntypes
          val gam = (d1 * hK(w1, 1) + d2 * hK(w1, 2) + d3 * hK(w1, 3)) / c1(w1)
          unat(math.max(cb.toDouble - dOf(cb), 0.0) / c1(w1) + gam * pc)
        }.sum
      }
    }
    // ESTIMATED path: counts-of-counts shaped so all D land in range
    // (many singletons, a fat doubleton class)
    val est = Seq(
      (1L, "p q p q p q p q"), (2L, "r s x r s y r s"),
      (3L, "t u c t u d e f g h"), (4L, "k l m k l"),
      (5L, "n o n o a b i j")).toDF("doc_id", "text")
    val estTexts = est.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val got = TextAnalysis.mknPerplexity(est).collect()
      .filter(!_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getAs[Long]("surprisal_unat")).toMap
    assert(got === localMkn(estTexts))
    // FALLBACK path: no count-4 class → fixed 0.75 cascade (and then
    // modified KN must EQUAL plain KN at the same fixed discount,
    // because every history class gets the same D: γ reduces to
    // D·N1+(w1·)/c1)
    val fb = Seq((1L, "a b a b"), (2L, "a a"), (3L, "x")).toDF("doc_id", "text")
    val fbTexts = fb.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val gotFb = TextAnalysis.mknPerplexity(fb).collect()
      .filter(!_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getAs[Long]("surprisal_unat")).toMap
    assert(gotFb === localMkn(fbTexts))
    assert(TextAnalysis.mknPerplexity(fb).collect().map(_.toString).toSeq ===
      TextAnalysis.knPerplexity(fb).collect().map(_.toString).toSeq)
    // artifact serving is bit-equal to self-trained (same type table)
    val modelPath =
      tempRoot("mknmodel").toString + "/model"
    TextAnalysis.knModel(est).write.parquet(modelPath)
    assert(TextAnalysis.mknAgainst(est, spark.read.parquet(modelPath))
      .collect().map(_.toString).toSeq ===
      TextAnalysis.mknPerplexity(est).collect().map(_.toString).toSeq)
  }

  test("knModelIncremental equals a full retrain, through serving too") {
    import spark.implicits._
    val prev = Seq(
      (1L, "a b a b"), (2L, "a a"), (3L, "stale doc text here"))
      .toDF("doc_id", "text")
    // adds doc 4, edits doc 2, removes doc 3
    val now = Seq(
      (1L, "a b a b"), (2L, "a a b"), (4L, "b a c a"))
      .toDF("doc_id", "text")
    val maintained = TextAnalysis.knModelIncremental(
      TextAnalysis.knModel(prev), prev, now)
    val retrained = TextAnalysis.knModel(now)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(maintained) === rows(retrained))
    // ...and scoring through the maintained model agrees bit-for-bit
    assert(TextAnalysis.knAgainst(now, maintained)
      .collect().map(_.toString).toSeq ===
      TextAnalysis.knPerplexity(now).collect().map(_.toString).toSeq)
    // a no-op delta reproduces the prior model exactly
    assert(rows(TextAnalysis.knModelIncremental(
      TextAnalysis.knModel(now), now, now)) === rows(retrained))
    // a type whose count reaches zero drops (no zero-count rows)
    assert(maintained.filter(col("cb") <= 0).count() === 0)
  }

  test("bpeTrain reproduces an independent greedy BPE reference") {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val (merges, segments) = operators.Bpe.bpeTrain(docs, nMerges = 8, vocabSize = 100)

    // independent reference: greedy left-to-right BPE over word counts
    def refBpe(counts: Seq[(String, Long)], n: Int): Seq[(String, String)] = {
      var words = counts.map { case (w, c) => (w.map(_.toString).toVector, c) }
      var out = Vector.empty[(String, String)]
      for (_ <- 1 to n) {
        val pairCounts = words.flatMap { case (syms, c) =>
          syms.sliding(2).collect { case Vector(a, b) => (a, b) -> c }
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        if (pairCounts.nonEmpty) {
          val (pair, _) = pairCounts.sortBy { case ((a, b), c) => (-c, a, b) }.head
          out :+= pair
          words = words.map { case (syms, c) =>
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
                buf += pair._1 + pair._2; i += 2
              } else { buf += syms(i); i += 1 }
            }
            (buf.toVector, c)
          }
        }
      }
      out
    }
    val counts = text.split(" ").groupBy(identity).view
      .mapValues(_.length.toLong).toSeq
    val expected = refBpe(counts, 8)
    val got = merges.collect()
      .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
    assert(got === expected)
    // segmentation round-trip: symbols concatenate back to the word
    segments.collect().foreach { r =>
      assert(r.getAs[Seq[String]]("syms").mkString === r.getAs[String]("word"))
    }
  }

  test("bpeTokenize counts subword tokens via the segmentation join") {
    val docs = Tables.documents(spark, docDir)
    val (_, seg) = operators.Bpe.bpeTrain(docs, nMerges = 12, vocabSize = 2000)
    val out = operators.Bpe.bpeTokenize(docs, seg).collect()
    assert(out.length === 500)
    out.foreach { r =>
      val words = r.getAs[Long]("n_words")
      val bpe = r.getAs[Long]("n_bpe_tokens")
      val chars = r.getAs[Long]("n_word_chars")
      // merges can only shorten the character segmentation, and a token
      // is at least one word's worth
      assert(bpe >= words && bpe <= chars, s"words=$words bpe=$bpe chars=$chars")
    }
    // more merges ⇒ no doc gets MORE tokens (monotone compression)
    val (_, seg2) = operators.Bpe.bpeTrain(docs, nMerges = 30, vocabSize = 2000)
    val more = operators.Bpe.bpeTokenize(docs, seg2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    out.foreach { r =>
      assert(more(r.getAs[Long]("doc_id")) <= r.getAs[Long]("n_bpe_tokens"))
    }
  }

  test("indexed BPE tokenize serves bit-equal rows from the persisted artifact") {
    val docs = Tables.documents(spark, docDir)
    val online = {
      val (_, seg) = operators.Bpe.bpeTrain(docs, nMerges = 12, vocabSize = 2000)
      operators.Bpe.bpeTokenize(docs, seg).collect()
    }
    // the shared artifact: trained once, persisted, read back as parquet
    val idx = SparkEntry.bpeIndexShared(spark, docDir)
    assert(idx.schema.fieldNames.toSet === Set("word", "n_sub"))
    val served = operators.Bpe.tokenizeWithIndex(docs, idx).collect()
    assert(served.map(_.toString).toSeq === online.map(_.toString).toSeq)
    // a second call reuses the same artifact path (fingerprint hit),
    // and the serving plan reads files — no merge loop in it
    val again = SparkEntry.bpeIndexShared(spark, docDir)
    assert(again.queryExecution.executedPlan.toString.contains("FileScan"))
  }

  test("wordpieceTrain reproduces an independent likelihood-gain reference") {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val (merges, segments) =
      operators.Wordpiece.wordpieceTrain(docs, nMerges = 8, vocabSize = 100)

    // independent reference: greedy WordPiece over word counts —
    // score = cnt(ab)·10^12 div (cnt(a)·cnt(b)), "##" continuations
    def refWp(counts: Seq[(String, Long)], n: Int): Seq[(String, String, String)] = {
      var words = counts.map { case (w, c) =>
        (w.zipWithIndex.map { case (ch, i) =>
          if (i == 0) ch.toString else "##" + ch
        }.toVector, c)
      }
      var out = Vector.empty[(String, String, String)]
      for (_ <- 1 to n) {
        val symCounts = words.flatMap { case (syms, c) => syms.map(_ -> c) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val pairCounts = words.flatMap { case (syms, c) =>
          syms.sliding(2).collect { case Vector(a, b) => (a, b) -> c }
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        if (pairCounts.nonEmpty) {
          val scored = pairCounts.map { case ((a, b), c) =>
            val score = (BigInt(c) * BigInt(10).pow(12) /
              (BigInt(symCounts(a)) * BigInt(symCounts(b)))).toLong
            ((a, b), c, score)
          }
          val ((a, b), _, _) = scored
            .sortBy { case ((x, y), c, s) => (-s, -c, x, y) }.head
          val m = a + b.stripPrefix("##")
          out :+= ((a, b, m))
          words = words.map { case (syms, c) =>
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                buf += m; i += 2
              } else { buf += syms(i); i += 1 }
            }
            (buf.toVector, c)
          }
        }
      }
      out
    }
    val counts = text.split(" ").groupBy(identity).view
      .mapValues(_.length.toLong).toSeq
    val expected = refWp(counts, 8)
    val got = merges.collect().map(r => (r.getAs[String]("left"),
      r.getAs[String]("right"), r.getAs[String]("merged"))).toSeq
    assert(got === expected)
    // WordPiece picks a DIFFERENT sequence than BPE on this corpus
    // (likelihood gain prefers rare-denominator pairs over raw counts)
    val bpeGot = operators.Bpe.bpeMerges(docs, nMerges = 8, vocabSize = 100)
      .collect().map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
    assert(got.map(t => (t._1, t._2)) !== bpeGot)
    // segmentation round-trip: stripping "##" concatenates to the
    // word; only the first piece is bare, every continuation carries
    // the prefix
    segments.collect().foreach { r =>
      val syms = r.getAs[scala.collection.Seq[String]]("syms")
      assert(syms.map(_.stripPrefix("##")).mkString === r.getAs[String]("word"))
      assert(!syms.head.startsWith("##"))
      syms.drop(1).foreach(s => assert(s.startsWith("##"), s"bare continuation $s"))
    }
  }

  test("wordpiece tokenize: OOV maps to one [UNK] piece; indexed serves bit-equal") {
    import spark.implicits._
    val docs = Tables.documents(spark, docDir)
    val online = {
      val (_, seg) = operators.Wordpiece.wordpieceTrain(docs, nMerges = 12, vocabSize = 2000)
      operators.Wordpiece.wordpieceTokenize(docs, seg).collect()
    }
    online.foreach { r =>
      val words = r.getAs[Long]("n_words")
      val pieces = r.getAs[Long]("n_pieces")
      assert(pieces >= words && pieces <= r.getAs[Long]("n_word_chars"))
    }
    val idx = SparkEntry.wordpieceIndexShared(spark, docDir)
    assert(idx.schema.fieldNames.toSet === Set("word", "n_sub"))
    val served = operators.Wordpiece.tokenizeWithIndex(docs, idx).collect()
    assert(served.map(_.toString).toSeq === online.map(_.toString).toSeq)
    // OOV rule: a probe doc of out-of-vocabulary words counts one
    // [UNK] piece per word
    val probe = Seq((9000L, "zzzzqq xxxxyy")).toDF("doc_id", "text")
    val oov = operators.Wordpiece.tokenizeWithIndex(probe, idx).collect().head
    assert(oov.getAs[Long]("n_words") === 2L)
    assert(oov.getAs[Long]("n_pieces") === 2L)
  }

  test("annRecall reports per-method recall@k against the exact baseline") {
    val emb = Tables.embeddings(spark, docDir)
    val all = Seq("lsh", "ivf", "sq", "pq", "ivf_sq", "ivf_pq", "opq")
    val rows = Similarity.annRecall(emb, methods = all).collect()
    info(rows.map(r => s"${r.getAs[String]("method")}=${r.getAs[Double]("mean_recall")}")
      .mkString(" "))
    assert(rows.map(_.getAs[String]("method")).toSeq === all.sorted)
    rows.foreach { r =>
      val mean = r.getAs[Double]("mean_recall")
      assert(mean >= 0.0 && mean <= 1.0)
      assert(r.getAs[Double]("min_recall") <= mean)
      assert(r.getAs[Long]("n_queries") === 10L)
    }
    val byMethod = rows.map(r => r.getAs[String]("method") -> r.getAs[Double]("mean_recall")).toMap
    // rerank-everything families sit near exact; candidate-pruning ones
    // match their standalone spec floors
    assert(byMethod("sq") > 0.9, s"sq=${byMethod("sq")}")
    assert(byMethod("pq") > 0.3, s"pq=${byMethod("pq")}")
    assert(byMethod("ivf") > 0.3, s"ivf=${byMethod("ivf")}")
    // deterministic meter: bit-identical on re-run
    val again = Similarity.annRecall(emb, methods = all).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // artifact-served sq/pq (the driver entry's shape) are bit-equal
    // to the inline trainers, so the meter rows are identical
    val served = Similarity.annRecall(emb, methods = all, impls = Map(
      "ivf" -> (() => {
        val (assign, cents) = SparkEntry.ivfIndexShared(spark, docDir)
        Similarity.embedIvfTopKFromIndex(assign, cents, emb)
      }),
      "sq" -> (() => Similarity.embedSqTopKFromIndex(
        SparkEntry.sqIndexShared(spark, docDir), emb)),
      "pq" -> (() => {
        val (codes, cents) = SparkEntry.pqIndexShared(spark, docDir)
        Similarity.embedPqTopKFromIndex(codes, cents, emb)
      }))).collect()
    assert(served.map(_.toString).toSeq === rows.map(_.toString).toSeq)
    // unknown method name fails loudly
    intercept[IllegalArgumentException] {
      Similarity.annRecall(emb, methods = Seq("hnsw"))
    }
  }

  test("annMetrics matches an independent local MRR/NDCG computation") {
    import spark.implicits._
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1.0f, 0.0f),
      1L -> Array(0.0f, 1.0f),
      2L -> Array(0.95f, 0.3f),
      3L -> Array(0.8f, 0.6f),
      4L -> Array(0.6f, 0.8f),
      5L -> Array(0.3f, 0.95f))
    val emb = vecs.toDF("vec_id", "embedding")
    val k = 3
    val nQ = 2
    def snap6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def snap4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val vmap = vecs.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      snap6(d / (math.sqrt(ad.map(x => x * x).sum)
        * math.sqrt(bd.map(x => x * x).sum)))
    }
    // independent exact ranking (embedTopK semantics: snap6 cosine,
    // ties on id, self excluded)
    val exactLocal: Map[Long, Seq[Long]] = (0L until nQ).map { q =>
      q -> vecs.map(_._1).filter(_ != q)
        .map(id => (id, cos(vmap(q), vmap(id))))
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    }.toMap
    // hand-built approximate rankings: q0 = exact with top-2 swapped;
    // q1 = exact MINUS its rank-1 neighbor, one non-exact filler at
    // the tail — exercises both imperfect order and a full miss
    val approx: Map[Long, Seq[Long]] = Map(
      0L -> { val e = exactLocal(0L); Seq(e(1), e(0), e(2)) },
      1L -> { val e = exactLocal(1L)
        e.drop(1) :+ vecs.map(_._1)
          .find(id => id != 1L && !e.contains(id)).get })
    val approxDf = approx.toSeq.flatMap { case (q, ids) =>
      ids.zipWithIndex.map { case (id, i) => (q, id, 0.0, i + 1) }
    }.toDF("query_id", "neighbor_id", "cos_sim", "rank")
    val out = Similarity.annMetrics(emb, nQueries = nQ, k = k,
      methods = Seq("fake"), impls = Map("fake" -> (() => approxDf)))
      .collect()
    assert(out.length === 1)
    // independent mirror of the integer-micro formulas
    def discMicro(j: Int): Long = java.math.BigDecimal
      .valueOf(1.0 / (math.log(j + 1.0) / math.log(2.0)))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
    val per = (0L until nQ).map { q =>
      val e = exactLocal(q); val a = approx(q)
      val er = e.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      val rr = a.zipWithIndex.collectFirst {
        case (id, i) if er.get(id).contains(1) =>
          (2000000L + (i + 1)) / (2L * (i + 1))
      }.getOrElse(0L)
      val dcg = a.zipWithIndex.collect {
        case (id, i) if er.contains(id) =>
          (k + 1 - er(id)).toLong * discMicro(i + 1)
      }.sum
      val idcg = (1 to e.length).map(j => (k + 1 - j).toLong * discMicro(j)).sum
      (rr, snap6(dcg.toDouble / idcg))
    }
    val row = out.head
    assert(row.getAs[String]("method") === "fake")
    assert(row.getAs[Long]("n_queries") === nQ.toLong)
    assert(row.getAs[Double]("mean_mrr")
      === snap4(per.map(_._1).sum.toDouble / (nQ * 1e6)))
    assert(row.getAs[Double]("mean_ndcg")
      === snap4(snap6(per.map(_._2).sum) / nQ))
    assert(row.getAs[Double]("min_ndcg") === snap4(per.map(_._2).min))
    // sanity on the planted shape: q0's swap dents NDCG but not to 0,
    // and the missed rank-1 neighbor zeroes q1's RR contribution
    assert(row.getAs[Double]("mean_mrr") === 0.25)
    assert(row.getAs[Double]("mean_ndcg") < 1.0
      && row.getAs[Double]("mean_ndcg") > 0.5)
  }

  test("annMetrics: exact ranking scores 1.0; the six families report sane ranges") {
    val emb = Tables.embeddings(spark, docDir)
    val ex = Similarity.annMetrics(emb, methods = Seq("exact"),
      impls = Map("exact" -> (() => Similarity.embedTopK(emb)))).collect().head
    assert(ex.getAs[Double]("mean_mrr") === 1.0)
    assert(ex.getAs[Double]("mean_ndcg") === 1.0)
    assert(ex.getAs[Double]("min_ndcg") === 1.0)
    val all = Seq("lsh", "ivf", "sq", "pq", "ivf_sq", "ivf_pq", "opq")
    val rows = Similarity.annMetrics(emb, methods = all).collect()
    info(rows.map(r => s"${r.getAs[String]("method")}:" +
      s" mrr=${r.getAs[Double]("mean_mrr")} ndcg=${r.getAs[Double]("mean_ndcg")}")
      .mkString(" "))
    assert(rows.map(_.getAs[String]("method")).toSeq === all.sorted)
    rows.foreach { r =>
      Seq("mean_mrr", "mean_ndcg", "min_ndcg").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v out of range")
      }
      assert(r.getAs[Double]("min_ndcg") <= r.getAs[Double]("mean_ndcg"))
      assert(r.getAs[Long]("n_queries") === 10L)
    }
    // the rerank-everything family sits near exact in ORDER quality too
    val byM = rows.map(r =>
      r.getAs[String]("method") -> r.getAs[Double]("mean_ndcg")).toMap
    assert(byM("sq") > 0.9, s"sq ndcg=${byM("sq")}")
    // deterministic meter: bit-identical on re-run
    val again = Similarity.annMetrics(emb, methods = all).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("ivfTuning sweeps nProbe from one trained index; arithmetic matches a local recompute") {
    val emb = Tables.embeddings(spark, docDir)
    val probes = Seq(1, 2, 4, 8)
    val rows = Similarity.ivfTuning(emb, probes = probes).collect()
    info(rows.map(r => s"p=${r.getAs[Int]("n_probe")}:" +
      s" recall=${r.getAs[Double]("mean_recall")}" +
      s" frac=${r.getAs[Double]("candidate_frac")}").mkString(" "))
    assert(rows.map(_.getAs[Int]("n_probe")).toSeq === probes)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_queries") === 10L)
      val mean = r.getAs[Double]("mean_recall")
      assert(mean >= 0.0 && mean <= 1.0)
      assert(r.getAs[Double]("min_recall") <= mean)
      val frac = r.getAs[Double]("candidate_frac")
      assert(frac > 0.0 && frac <= 1.0)
    }
    // cost grows strictly with probes; recall does not fall end to end
    val cand = rows.map(_.getAs[Long]("candidates_scanned")).toSeq
    assert(cand === cand.sorted && cand.distinct === cand,
      s"candidates not strictly increasing: $cand")
    assert(rows.last.getAs[Double]("mean_recall") >=
      rows.head.getAs[Double]("mean_recall"))
    // candidate_frac is the exact normalization of candidates_scanned
    val n = emb.count()
    rows.foreach { r =>
      val expected = BigDecimal(r.getAs[Long]("candidates_scanned").toDouble
        / (10.0 * (n - 1))).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      assert(BigDecimal(r.getAs[Double]("candidate_frac")) === expected)
    }
    // recall pin: recompute the sweep's recall from the PROVEN probe
    // path (embedIvfTopKFromIndex over an independently trained index;
    // training is deterministic at fixed partitioning, as the re-run
    // assertions across the ANN suite establish) and the exact
    // baseline — the tuning-specific arithmetic must reproduce it
    val (assignPin, centsPin) = Similarity.ivfIndex(emb)
    val aCk = assignPin.localCheckpoint()
    val cCk = centsPin.localCheckpoint()
    val exactPairs = Similarity.embedTopK(emb)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nExact = exactPairs.groupBy(_._1).map { case (q, s) => q -> s.size }
    probes.zip(rows).foreach { case (p, r) =>
      val approxPairs = Similarity
        .embedIvfTopKFromIndex(aCk, cCk, emb, nProbe = p)
        .select("query_id", "neighbor_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      val recalls = (0L until 10L).map { q =>
        approxPairs.count(t => t._1 == q && exactPairs(t)).toDouble / nExact(q)
      }
      val local = BigDecimal(
        BigDecimal(recalls.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble / 10.0).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(math.abs(r.getAs[Double]("mean_recall") - local) <= 2e-4,
        s"p=$p tuning=${r.getAs[Double]("mean_recall")} local=$local")
    }
    // invalid sweeps fail loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfTuning(emb, probes = Seq(4, 2))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTuning(emb, probes = Seq(0, 2))
    }
    // deterministic: bit-identical on re-run
    val again = Similarity.ivfTuning(emb, probes = probes).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("flagContaminatedSemantic flags embedding-space matches of a planted eval set") {
    val emb = Tables.embeddings(spark, docDir)
    // eval = exact copies of train vectors 100..102 under fresh ids: the
    // paraphrase-contamination stand-in an n-gram check cannot see
    val eval = emb.filter(col("vec_id").between(100, 102))
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val out = Curation.flagContaminatedSemantic(emb, eval)
    val rows = out.collect()
    assert(rows.length === emb.count())
    val flagged = rows.filter(_.getAs[Boolean]("contaminated"))
    val byId = flagged.map(r => r.getAs[Long]("vec_id") -> r).toMap
    // every planted source vector is flagged, pointing at its copy
    Seq(100L, 101L, 102L).foreach { id =>
      assert(byId.contains(id), s"vec $id not flagged")
      assert(byId(id).getAs[Double]("max_cos") >= 0.99)
      assert(byId(id).getAs[Long]("nearest_eval") === id + 10000)
    }
    // clean rows carry zero hits and NULL cos/nearest
    rows.filterNot(_.getAs[Boolean]("contaminated")).take(5).foreach { r =>
      assert(r.getAs[Long]("n_eval_hits") === 0L)
      assert(r.isNullAt(r.fieldIndex("max_cos")))
    }
    // the default 0.9 threshold keeps unrelated vectors clean
    assert(flagged.length < rows.length / 10)
  }

  test("flagContaminated flags exactly the docs sharing benchmark n-grams") {
    val docs = Tables.documents(spark, docDir)
    val out = Curation.flagContaminated(
      docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25), n = 5).collect()
    assert(out.length === 475) // one row per train doc, hits or not
    assert(out.exists(_.getAs[Boolean]("contaminated")))
    assert(out.exists(!_.getAs[Boolean]("contaminated")))
    assert(out.forall(r =>
      (r.getAs[Long]("n_contaminated_grams") > 0) == r.getAs[Boolean]("contaminated")))
  }

  test("contaminationOverlap grades per-doc overlap against a local mirror") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // contains both benchmark 5-grams (6 words → 2 grams, 2 hits)
      (10L, "alpha beta gamma delta epsilon zeta"),
      // one of its three grams is a benchmark gram
      (11L, "x alpha beta gamma delta epsilon y"),
      // no overlap
      (12L, "one two three four five six"),
      // too short for any 5-gram
      (13L, "tiny doc")).toDF("doc_id", "text")
    val out = Curation.contaminationOverlap(docs, bench, n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      10L -> ((2L, 2L, 1000000L)),
      11L -> ((3L, 1L, 333333L)), // half-up of 1/3 micro
      12L -> ((2L, 0L, 0L)),
      13L -> ((0L, 0L, 0L))))
    // consistency with the binary flag on the shared fixture
    val all = Tables.documents(spark, docDir)
    val graded = Curation.contaminationOverlap(
      all.filter(col("doc_id") >= 25), all.filter(col("doc_id") < 25), n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val flags = Curation.flagContaminated(
      all.filter(col("doc_id") >= 25), all.filter(col("doc_id") < 25), n = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated")).toMap
    assert(graded.keySet === flags.keySet)
    graded.foreach { case (id, ov) => assert((ov > 0) === flags(id)) }
  }

  test("langId predicts deterministically with scores present") {
    val df = TextAnalysis.langId(Tables.documents(spark, docDir))
    val rows = df.collect()
    assert(rows.length === 500)
    assert(rows.forall(r => Set("en", "de", "es", "fr", "zh")(r.getAs[String]("predicted"))))
  }

  test("qualityScore ratios are in [0,1] and keep is consistent") {
    val rows = TextAnalysis.qualityScore(Tables.documents(spark, docDir)).collect()
    rows.foreach { r =>
      val alpha = r.getAs[Double]("alpha_ratio")
      val stop = r.getAs[Double]("stopword_ratio")
      assert(alpha >= 0 && alpha <= 1)
      assert(stop >= 0 && stop <= 1)
    }
  }

  test("perplexityScore: rare-token docs score higher surprisal") {
    val rows = TextAnalysis.perplexityScore(Tables.documents(spark, docDir)).collect()
    assert(rows.length === 500)
    val scores = rows.map(_.getAs[Double]("avg_surprisal"))
    assert(scores.forall(s => s > 0 && s < 20))
    assert(scores.distinct.length > 100) // actually discriminates
  }

  test("classifierScore is deterministic with exact integer margins") {
    val docs = Tables.documents(spark, docDir)
    val rows = TextAnalysis.classifierScore(docs).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s > 0.0 && s < 1.0)
      assert(r.getAs[Boolean]("keep") === (r.getAs[Long]("margin") > 0))
    }
    // both keep decisions occur on real data
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
    val again = TextAnalysis.classifierScore(docs).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("repetitionScore flags degenerate repeated-ngram text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "a perfectly ordinary sentence with distinct words here")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionScore(docs).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("flagged"))       // one bigram dominates
    assert(!byId(2L).getAs[Boolean]("flagged"))
    assert(byId(1L).getAs[Double]("top_fraction") === 1.0)
    // corpus run: fractions in (0, 1], totals positive
    val corpus = TextAnalysis.repetitionScore(Tables.documents(spark, docDir)).collect()
    assert(corpus.length === 500)
    assert(corpus.forall(r => r.getAs[Double]("top_fraction") > 0
      && r.getAs[Double]("top_fraction") <= 1.0))
  }

  test("tokenCount counts alpha/digit runs and symbols") {
    import spark.implicits._
    val df = Seq((1L, "abc 12 d!e")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCount(df).collect().head
    assert(r.getAs[Int]("n_tokens") === 5) // abc, 12, d, !, e
  }

  test("docFingerprint is stable and bounded by shingle count") {
    val docs = Tables.documents(spark, docDir)
    val rows = TextAnalysis.docFingerprint(docs).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("n_fingerprints") > 0))
  }

  test("chunkDedup assigns ownership to the first occurrence, corpus-wide") {
    import spark.implicits._
    val ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val other = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    val docs = Seq(
      (1L, s"$ten $other"),        // owns both chunks
      (2L, s"$other $ten"),        // both chunks are dups of doc 1
      (3L, s"$ten $ten"),          // chunk 1 dups doc 1, chunk 2 dups chunk 1
      (4L, "short text only"),     // < 10 words: no full chunk, no row
      (5L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 tail words ignored")) // partial tail dropped
      .toDF("doc_id", "text")
    val rows = Dedup.chunkDedup(docs).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(!byId.contains(4L))
    assert(byId(1L).getAs[Long]("n_dup_chunks") === 0L)
    assert(byId(2L).getAs[Long]("n_chunks") === 2L)
    assert(byId(2L).getAs[Long]("n_dup_chunks") === 2L)
    assert(byId(2L).getAs[Double]("dup_ratio") === 1.0)
    assert(byId(3L).getAs[Long]("n_dup_chunks") === 2L)
    assert(byId(5L).getAs[Long]("n_chunks") === 1L) // tail < 10 words dropped
    assert(byId(5L).getAs[Long]("n_dup_chunks") === 0L)
    // corpus run is deterministic across partitionings
    val corpus = Tables.documents(spark, docDir)
    val a = Dedup.chunkDedup(corpus).collect()
    val b = Dedup.chunkDedup(corpus.repartition(13)).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("tfidfTopTerms ranks doc-distinctive terms first, deterministically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared shared shared zebra"),
      (2L, "shared shared shared"),
      (3L, "shared quokka quokka")).toDF("doc_id", "text")
    val rows = TextAnalysis.tfidfTopTerms(docs, k = 2).collect()
    val top = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getLong(0) -> r.getAs[String]("term")).toMap
    // the term unique to each doc beats the corpus-wide one
    assert(top(1L) === "zebra")
    assert(top(3L) === "quokka")
    // 'shared' appears in all 3 docs → idf = ln(1) = 0 → tfidf 0
    assert(rows.filter(r => r.getAs[String]("term") == "shared")
      .forall(_.getAs[Double]("tfidf") === 0.0))
    // ranks are 1..k, contiguous per doc
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rs.length).toSeq)
    }
  }

  test("topTerms returns the k most document-frequent terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta"),
      (3L, "alpha alpha alpha")).toDF("doc_id", "text") // repeats count once per doc
    val rows = TextAnalysis.topTerms(docs, k = 2).collect()
    assert(rows.map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_freq"))).toSeq ===
      Seq(("alpha", 3L), ("beta", 2L)))
  }

  test("corpusStats profiles token counts per source") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "a b c d e", "s1"), (3L, "xyz", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val rows = TextAnalysis.corpusStats(docs).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("s1", "s2")) // ordered
    val s1 = rows(0)
    assert(s1.getAs[Long]("n_docs") === 2L)
    assert(s1.getAs[Long]("total_tokens") === 8L)
    assert(s1.getAs[Int]("min_tokens") === 3)
    assert(s1.getAs[Int]("max_tokens") === 5)
    assert(s1.getAs[Double]("p50_tokens") === 4.0) // midpoint of 3 and 5
    assert(s1.getAs[Double]("avg_chars") === 7.0)  // (5 + 9) / 2
    assert(rows(1).getAs[Long]("n_docs") === 1L)
  }

  test("vocabStats computes type-token ratio per source") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b", "s1"),      // 4 tokens, 2 terms
      (2L, "a c", "s1"),          // s1 total: 6 tokens, 3 terms
      (3L, "x x x x", "s2"))      // 4 tokens, 1 term
      .toDF("doc_id", "text", "source")
    val rows = TextAnalysis.vocabStats(docs).collect()
    val s1 = rows.find(_.getString(0) == "s1").get
    assert(s1.getAs[Long]("n_tokens") === 6L)
    assert(s1.getAs[Long]("n_terms") === 3L)
    assert(s1.getAs[Double]("type_token_ratio") === 0.5)
    val s2 = rows.find(_.getString(0) == "s2").get
    assert(s2.getAs[Double]("type_token_ratio") === 0.25)
  }

  test("curationPipeline assigns first-fail reasons in precedence order") {
    import spark.implicits._
    val en10 = "the and of to a in is you that it" // 10 words, all stopwords
    val docs = Seq(
      (1L, en10 + " extra words here", "s1"),             // keeps
      (2L, "der die das und ist nicht mit ein ich zu " +
           "der die das und ist nicht", "s1"),            // german -> lang
      (3L, "the and", "s1"),                              // too short -> length
      (4L, ("rep rep " * 40) + en10, "s1"),               // repeated bigram -> repetition
      (5L, en10 + " extra words here", "s1"))             // dup of 1 -> duplicate
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("xx")) // metadata column langId carries through
    val rows = Curation.curationPipeline(docs, minTokens = 5, maxTokens = 500)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("keep"), r.getAs[String]("reason"))).toMap
    assert(rows(1L) === ((true, null)))
    assert(rows(2L) === ((false, "lang")))
    assert(rows(3L) === ((false, "length")))
    assert(rows(4L) === ((false, "repetition")))
    assert(rows(5L) === ((false, "duplicate")))
  }

  test("qualitySample keeps docs with probability equal to their score") {
    val docs = Tables.documents(spark, docDir)
    val rows = Curation.qualitySample(docs).collect()
    assert(rows.length === docs.count())
    // the coin flip is the documented md5-prefix uniform vs the score
    rows.foreach { r =>
      val u = BigInt(graft.functions.BottomKBuffer
        .md5Hex(s"qsample-v1:${r.getLong(0)}").take(8), 16).toDouble / 4294967296.0
      assert(r.getAs[Boolean]("kept") === (u < r.getAs[Double]("score")))
    }
    // deterministic across runs
    val again = Curation.qualitySample(docs).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("minhashCalibration bounds sketch error on surviving pairs") {
    val docs = Tables.documents(spark, docDir)
    val rows = Dedup.minhashCalibration(docs).collect()
    assert(rows.nonEmpty)
    // pairs are SELECTED by signature agreement, so estimates near the
    // threshold are upward-biased (that is what the report exposes);
    // individual deviation stays well under the full range and the
    // mean stays near the multi-sigma band of a 64-hash sketch
    val errs = rows.map(_.getAs[Double]("err"))
    assert(errs.max < 0.45, s"max err ${errs.max}")
    assert(errs.sum / errs.length < 0.15, s"mean err ${errs.sum / errs.length}")
    // every surviving pair's estimate honors the LSH threshold
    assert(rows.forall(_.getAs[Double]("est_jaccard") >= 0.5))
    // exact values are genuine jaccards
    rows.foreach { r =>
      val e = r.getAs[Double]("exact_jaccard")
      assert(e >= 0.0 && e <= 1.0)
    }
  }

  test("incremental minhash equals the cross-group subset of a full run") {
    val docs = Tables.documents(spark, docDir)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val incremental = Dedup.minhashPairsAgainst(
        batch, Dedup.minhashSignatures(corpus))
      .collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))) // (corpus, new, j)
      .toSet
    // full-corpus run restricted to pairs crossing the split: doc_a <
    // doc_b and the split is by id, so doc_a is the corpus side
    val cross = Dedup.minhashPairs(docs).collect()
      .filter(r => r.getLong(0) < 400 && r.getLong(1) >= 400)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(incremental === cross)
  }

  test("semantic survivors drop exactly the non-representative neardup docs") {
    val docs = Tables.documents(spark, docDir)
    val emb = Tables.embeddings(spark, docDir)
    val pairs = Similarity.embedNearDupPairs(emb, threshold = 0.35,
        planes = 8, tables = 16)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val survivors = Dedup.dedupSurvivors(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = Dedup.duplicateLabels(pairs)
      .filter(col("id") =!= col("label"))
      .collect().map(_.getLong(0)).toSet
    assert(survivors.size + dropped.size === docs.count())
    assert(survivors.intersect(dropped).isEmpty)
    // every cluster representative survives
    val reps = Dedup.duplicateLabels(pairs)
      .select("label").distinct().collect().map(_.getLong(0)).toSet
    assert(reps.subsetOf(survivors))
  }

  test("clusterQuality summarizes score and language per semantic cluster") {
    val emb = Tables.embeddings(spark, docDir)
    val docs = Tables.documents(spark, docDir)
    val rows = Similarity.clusterQuality(emb, docs, nCentroids = 8, lloydIters = 1)
      .collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    rows.foreach { r =>
      assert(r.getAs[Double]("dominant_share") > 0.0 &&
        r.getAs[Double]("dominant_share") <= 1.0)
      assert(r.getAs[Double]("mean_score") >= 0.0 &&
        r.getAs[Double]("mean_score") <= 1.0)
      assert(Seq("en", "de", "es", "fr", "zh").contains(
        r.getAs[String]("dominant_lang")))
    }
    // deterministic across runs
    val again = Similarity.clusterQuality(emb, docs, nCentroids = 8, lloydIters = 1)
      .collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("shardAssign gives every doc a shard and a dense within-shard rank") {
    val docs = Tables.documents(spark, docDir)
    val rows = Curation.shardAssign(docs, nShards = 4).collect()
    assert(rows.length === docs.count())
    // shards are 0..3 and positions are dense 1..|shard|
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (s, rs) =>
      assert(s >= 0 && s < 4)
      assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq === (1 to rs.length).toSeq)
    }
    // deterministic across runs and partitionings
    val again = Curation.shardAssign(docs.repartition(7), nShards = 4)
      .orderBy("doc_id").collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("embedClusterStats partitions the corpus into coherent clusters") {
    val emb = Tables.embeddings(spark, docDir)
    val rows = Similarity.embedClusterStats(emb, nCentroids = 8, lloydIters = 1).collect()
    // every vector lands in exactly one cluster
    assert(rows.map(_.getAs[Long]("n_vectors")).sum === emb.count())
    // exemplar is a member id, mean cosine is a valid cosine
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_cos") <= 1.000001)
      assert(r.getAs[Double]("mean_cos") >= -1.000001)
    }
    // deterministic: hash-seeded centroids, no RNG
    val again = Similarity.embedClusterStats(emb, nCentroids = 8, lloydIters = 1).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("flagContaminatedBloom is bit-equal to the exact join and actually prunes") {
    import spark.implicits._
    val docs = Tables.documents(spark, docDir)
    val train = docs.filter(col("doc_id") >= 25)
    val bench = docs.filter(col("doc_id") < 25)
    val exact = Curation.flagContaminated(train, bench, n = 5).collect().map(_.toString).toSeq
    val bloomed = Curation.flagContaminatedBloom(train, bench, n = 5).collect().map(_.toString).toSeq
    assert(bloomed === exact)
    // the sketch must reject (almost all) non-matching grams: disjoint
    // vocabularies → a probe of the train grams keeps ~fpp of them
    graft.functions.VectorFunctions.register(spark)
    val disjointBench = Seq((9999L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7")).toDF("doc_id", "text")
    val none = Curation.flagContaminatedBloom(train, disjointBench, n = 5)
    assert(none.filter(col("contaminated")).count() === 0)
  }

  test("heavyHitterTerms matches exact top-k and is partition-independent") {
    import spark.implicits._
    val docs = Tables.documents(spark, docDir)
    // exact reference: full groupBy over all tokens
    val exact = docs
      .select(explode(split(lower(col("text")), " ", -1)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("term")).limit(10)
      .collect().map(_.toString).toSeq
    val mg = TextAnalysis.heavyHitterTerms(docs).collect().map(_.toString).toSeq
    assert(mg === exact)
    // partial-aggregation tree must not change the answer
    val repart = TextAnalysis.heavyHitterTerms(docs.repartition(17)).collect()
      .map(_.toString).toSeq
    assert(repart === exact)
    // tiny capacity on a skewed stream: the guaranteed hitter (freq >
    // N/(cap+1)) always survives candidate generation and recounts top
    val skewed = ((1 to 500).map(i => (i.toLong, "hot")) ++
      (1 to 400).map(i => (i.toLong, s"cold$i"))).toDF("doc_id", "text")
    val tiny = TextAnalysis.heavyHitterTerms(skewed, k = 1, capacity = 4).collect()
    assert(tiny.head.getAs[String]("term") === "hot")
    assert(tiny.head.getAs[Long]("n_occurrences") === 500L)
  }

  test("gopherRules applies the quality thresholds, keep from raw ratios") {
    val docs = Tables.documents(spark, docDir)
    val relaxed = TextAnalysis.gopherRules(docs, minWords = 20, minStopHits = 1).collect()
    assert(relaxed.length === 500)
    assert(relaxed.exists(_.getAs[Boolean]("keep")))
    assert(relaxed.exists(!_.getAs[Boolean]("keep")))
    // the keep decision is reconstructible from the reported stats
    // (no boundary cases in this corpus, so rounded display agrees)
    relaxed.foreach { r =>
      val expect = r.getAs[Long]("n_words") >= 20 &&
        r.getAs[Long]("n_words") <= 100000 &&
        r.getAs[Double]("mean_word_len") >= 3.0 &&
        r.getAs[Double]("mean_word_len") <= 10.0 &&
        r.getAs[Double]("symbol_ratio") <= 0.1 &&
        r.getAs[Double]("alpha_frac") >= 0.8 &&
        r.getAs[Long]("n_stop_hits") >= 1
      assert(r.getAs[Boolean]("keep") === expect, r.toString)
    }
    // canonical defaults: this corpus carries at most ONE of the eight
    // Gopher stopwords per doc, so the >=2-distinct rule drops all
    val strict = TextAnalysis.gopherRules(docs).collect()
    assert(strict.forall(!_.getAs[Boolean]("keep")))
    // planted symbol spam trips the symbol-to-word rule
    import spark.implicits._
    val spam = Seq((1L,
      ("word " * 30) + ("# " * 10) + "the of and to be that have with"))
      .toDF("doc_id", "text")
    val flagged = TextAnalysis.gopherRules(spam, minWords = 10).collect().head
    assert(!flagged.getAs[Boolean]("keep"))
    assert(flagged.getAs[Double]("symbol_ratio") > 0.1)
  }

  test("multimodal plumbing: schema, determinism, narrow extraction") {
    val docs = Tables.documents(spark, docDir)
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.length === 500)
    assert(feats.forall(_.features.length === 8))
    assert(feats.forall(f => f.features.forall(v => v >= 0f && v <= 1f)))
    // text payloads have no decodable image → every record stubs
    assert(feats.forall(_.codec === "stub"))
    // deterministic stub decode
    val again = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs), dim = 8).collect()
    assert(feats.map(_.checksum).sorted.toSeq === again.map(_.checksum).sorted.toSeq)
    // the cross-engine manifest checksum is the payload's md5 hex
    val byId = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feats.take(5).foreach { f =>
      val exp = java.security.MessageDigest.getInstance("MD5")
        .digest(byId(f.media_id).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(f.checksum_md5 === exp)
    }
    // frame sampling produces stride-spaced indices
    val frames = Multimodal.sampleFrames(media).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Int]("frame_idx") % 4 === 0))
  }

  test("multimodal decode is REAL for JDK-decodable images, stub otherwise") {
    import spark.implicits._
    // a genuine 40x20 PNG: left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(40, 20,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 40)
      img.setRGB(x, y, if (x < 20) 0xFF0000 else 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray

    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png, 40, 20, 0),
      Multimodal.MediaRecord(2L, "image", "not an image".getBytes("UTF-8"), 0, 0, 0),
      Multimodal.MediaRecord(3L, "audio", png, 0, 0, 16000)) // wrong modality → stub
      .toDS()
    val out = Multimodal.extractFeatures(media, dim = 8)
      .collect().map(f => f.media_id -> f).toMap
    assert(out(1L).codec === "imageio")
    assert(out(2L).codec === "stub")
    assert(out(3L).codec === "stub")
    // pixel statistics reflect the actual content: half red, half blue,
    // no green; dims normalized by 4096
    val f = out(1L).features
    assert(math.abs(f(0) - 40f / 4096f) < 1e-4) // width
    assert(math.abs(f(1) - 20f / 4096f) < 1e-4) // height
    assert(math.abs(f(2) - 0.5f) < 0.03f)       // mean R
    assert(f(3) < 0.01f)                        // mean G
    assert(math.abs(f(4) - 0.5f) < 0.03f)       // mean B
    // decode is deterministic
    val again = Multimodal.extractFeatures(media, dim = 8)
      .collect().map(f => f.media_id -> f).toMap
    assert(again(1L).features.toSeq === f.toSeq)

    // decompression-bomb guard: patch the IHDR to claim 20000x20000
    // (400M pixels) and fix its CRC — the header passes as a real PNG,
    // but the size cap must refuse to decode it
    val bomb = png.clone()
    val bb = java.nio.ByteBuffer.wrap(bomb)
    bb.putInt(16, 20000)
    bb.putInt(20, 20000)
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 17) // "IHDR" tag + 13 data bytes
    bb.putInt(29, crc.getValue.toInt)
    val bombed = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(9L, "image", bomb, 0, 0, 0)).toDS(), dim = 8)
      .collect().head
    assert(bombed.codec === "stub")
  }

  test("WAV audio decode is REAL with bounded strided stats; bomb header → stub") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 0.5 s of a 440 Hz sine at 16 kHz, 16-bit mono PCM, amplitude 0.5
    val n = 8000
    val pcm = new Array[Byte](n * 2)
    val pb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until n)
      pb.putShort((math.sin(2 * math.Pi * 440 * i / 16000.0) * 0.5 * 32767).toShort)
    val fmt = new AudioFormat(16000f, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val out = Multimodal.extractFeatures(Seq(
        Multimodal.MediaRecord(1L, "audio", wav, 0, 0, 16000),
        Multimodal.MediaRecord(2L, "image", wav, 0, 0, 0)) // wrong modality → stub
        .toDS(), dim = 8)
      .collect().map(f => f.media_id -> f).toMap
    assert(out(1L).codec === "wav")
    assert(out(2L).codec === "stub")
    // sample statistics reflect the actual signal
    val f = out(1L).features
    assert(math.abs(f(0) - 16000f / 48000f) < 1e-4)     // sample rate
    assert(math.abs(f(1) - 1f / 8f) < 1e-4)             // mono
    assert(math.abs(f(2) - 0.5f) < 1e-4)                // 16 of 32 bits
    assert(math.abs(f(4) - 0.5f / math.sqrt(2).toFloat) < 0.01f) // sine RMS = A/√2
    assert(math.abs(f(5) - 0.5f) < 0.01f)               // peak = A
    assert(math.abs(f(6) - 2 * 440f / 16000f) < 0.005f) // zero-crossing rate
    // deterministic
    val again = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(1L, "audio", wav, 0, 0, 16000)).toDS(), dim = 8)
      .collect().head
    assert(again.features.toSeq === f.toSeq)

    // WAV bomb: patch the RIFF and data chunk sizes to claim ~1G
    // frames — the header parses as a real WAV, but the frame cap must
    // refuse to read samples
    val bomb = wav.clone()
    val bb = java.nio.ByteBuffer.wrap(bomb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, 0x7FFF0000)
    var off = 12
    while (!(bomb(off) == 'd' && bomb(off + 1) == 'a' &&
        bomb(off + 2) == 't' && bomb(off + 3) == 'a'))
      off += 8 + bb.getInt(off + 4)
    bb.putInt(off + 4, 0x7FFE0000)
    val bombed = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(9L, "audio", bomb, 0, 0, 16000)).toDS(), dim = 8)
      .collect().head
    assert(bombed.codec === "stub")
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("spanDedup rewrites later occurrences of a duplicated span away") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma dup1 dup2 dup3 tail1"),
      (2L, "dup1 dup2 dup3 x y z"),
      (3L, "DUP1 DUP2 DUP3"),
      (4L, "short doc")
    ).toDF("doc_id", "text")
    val rows = Dedup.spanDedup(docs, spanWords = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1 owns both its spans and keeps the sub-span tail
    assert(rows(1L).getAs[Long]("n_spans") === 2)
    assert(rows(1L).getAs[Long]("n_kept_spans") === 2)
    assert(rows(1L).getAs[String]("clean_text") ===
      "alpha beta gamma dup1 dup2 dup3 tail1")
    // doc 2's copy of the span is dropped; its unique span survives
    assert(rows(2L).getAs[Long]("n_kept_spans") === 1)
    assert(rows(2L).getAs[String]("clean_text") === "x y z")
    // hashing case-folds but the rewrite preserves original case
    assert(rows(3L).getAs[Long]("n_kept_spans") === 0)
    assert(rows(3L).getAs[String]("clean_text") === "")
    // a doc under one span passes through untouched
    assert(rows(4L).getAs[Long]("n_spans") === 0)
    assert(rows(4L).getAs[String]("clean_text") === "short doc")
    // rewriting is idempotent: a second pass drops nothing
    val cleaned = Dedup.spanDedup(docs, spanWords = 3)
      .select(col("doc_id"), col("clean_text").as("text"))
    val second = Dedup.spanDedup(cleaned, spanWords = 3)
      .agg(sum(col("n_spans") - col("n_kept_spans"))).collect().head
    assert(second.getLong(0) === 0L)
  }

  test("spanDedup drop counts agree with chunkDedup at equal width") {
    val docs = Tables.documents(spark, docDir)
    // same hashes (lower∘join == join∘lower), same ownership rule —
    // the transform's per-doc drop count must equal the detector's
    val spans = Dedup.spanDedup(docs, spanWords = 10)
      .select(col("doc_id"), (col("n_spans") - col("n_kept_spans")).as("d1"))
    val chunks = Dedup.chunkDedup(docs, chunkWords = 10)
      .select(col("doc_id"), col("n_dup_chunks").as("d2"))
    // chunkDedup filters out span-less docs; spanDedup rows them at 0
    assert(spans.join(chunks, Seq("doc_id"))
      .filter(col("d1") =!= col("d2")).count() === 0)
    assert(spans.join(chunks, Seq("doc_id"), "left_anti")
      .filter(col("d1") =!= 0).count() === 0)
  }

  test("perplexityAgainst the corpus's own model is bit-equal to self-trained") {
    val docs = Tables.documents(spark, docDir)
    val self = TextAnalysis.perplexityScore(docs).collect().map(_.toString).toSeq
    val served = TextAnalysis
      .perplexityAgainst(docs, TextAnalysis.termCounts(docs))
      .collect().map(_.toString).toSeq
    assert(served === self)
  }

  test("perplexityAgainst scores out-of-vocabulary tokens at singleton surprisal") {
    import spark.implicits._
    val model = Seq(("a", 3L), ("b", 1L)).toDF("t", "cnt") // total 4
    val docs = Seq((1L, "a unseen")).toDF("doc_id", "text")
    val r = TextAnalysis.perplexityAgainst(docs, model).collect().head
    def unat(p: Double): Long =
      BigDecimal.valueOf(-math.log(p) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val sa = unat(3.0 / 4)
    val su = unat(1.0 / 4) // OOV ⇒ count-1 fallback
    val sum = sa + su
    val au = (2 * sum + 2) / 4 // half-up integer mean over n = 2
    assert(r.getAs[Long]("n_tokens") === 2L)
    assert(r.getAs[Long]("surprisal_unat") === sum)
    assert(r.getAs[Long]("avg_surprisal_unat") === au)
    assert(r.getAs[Double]("avg_surprisal") ===
      BigDecimal.valueOf(au / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("perplexityAgainst an empty or zero-total model fails loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val empty = Seq.empty[(String, Long)].toDF("t", "cnt")
    val e = intercept[Exception] {
      TextAnalysis.perplexityAgainst(docs, empty).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("model is empty")))
  }

  test("ccnetBuckets partitions each language into score-ordered thirds") {
    val docs = Tables.documents(spark, docDir)
    val b = TextAnalysis.ccnetBuckets(docs)
    assert(b.count() === docs.count())
    // a (lang, score) tie group never splits across buckets
    assert(b.groupBy("lang", "avg_surprisal")
      .agg(countDistinct("bucket").as("nb"))
      .filter(col("nb") > 1).count() === 0)
    // buckets are contiguous in score order within each language
    val spans = b.groupBy("lang", "bucket")
      .agg(min("avg_surprisal").as("lo"), max("avg_surprisal").as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getString(0))
    spans.foreach { case (_, rows) =>
      val m = rows.map(r => r.getString(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
      for (h <- m.get("head"); mid <- m.get("middle")) assert(h._2 <= mid._1)
      for (mid <- m.get("middle"); t <- m.get("tail")) assert(mid._2 <= t._1)
      // thirds are balanced up to tie granularity: no bucket may hold
      // everything when the language has >= 3 distinct scores
      if (rows.length == 3) {
        val total = m.values.map(_._3).sum
        assert(m.values.forall(_._3 < total))
      }
    }
  }

  test("collocations scores the PMI formula exactly and respects the floor") {
    val docs = Tables.documents(spark, docDir)
    val rows = TextAnalysis.collocations(docs, minCount = 5L, k = 20).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getAs[Long]("n_xy") >= 5L))
    val pmis = rows.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
    // recompute one row's PMI from raw counts with the same association
    // order — the operator's arithmetic must be exactly this
    val w = docs.select(split(lower(col("text")), " ", -1).as("w"))
    val (nt, nb) = {
      val r = w.agg(sum(size(col("w"))), sum(greatest(size(col("w")) - 1, lit(0))))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    val top = rows.head
    val expected = round6(math.log(
      (top.getAs[Long]("n_xy").toDouble * nt * nt) /
        (nb.toDouble * top.getAs[Long]("n_x") * top.getAs[Long]("n_y"))))
    assert(top.getAs[Double]("pmi") === expected)
  }

  test("embedOutliers reports exactly the bottom-k centroid cosines") {
    val emb = Tables.embeddings(spark, docDir)
    val out = Similarity.embedOutliers(emb, k = 10).collect()
    assert(out.length === 10)
    val cos = out.map(_.getAs[Double]("cos_centroid"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a <= b })
    // naive single-threaded mirror: same element snap, same mean
    // rounding, same association order — the operator must match it
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val dim = vecs.head._2.length
    val centroid = Array.tabulate(dim) { j =>
      round6(vecs.map(v => round6(v._2(j))).sum)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cn = math.sqrt(dot(centroid, centroid))
    val naive = vecs.map { case (id, v) =>
      id -> round6(dot(v, centroid) / (math.sqrt(dot(v, v)) * cn))
    }.sortBy { case (id, c) => (c, id) }.take(10)
    assert(out.map(_.getLong(0)).toSeq === naive.map(_._1).toSeq)
    assert(out.map(_.getAs[Double]("cos_centroid")).toSeq === naive.map(_._2).toSeq)
  }

  test("corpusBuild assigns first-fail dispositions with stage precedence") {
    import spark.implicits._
    val goodText = "the fast data scan runs with the big table and " +
      "that query plan works with the small filter stage to have " +
      "sort merge join order parts of all rows done well here now"
    // 0: benchmark/eval doc; 10: exact copy of 11 (both good text +
    // salt); 12: near-dup of 11 (one word changed); 13: clean good;
    // 14: low quality (too short); 15: contaminated (contains the
    // benchmark text); 16: near-dup of 11 AND low-stopword — must
    // report dup_near (precedence)
    val near = goodText.replace("merge", "weld") + " alpha beta gamma"
    val base = goodText + " alpha beta gamma"
    // distinct vocabulary → no shared trigrams with the goodText family
    val distinct = "the red green blue cyan magenta yellow black white " +
      "gray pink brown amber coral ivory jade lilac mauve olive pearl " +
      "ruby teal umber violet"
    val docs = Seq(
      (0L, goodText, "en", "src0"),
      (10L, base, "en", "src0"),
      (11L, base, "en", "src0"),
      (12L, near, "en", "src0"),
      (13L, distinct, "en", "src1"),
      (14L, "tiny doc here", "en", "src1"),
      (15L, "prefix words " + goodText, "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
    val out = Curation.corpusBuild(docs, docs.filter($"doc_id" === 0L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 0 survives its near-dup cluster (component min) but is the eval
    // doc → contaminated: eval data never reaches training
    assert(out(0L) === "contaminated")
    assert(out(10L) === "dup_near") // clustered under survivor 0
    assert(out(11L) === "dup_exact") // 10 < 11 owns the payload
    assert(out(12L) === "dup_near")
    assert(out(13L) === "kept") // disjoint vocabulary, passes quality
    assert(out(14L) === "low_quality")
    assert(out(15L) === "dup_near") // precedence: near-dup before contaminated
    // split/shard: null unless kept; kept rows match the standalone
    // assignment operators
    val rows = Curation.corpusBuild(docs, docs.filter($"doc_id" === 0L)).collect()
    rows.foreach { r =>
      if (r.getString(1) == "kept") {
        assert(!r.isNullAt(2) && !r.isNullAt(3))
      } else assert(r.isNullAt(2) && r.isNullAt(3))
    }
    val report = Curation.corpusBuildReport(
      Curation.corpusBuild(docs, docs.filter($"doc_id" === 0L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.values.sum === docs.count())
    assert(report("dup_exact") === 1L)
    // per-source scorecard: counts reconcile with the fixture and the
    // attrition report, rates snap half-up
    val audit = Curation.corpusAudit(docs,
        Curation.corpusBuild(docs, docs.filter($"doc_id" === 0L)))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(audit.keySet === Set("src0", "src1"))
    val s0 = audit("src0")
    assert(s0.getAs[Long]("n_docs") === 4L)
    assert(s0.getAs[Long]("n_dup_exact") === 1L) // doc 11
    assert(s0.getAs[Long]("n_dup_near") === 2L)  // docs 10, 12
    assert(s0.getAs[Long]("n_contaminated") === 1L) // doc 0
    assert(s0.getAs[Long]("n_kept") === 0L)
    assert(s0.getAs[Long]("kept_rate_micro") === 0L)
    val s1 = audit("src1")
    assert(s1.getAs[Long]("n_kept") === 1L) // doc 13
    assert(s1.getAs[Long]("n_low_quality") === 1L)
    assert(s1.getAs[Long]("n_dup_near") === 1L) // doc 15
    // 1/3 half-up micro
    assert(s1.getAs[Long]("kept_rate_micro") === (1L * 2000000L + 3L) / 6L)
    // totals across sources == the attrition report
    assert(audit.values.map(_.getAs[Long]("n_docs")).sum === docs.count())
  }
}
