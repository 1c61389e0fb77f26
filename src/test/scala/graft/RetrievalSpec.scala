package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Retrieval}

class RetrievalSpec extends AnyFunSuite with SparkSessionTestBase {

  // small planted corpus with varied lengths and term repetition so tf
  // normalization and idf both matter
  private def corpus = Seq(
    0L -> "apple banana cherry apple apple",
    1L -> "banana cherry",
    2L -> "apple date elderberry fig grape honeydew iris jasmine kiwi lime",
    3L -> "date date date banana",
    4L -> "cherry cherry apple banana date elderberry")

  private def corpusDf = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
  }

  private def queriesDf(qs: Seq[(Long, String)]) = {
    import spark.implicits._
    qs.toDF("query_id", "query_text")
  }

  /** Independent local BM25 with the operator's exact snapping rules:
    * idf half-up at 6 decimals of the double's shortest repr
    * (BigDecimal.valueOf = Spark's round), per-term contribution
    * half-up to integer micro, per-doc exact integer sum. */
  private def localBm25(
      docs: Seq[(Long, String)], queries: Seq[(Long, String)],
      k1: Double = Retrieval.K1, b: Double = Retrieval.B): Map[(Long, Long), Long] = {
    def snap(d: Double, s: Int): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(d).setScale(s, java.math.RoundingMode.HALF_UP))
    val toks = docs.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).toSeq }
    val tf = toks.flatMap { case (id, ws) => ws.map(w => (id, w)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val dl = toks.map { case (id, ws) => id -> ws.size.toLong }.toMap
    val nDocs = docs.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs
    val dfm = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val out = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for {
      (qid, qt) <- queries
      term <- qt.toLowerCase.split(" ", -1).distinct
      ((did, t), f) <- tf if t == term
    } {
      val df = dfm(term)
      val idf6 = snap(
        math.log((nDocs.toDouble - df + 0.5) / (df.toDouble + 0.5) + 1.0), 6).toDouble
      val contrib = idf6 * (f.toDouble * (k1 + 1.0)) /
        (f.toDouble + k1 * (1.0 - b + b * dl(did).toDouble / avgdl)) * 1e6
      out((qid, did)) = out.getOrElse((qid, did), 0L) + snap(contrib, 0).toLong
    }
    out.toMap
  }

  test("bm25Search matches an independent local implementation exactly") {
    val qs = Seq(0L -> "apple", 1L -> "banana date", 2L -> "elderberry apple cherry")
    val got = Retrieval.bm25Search(corpusDf, queriesDf(qs), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val want = localBm25(corpus, qs)
    assert(got === want)
  }

  test("bm25 ranks descend by score with doc_id tie-break") {
    val qs = Seq(0L -> "banana")
    val rows = Retrieval.bm25Search(corpusDf, queriesDf(qs), k = 10).collect()
    val scores = rows.map(_.getLong(3)).toSeq
    assert(scores === scores.sorted(Ordering[Long].reverse))
    // docs 0 and 4 have identical (tf=1, dl=5) banana postings — the
    // tie must order by doc_id
    val tied = rows.filter(_.getLong(3) === rows.map(_.getLong(3))
      .groupBy(identity).collectFirst { case (s, g) if g.length > 1 => s }.getOrElse(Long.MinValue))
    if (tied.length > 1)
      assert(tied.map(_.getLong(2)).toSeq === tied.map(_.getLong(2)).sorted.toSeq)
    // and the score column is the micro integer's own-scale identity
    rows.foreach(r =>
      assert(math.abs(r.getDouble(4) - r.getLong(3).toDouble / 1e6) < 1e-9))
  }

  test("OOV query terms contribute nothing; an all-OOV query returns no rows") {
    val mixed = Retrieval.bm25Search(corpusDf, queriesDf(Seq(0L -> "apple zzz")), k = 10)
    val clean = Retrieval.bm25Search(corpusDf, queriesDf(Seq(0L -> "apple")), k = 10)
    assert(mixed.collect().map(_.toString).toSeq ===
      clean.collect().map(_.toString).toSeq)
    assert(Retrieval.bm25Search(corpusDf, queriesDf(Seq(0L -> "zzz qqq")), k = 10)
      .count() === 0)
  }

  test("bm25FromIndex over a parquet round-trip is bit-equal to the online form") {
    val root = tempRoot("bm25idx").toString
    val (postings, meta) = Retrieval.bm25Index(corpusDf)
    graft.sources.Sinks.writeRangePartitioned(postings, s"$root/postings", "term", 2)
    meta.write.mode("overwrite").parquet(s"$root/meta")
    val qs = Seq(0L -> "apple", 1L -> "banana date", 2L -> "elderberry apple cherry")
    val online = Retrieval.bm25Search(corpusDf, queriesDf(qs), k = 10)
    val served = Retrieval.bm25FromIndex(
      spark.read.parquet(s"$root/postings"), spark.read.parquet(s"$root/meta"),
      queriesDf(qs), Seq("apple", "banana", "date", "elderberry", "cherry"), k = 10)
    assert(served.collect().map(_.toString).toSeq ===
      online.collect().map(_.toString).toSeq)
  }

  test("bm25 rewards rarity and tf, normalizes length") {
    // 'elderberry' (df=2) must outrank 'banana' (df=4) for a doc
    // containing both once at equal length; higher tf must outscore
    // lower tf at equal df and length
    val qs = Seq(0L -> "apple")
    val scores = Retrieval.bm25Search(corpusDf, queriesDf(qs), k = 10).collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    // doc 0: tf=3 of 5 tokens; doc 2: tf=1 of 10; doc 4: tf=1 of 6
    assert(scores(0L) > scores(4L))
    assert(scores(4L) > scores(2L)) // shorter doc, same tf ⇒ higher
  }

  test("cosineTopK is self-inclusive with self at rank 1") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Retrieval.cosineTopK(emb, Seq(0L, 2L), k = 3).collect()
    assert(out.filter(_.getInt(2) === 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(0L -> 0L, 2L -> 2L))
  }

  test("a zero-norm embedding fails loudly instead of silently dropping") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    Seq(
      () => Retrieval.cosineTopK(emb, Seq(0L), k = 2).collect(),
      () => Retrieval.hardNegatives(emb, Seq(0L), k = 2).collect(),
      () => Retrieval.mmrSelect(emb, 0L, k = 1, poolSize = 2).count()
    ).foreach { run =>
      val e = intercept[Exception](run())
      assert(msgs(e).exists(_.contains("zero-norm")), s"missing loud guard: $e")
    }
  }

  test("phraseSearch counts exact token-sequence occurrences, overlaps included") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"),   // "a b" at 0 and 3; "b c a" at 1
      (2L, "a a a"),       // "a a" OVERLAPS: starts 0 and 1
      (3L, "b a b c"),     // "a b" at 1; "b c a" absent (no wrap)
      (4L, "c c c")        // matches nothing below
    ).toDF("doc_id", "text")
    val queries = Seq(
      (0L, "a b"), (1L, "b c a"), (2L, "a a"), (3L, "z z"))
      .toDF("query_id", "query_text")
    val got = Retrieval.phraseSearch(docs, queries)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // hand-computed: rank by (n_matches DESC, doc_id ASC)
    assert(got === Seq(
      (0L, 1, 1L, 2L, 0L),  // "a b" twice in doc 1, first at token 0
      (0L, 2, 3L, 1L, 1L),  // once in doc 3 at token 1
      (1L, 1, 1L, 1L, 1L),  // "b c a" once in doc 1 at token 1
      (2L, 1, 2L, 2L, 0L))) // "a a" overlapping starts 0 and 1
    // query 3 ("z z") matches nothing — absent, not a zero row
    assert(!got.exists(_._1 == 3L))
    // a repeated-token phrase must not double-count a single start:
    // the witness count needs ALL query positions, each exactly once
    val single = Retrieval.phraseSearch(
      Seq((9L, "x y x")).toDF("doc_id", "text"),
      Seq((0L, "x y x")).toDF("query_id", "query_text"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(single === Seq((0L, 9L, 1L)))
  }

  test("phraseFromIndex round-trips the positional artifact, literal or not") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a b"), (2L, "b a b"), (3L, "c a"))
      .toDF("doc_id", "text")
    val queries = Seq((0L, "a b"), (1L, "c a")).toDF("query_id", "query_text")
    val online = Retrieval.phraseSearch(docs, queries)
      .collect().map(_.toString).toSeq
    assert(online.nonEmpty)
    val dir = tempRoot("posidx").toString + "/idx"
    Retrieval.positionalIndex(docs).write.parquet(dir)
    val idx = spark.read.parquet(dir)
    val served = Retrieval.phraseFromIndex(idx, queries)
      .collect().map(_.toString).toSeq
    assert(served === online)
    // the pushdown literal changes only the plan, never the result
    val pushed = Retrieval.phraseFromIndex(idx, queries,
      queryTermsLiteral = Seq("a", "b", "c"))
      .collect().map(_.toString).toSeq
    assert(pushed === online)
  }

  test("positionalIndexIncremental equals a full rebuild, through serving too") {
    import spark.implicits._
    val prev = Seq(
      (1L, "a b c"), (2L, "b c d"), (3L, "stale doc text"))
      .toDF("doc_id", "text")
    // adds doc 4, edits doc 2, removes doc 3
    val now = Seq(
      (1L, "a b c"), (2L, "b c d edited"), (4L, "c a b"))
      .toDF("doc_id", "text")
    val maintained = Retrieval.positionalIndexIncremental(
      Retrieval.positionalIndex(prev), prev, now)
    val rebuilt = Retrieval.positionalIndex(now)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(maintained) === rows(rebuilt))
    // ...and the serving path agrees (the driver-entry proof shape)
    val queries = Seq((0L, "a b"), (1L, "c d")).toDF("query_id", "query_text")
    assert(Retrieval.phraseFromIndex(maintained, queries)
      .collect().map(_.toString).toSeq ===
      Retrieval.phraseSearch(now, queries).collect().map(_.toString).toSeq)
    // a no-op delta reproduces the prior index bit-for-bit
    assert(rows(Retrieval.positionalIndexIncremental(
      Retrieval.positionalIndex(now), now, now)) === rows(rebuilt))
  }

  test("decontaminatePhrase flags exact-sequence containment per doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),      // contains "b c" once
      (2L, "b c b c"),      // "b c" twice + "c b" once (overlap-adjacent)
      (3L, "x y z"),        // clean
      (4L, "a a a"))        // repeated-token phrase "a a" -> 2 starts
      .toDF("doc_id", "text")
    val phrases = Seq(
      (0L, "b c"), (1L, "a a"), (2L, "zz qq")) // absent phrase too
      .toDF("phrase_id", "phrase_text")
    val out = Retrieval.decontaminatePhrase(docs, phrases).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_phrases") === 1L)
    assert(out(1L).getAs[Long]("n_occurrences") === 1L)
    assert(out(1L).getAs[Boolean]("keep") === false)
    assert(out(2L).getAs[Long]("n_phrases") === 1L)
    assert(out(2L).getAs[Long]("n_occurrences") === 2L)
    assert(out(3L).getAs[Long]("n_phrases") === 0L)
    assert(out(3L).getAs[Boolean]("keep") === true)
    // overlapping starts of the repeated-token phrase both count
    assert(out(4L).getAs[Long]("n_occurrences") === 2L)
    assert(out(4L).getAs[Boolean]("keep") === false)
    // the indexed form (pushed literal or not) is output-identical
    val idx = Retrieval.positionalIndex(docs)
    val online = Retrieval.decontaminatePhrase(docs, phrases)
      .collect().map(_.toString).toSeq
    assert(Retrieval.decontaminatePhraseFromIndex(idx, docs, phrases)
      .collect().map(_.toString).toSeq === online)
    assert(Retrieval.decontaminatePhraseFromIndex(idx, docs, phrases,
        phraseTermsLiteral = Seq("b", "c", "a", "zz", "qq"))
      .collect().map(_.toString).toSeq === online)
  }

  test("rrfFuse sums exact integer reciprocal-rank contributions") {
    import spark.implicits._
    val a = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 11L, 1), (0L, 13L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), k0 = 60, kOut = 10).collect()
      .map(r => r.getLong(2) -> (r.getLong(3), r.getInt(4))).toMap
    def c(rank: Int) = 1000000L / (60 + rank)
    assert(out === Map(
      10L -> (c(1), 1), 11L -> (c(2) + c(1), 2),
      12L -> (c(3), 1), 13L -> (c(2), 1)))
    // 11 fused from both branches outranks everything
    val first = Retrieval.rrfFuse(Seq(a, b), 60, 10).collect()
      .find(_.getInt(1) === 1).get
    assert(first.getLong(2) === 11L)
  }

  test("hybridSearch fuses its own branch ranks exactly") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val ids = Seq(0L, 1L)
    val queries = docs.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(lower(col("text")), " ", -1), 1, 6), " ").as("query_text"))
    val lex = Retrieval.bm25Search(docs, queries, k = 10)
      .select("query_id", "doc_id", "rank")
    val sem = Retrieval.cosineTopK(emb, ids, 10).select("query_id", "doc_id", "rank")
    val want = Retrieval.rrfFuse(Seq(lex, sem), 60, 10).collect().map(_.toString).toSeq
    val got = Retrieval.hybridSearch(docs, emb, ids).collect().map(_.toString).toSeq
    assert(got === want)
  }

  test("grepFromIndex equals the online scan; scattered trigrams don't false-match") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the batch stream runs all day"),   // true match
      (1L, "BATCH STREAM in caps"),            // case-insensitive match
      (2L, "batch of trigrams h st stream am"),// covers trigrams, no substring
      (3L, "nothing relevant here"))
      .toDF("doc_id", "text")
    val q = "batch stream"
    val root = tempRoot("grep_idx").toString
    graft.sources.Sinks.writeRangePartitioned(
      Retrieval.grepIndex(docs), root, "g", 2)
    val online = Retrieval.grepSearch(docs, q).collect().map(_.toString).toSeq
    val served = Retrieval.grepFromIndex(spark.read.parquet(root), docs, q)
      .collect().map(_.toString).toSeq
    assert(served === online)
    assert(online.nonEmpty)
    val ids = Retrieval.grepSearch(docs, q).collect().map(_.getLong(0)).toSet
    assert(ids === Set(0L, 1L))
    // doc 2 covers every query trigram yet must not match — the
    // verify pass, not the candidate probe, decides
    assert(!ids.contains(2L))
    // sub-trigram queries fall back to the online scan
    val short = Retrieval.grepFromIndex(spark.read.parquet(root), docs, "at")
      .collect().map(_.getLong(0)).toSet
    assert(short === Retrieval.grepSearch(docs, "at")
      .collect().map(_.getLong(0)).toSet)
  }

  test("hardNegatives drops self and near-duplicates, keeps the hardest rest") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // query
      (1L, Array(0.999f, 0.01f, 0.0f)),// near-dup of the query (cos ~1)
      (2L, Array(0.8f, 0.6f, 0.0f)),   // hard negative
      (3L, Array(0.5f, 0.85f, 0.0f)),  // medium
      (4L, Array(0.0f, 0.0f, 1.0f)))   // easy
      .toDF("vec_id", "embedding")
    val out = Retrieval.hardNegatives(emb, Seq(0L), k = 10, dupCos = 0.95)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    // the near-dup (1) is excluded by the ceiling; order is hardest
    // first among survivors
    assert(out.map(_._2) === Seq(2L, 3L, 4L))
    assert(out.map(_._1) === Seq(1, 2, 3))
    // with the ceiling at 1.0 the near-dup would lead
    val loose = Retrieval.hardNegatives(emb, Seq(0L), k = 10, dupCos = 1.1)
      .collect().map(_.getLong(2)).toSeq
    assert(loose === Seq(1L, 2L, 3L, 4L))
  }

  test("fertilityStats reports exact rational ratios per tokenizer") {
    import spark.implicits._
    val a = Seq((1L, 2L, 5L, 9L), (2L, 1L, 2L, 4L))
      .toDF("doc_id", "n_words", "n_pieces", "n_word_chars")
    val b = Seq((1L, 3L, 3L, 12L))
      .toDF("doc_id", "n_words", "n_pieces", "n_word_chars")
    val rows = graft.operators.Bpe.fertilityStats(Seq("a" -> a, "b" -> b))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // a: 3 words, 7 pieces, 13 chars → 7/3 = 2.333333 (half-up micro),
    // 13/7 = 1.857143
    assert(rows("a") === ((2L, 3L, 7L, 13L, 2.333333, 1.857143)))
    assert(rows("b") === ((1L, 3L, 3L, 12L, 1.0, 4.0)))
    // empty tokenize frame degrades to zero counts and NULL ratios
    val e = a.limit(0)
    val er = graft.operators.Bpe.fertilityStats(Seq("e" -> e)).collect().head
    assert(er.getLong(2) === 0L && er.isNullAt(5) && er.isNullAt(6))
  }

  test("flagContaminatedFuzzy flags planted near-dups of the eval set") {
    import spark.implicits._
    val benchText = (0 until 40).map(i => s"tok${i}").mkString(" ")
    // near-dup: one word substituted — high shingle overlap; clean doc
    // shares vocabulary style but no shingles
    val nearDup = ((0 until 40).map(i => if (i == 20) "CHANGED" else s"tok${i}")).mkString(" ")
    val clean = (100 until 140).map(i => s"tok${i}").mkString(" ")
    val bench = Seq((0L, benchText)).toDF("doc_id", "text")
    val train = Seq((10L, nearDup), (11L, clean), (12L, benchText))
      .toDF("doc_id", "text")
    val out = Curation.flagContaminatedFuzzy(train, bench, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out === Map(10L -> true, 11L -> false, 12L -> true))
  }

  test("bm25IndexIncremental equals a full rebuild across add/remove/change") {
    import spark.implicits._
    val oldDocs = Seq(
      0L -> "apple banana cherry", 1L -> "banana cherry date",
      2L -> "old stale words here", 3L -> "date elderberry fig")
      .toDF("doc_id", "text")
    val newDocs = Seq(
      0L -> "apple banana cherry",        // unchanged
      1L -> "banana cherry date grape",   // changed
      3L -> "date elderberry fig",        // unchanged (doc 2 removed)
      4L -> "grape honeydew iris")        // added
      .toDF("doc_id", "text")
    val (pp, pm) = Retrieval.bm25Index(oldDocs)
    val (ip, im) = Retrieval.bm25IndexIncremental(
      pp.localCheckpoint(), pm, oldDocs, newDocs)
    val (fp, fm) = Retrieval.bm25Index(newDocs)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("term", "doc_id").collect().map(_.toString).toSeq
    assert(norm(ip) === norm(fp))
    assert(im.collect().map(_.toString).toSeq === fm.collect().map(_.toString).toSeq)
    // and the search served from the maintained index equals a search
    // over a fresh full index — the driver's oracle-level claim
    val qs = queriesDf(Seq(0L -> "banana grape", 1L -> "date"))
    val served = Retrieval.bm25FromIndex(ip, im, qs,
      Seq("banana", "grape", "date"), k = 10)
    val full = Retrieval.bm25Search(newDocs, qs, k = 10)
    assert(served.collect().map(_.toString).toSeq ===
      full.collect().map(_.toString).toSeq)
  }

  test("bm25IndexIncremental no-op diff reproduces the prior index bit-for-bit") {
    val docs = corpusDf
    val (pp, pm) = Retrieval.bm25Index(docs)
    val ppc = pp.localCheckpoint()
    val (ip, im) = Retrieval.bm25IndexIncremental(ppc, pm, docs, docs)
    assert(ip.orderBy("term", "doc_id").collect().map(_.toString).toSeq ===
      ppc.orderBy("term", "doc_id").collect().map(_.toString).toSeq)
    assert(im.collect().map(_.toString).toSeq ===
      pm.collect().map(_.toString).toSeq)
  }

  test("mmrSelect matches an independent local MMR, ties and snaps included") {
    import spark.implicits._
    // a tight near-dup pair (1,2), a diverse vector (3), an
    // off-direction distractor (4); query 0
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.11f, 0.0f, 0.0f)),
      (3L, Array(0.5f, 0.0f, 0.8f, 0.0f)),
      (4L, Array(0.4f, 0.0f, 0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = Retrieval.mmrSelect(emb, 0L, k = 4, lambda = 0.5, poolSize = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // independent local MMR over snapped cosines
    def snap6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val raw = Map(
      0L -> Array(1.0f, 0f, 0f, 0f), 1L -> Array(0.9f, 0.1f, 0f, 0f),
      2L -> Array(0.9f, 0.11f, 0f, 0f), 3L -> Array(0.5f, 0f, 0.8f, 0f),
      4L -> Array(0.4f, 0f, 0f, 0.9f))
      .map { case (k, v) =>
        val d = v.map(_.toDouble)
        val n = math.sqrt(d.map(x => x * x).sum)
        k -> d.map(_ / n)
      }
    def cos(a: Long, b: Long) = snap6(raw(a).zip(raw(b)).map { case (x, y) => x * y }.sum)
    val rel = Seq(1L, 2L, 3L, 4L).map(id => id -> cos(0L, id)).toMap
    var picked = Vector.empty[Long]
    var rest = Seq(1L, 2L, 3L, 4L)
    while (picked.size < 4) {
      val best = rest.map { id =>
        val red = if (picked.isEmpty) 0.0 else picked.map(p => cos(id, p)).max
        (id, snap6(0.5 * rel(id) - 0.5 * red))
      }.minBy { case (id, s) => (-s, id) }._1
      picked :+= best; rest = rest.filterNot(_ == best)
    }
    assert(got === picked.zipWithIndex.map { case (id, i) => (i + 1, id) })
    // the diverse vector must interleave before the near-dup twin
    assert(got.map(_._2).indexOf(3L) < got.map(_._2).indexOf(2L))
  }

  test("mmrSelect with lambda=1 is pure relevance order") {
    import spark.implicits._
    val emb = (0L to 6L).map(i =>
      (i, Array(1.0f, i.toFloat / 10, (i % 3).toFloat / 5)))
      .toDF("vec_id", "embedding")
    val mmr = Retrieval.mmrSelect(emb, 0L, k = 6, lambda = 1.0, poolSize = 6)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    val rel = Retrieval.cosineTopK(emb, Seq(0L), k = 7).collect()
      .filter(_.getLong(1) != 0L)
      .map(r => r.getLong(1)).toSeq
    assert(mmr.map(_._2) === rel.take(6))
  }

  test("flagContaminatedFuzzy with an empty benchmark flags nothing") {
    import spark.implicits._
    val train = Seq((0L, (0 until 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curation.flagContaminatedFuzzy(train, bench).collect()
    assert(out.length === 1 && !out.head.getBoolean(3))
    assert(out.head.getLong(1) === 0L)
  }
}
