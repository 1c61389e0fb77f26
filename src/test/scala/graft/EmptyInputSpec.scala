package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Degenerate-input robustness: every operator must return an empty
  * (or well-defined) result on empty input rather than throwing —
  * partitions ARE empty sometimes at 100 TB. */
class EmptyInputSpec extends AnyFunSuite with SparkSessionTestBase {

  lazy val emptyDocs = Tables.documents(spark, sfDir).limit(0)
  lazy val emptyLi = Tables.lineitem(spark, sfDir).limit(0)
  lazy val emptyEmb = Tables.embeddings(spark, sfDir).limit(0)
  lazy val emptyEvents = Tables.events(spark, sfDir).limit(0)

  test("dedup family on empty corpus") {
    assert(Dedup.exactDocs(emptyDocs).count() === 0)
    assert(Dedup.minhashPairs(emptyDocs).count() === 0)
    assert(Dedup.simhashPairs(emptyDocs).count() === 0)
    assert(Dedup.ngramJaccard(emptyDocs).count() === 0)
  }

  test("similarity on empty embeddings") {
    assert(Similarity.embedTopK(emptyEmb).count() === 0)
    assert(Similarity.embedLshBuckets(emptyEmb).count() === 0)
  }

  test("pricing on empty observations") {
    assert(Pricing.pricingSummary(emptyLi).count() === 0)
    assert(Pricing.lowestPricePerStore(emptyLi).count() === 0)
    assert(Pricing.bestBasket(emptyLi, Seq(1L, 2L)).count() === 0)
  }

  test("etl on empty events") {
    assert(Etl.sessionize(emptyEvents).count() === 0)
    assert(Etl.eventWindows(emptyEvents).count() === 0)
    assert(TextAnalysis.langId(emptyDocs).count() === 0)
    assert(TextCleaning.packSequences(emptyDocs).count() === 0)
  }

  test("cluster resolution on empty pairs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(empty).count() === 0)
  }

  test("round-2 operators on empty inputs") {
    lazy val emptyPart = Tables.part(spark, sfDir).limit(0)
    assert(Catalog.searchProducts(emptyPart, li = Some(emptyLi),
      onPromo = Some(true), storeId = Some(1L)).count() === 0)
    // non-empty catalog + empty observations: promo filter keeps nothing
    assert(Catalog.searchProducts(Tables.part(spark, sfDir), li = Some(emptyLi),
      onPromo = Some(true)).count() === 0)
    assert(Catalog.storeLookup(Tables.supplier(spark, sfDir).limit(0),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir)).count() === 0)
    assert(Pricing.lowestPricePerStore(emptyLi,
      Some(emptyPart), category = Some("X"), rowLimit = Some(5)).count() === 0)
    assert(Similarity.embedNearDupPairs(emptyEmb).count() === 0)
    assert(Similarity.embedLshTopK(emptyEmb).count() === 0)
    assert(Curation.mixSources(emptyDocs, Map("src0" -> 0.5)).count() === 0)
    assert(Curation.mixTemperature(emptyDocs, alpha = 0.5, budget = 100L).count() === 0)
    assert(Similarity.semDeDup(emptyEmb).count() === 0)
    assert(graft.operators.Graph.components(
      Tables.lineitem(spark, sfDir).limit(0)
        .select(org.apache.spark.sql.functions.col("l_orderkey").as("src"),
          org.apache.spark.sql.functions.col("l_partkey").as("dst"),
          org.apache.spark.sql.functions.lit(1L).as("w"))).count() === 0)
    assert(Curation.flagContaminated(emptyDocs, emptyDocs).count() === 0)
    // empty benchmark ⇒ nothing is contaminated, every doc still rowed
    val docs = Tables.documents(spark, sfDir)
    val flagged = Curation.flagContaminated(docs, emptyDocs)
    assert(flagged.count() === docs.count())
    assert(flagged.filter(org.apache.spark.sql.functions.col("contaminated")).count() === 0)
    // text/quality/profiling operators
    assert(TextAnalysis.repetitionScore(emptyDocs).count() === 0)
    assert(TextAnalysis.classifierScore(emptyDocs).count() === 0)
    assert(TextAnalysis.tfidfTopTerms(emptyDocs).count() === 0)
    assert(TextAnalysis.topTerms(emptyDocs).count() === 0)
    assert(graft.operators.Dedup.chunkDedup(emptyDocs).count() === 0)
    assert(graft.operators.TextCleaning.domainStats(emptyDocs).count() === 0)
    // heavy hitters: empty MG buffer evals to an empty candidate set
    assert(TextAnalysis.heavyHitterTerms(emptyDocs).count() === 0)
    assert(graft.operators.Catalog.statsRollup(Tables.part(spark, sfDir).limit(0))
      .count() === 0)
    assert(Purchases.latePriorityCounts(
      Tables.orders(spark, sfDir).limit(0), emptyLi).count() === 0)
    // funnel on no events: one row per stage, zero users, null pct (0/0)
    val funnel = Etl.funnelConversion(emptyEvents).collect()
    assert(funnel.length === 4)
    assert(funnel.forall(_.getAs[Long]("n_users") === 0L))
    // graded contamination: empty corpus → no rows; empty benchmark →
    // every doc rowed at overlap 0 with its gram total intact
    assert(Curation.contaminationOverlap(emptyDocs, emptyDocs).count() === 0)
    val gradedEmptyBench = Curation.contaminationOverlap(docs, emptyDocs)
    assert(gradedEmptyBench.count() === docs.count())
    assert(gradedEmptyBench
      .filter(org.apache.spark.sql.functions.col("n_overlap") > 0).count() === 0)
    assert(gradedEmptyBench
      .filter(org.apache.spark.sql.functions.col("n_grams") > 0).count() > 0)
    // containment pairs on an empty corpus
    assert(Dedup.ngramContainment(emptyDocs).count() === 0)
    // HLL overlap matrix: no sources → no pairs
    assert(graft.operators.Sketches.sketchOverlap(
      graft.operators.Sketches.sketchPartials(emptyDocs)).count() === 0)
    // bloom decontamination with empty benchmark AND empty corpus
    assert(Curation.flagContaminatedBloom(emptyDocs, emptyDocs).count() === 0)
    val docsAll = Tables.documents(spark, sfDir)
    val bloomed = Curation.flagContaminatedBloom(docsAll, emptyDocs)
    assert(bloomed.count() === docsAll.count())
    assert(bloomed.filter(org.apache.spark.sql.functions.col("contaminated")).count() === 0)
    // survivors of an empty pair set = the whole corpus
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupSurvivors(docsAll, noPairs).count() === docsAll.count())
    assert(Pricing.priceAnomalies(emptyLi).count() === 0)
    val profile = Etl.profileColumns(emptyLi, Seq("l_quantity", "l_discount")).collect()
    assert(profile.length === 2) // one row per column, zero counts
    assert(profile.forall(_.getAs[Long]("n_rows") === 0L))
  }

  test("round-4 operators on empty inputs") {
    assert(TextAnalysis.corpusStats(emptyDocs).count() === 0)
    assert(Curation.curationPipeline(emptyDocs).count() === 0)
    assert(Curation.qualitySample(emptyDocs).count() === 0)
    assert(TextCleaning.piiStats(emptyDocs).count() === 0)
    assert(Pricing.productCard(emptyLi,
      Tables.supplier(spark, sfDir), 42L).count() === 0)
    // cluster stats: empty corpus means no centroids and no clusters
    assert(Similarity.embedClusterStats(emptyEmb).count() === 0)
    assert(Similarity.embedIvfTopK(emptyEmb).count() === 0)
    assert(Purchases.basketRules(emptyLi).count() === 0)
    assert(Purchases.coPurchasePairs(emptyLi).count() === 0)
    assert(Curation.shardAssign(emptyDocs).count() === 0)
    assert(Similarity.clusterQuality(emptyEmb, emptyDocs).count() === 0)
    assert(Dedup.minhashPairsAgainst(emptyDocs,
      Dedup.minhashSignatures(emptyDocs)).count() === 0)
    assert(Temporal.lastTouchAttribution(emptyEvents).count() === 0)
    assert(TextAnalysis.vocabStats(emptyDocs).count() === 0)
    assert(Dedup.minhashCalibration(emptyDocs).count() === 0)
    assert(Curation.curationSignals(emptyDocs).count() === 0)
  }

  test("round-5 operators on empty inputs") {
    val emptyPart = Tables.part(spark, sfDir).limit(0)
    assert(Catalog.fuzzySearch(emptyPart, "smal ring").count() === 0)
    assert(Catalog.trigramIndex(emptyPart).count() === 0)
    assert(Catalog.fuzzySearchIndexed(
      Catalog.trigramIndex(emptyPart), "smal ring").count() === 0)
    assert(Catalog.searchProducts(emptyPart,
      bestMatchFor = Some("anything")).count() === 0)
    // empty ANN training sample degenerates to the (empty) corpus
    assert(Similarity.embedIvfTopK(emptyEmb, trainFactor = 1).count() === 0)
    assert(Etl.dedupExactReplay(emptyLi).collect()
      .head.getAs[Long]("n_rows_after_dedup") === 0L)
    assert(graft.sources.Multimodal.extractFeatures(
      graft.sources.Multimodal.mediaFromDocuments(emptyDocs)).count() === 0)
  }

  test("round-6 operators on empty inputs") {
    // occupancy report and capped pair generators on an empty corpus
    assert(Dedup.minhashBucketOccupancy(emptyDocs).count() === 0)
    assert(Dedup.minhashPairs(emptyDocs, bucketCap = 10).count() === 0)
    assert(Dedup.simhashPairs(emptyDocs, bucketCap = 10).count() === 0)
    assert(Similarity.embedNearDupPairs(emptyEmb, bucketCap = 10).count() === 0)
    // labels-based cluster variants on an empty label frame
    import spark.implicits._
    val noLabels = Seq.empty[(Long, Long)].toDF("id", "label")
    assert(Dedup.duplicateClustersFromLabels(noLabels).count() === 0)
    val docsAll = Tables.documents(spark, sfDir)
    assert(Dedup.dedupSurvivorsFromLabels(docsAll, noLabels).count() === docsAll.count())
    assert(Dedup.substringDupPairs(emptyDocs).count() === 0)
    assert(Dedup.exactSubstringSpans(emptyDocs).count() === 0)
    assert(Dedup.exactSubstringClean(emptyDocs).count() === 0)
    assert(Dedup.exactSubstringSpansAgainst(emptyDocs,
      Dedup.substringHashIndex(emptyDocs)).count() === 0)
    // quantized-ANN family: empty corpus → empty index, empty results
    assert(Similarity.sqIndex(emptyEmb).count() === 0)
    assert(Similarity.embedSqTopK(emptyEmb).count() === 0)
    assert(Similarity.embedIvfSqTopK(emptyEmb).count() === 0)
    assert(Similarity.embedPqTopK(emptyEmb).count() === 0)
    assert(Similarity.embedIvfPqTopK(emptyEmb).count() === 0)
    assert(Similarity.embedIvfPqTopK(emptyEmb, residual = true).count() === 0)
    assert(Similarity.pqCodes(emptyEmb).count() === 0)
    // gate primitive: empty batch against a real index, and a real
    // batch against an empty index
    val idx = Similarity.sqIndex(Tables.embeddings(spark, sfDir))
    assert(Similarity.sqNearDupAgainst(emptyEmb, idx).count() === 0)
    assert(Similarity.sqNearDupAgainst(
      Tables.embeddings(spark, sfDir).limit(5),
      Similarity.sqIndex(emptyEmb)).count() === 0)
    assert(Curation.tokenBudgetSample(emptyDocs).count() === 0)
    assert(Curation.dsirWeights(emptyDocs, targetSources = Seq("src0")).count() === 0)
    assert(TextAnalysis.sourceDivergence(emptyDocs).count() === 0)
    assert(Dedup.dupProvenance(emptyDocs).count() === 0)
    assert(Etl.snapshotDiff(emptyDocs, emptyDocs).count() === 0)
    assert(TextAnalysis.c4Rules(emptyDocs).count() === 0)
    // empty reference: every source is maximally drifted (exactly ln 2)
    val vsEmpty = TextAnalysis.divergenceAgainst(
      docsAll, TextAnalysis.termCounts(emptyDocs))
    assert(vsEmpty.count() > 0)
    vsEmpty.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("js_divergence") - math.log(2.0)) < 1e-4)
    }
    assert(TextAnalysis.divergenceAgainst(
      emptyDocs, TextAnalysis.termCounts(docsAll)).count() === 0)
    // one-sided snapshots still classify: everything added / removed
    val oneSided = Etl.snapshotDiff(emptyDocs, docsAll)
    assert(oneSided.count() === docsAll.count())
    assert(oneSided.filter(org.apache.spark.sql.functions
      .col("status") =!= "added").count() === 0)
    // empty eval set ⇒ nothing contaminated, every train vector rowed
    assert(Curation.flagContaminatedSemantic(emptyEmb, emptyEmb).count() === 0)
    val embAll = Tables.embeddings(spark, sfDir)
    val semantic = Curation.flagContaminatedSemantic(embAll, emptyEmb)
    assert(semantic.count() === embAll.count())
    assert(semantic.filter(org.apache.spark.sql.functions.col("contaminated"))
      .count() === 0)
    assert(Similarity.annRecall(emptyEmb, methods = Seq("sq")).count() === 0)
    assert(TextAnalysis.bigramPerplexity(emptyDocs).count() === 0)
    assert(TextAnalysis.trigramPerplexity(emptyDocs).count() === 0)
    assert(TextAnalysis.knPerplexity(emptyDocs).count() === 0)
    assert(TextAnalysis.mknPerplexity(emptyDocs).count() === 0)
    // an all-empty incremental KN update stays empty
    assert(TextAnalysis.knModelIncremental(
      TextAnalysis.knModel(emptyDocs), emptyDocs, emptyDocs).count() === 0)
    // phrase decontamination: empty corpus → no verdicts; empty phrase
    // set → every doc keeps
    val phrasesEmpty = emptyDocs.sparkSession.createDataFrame(
      emptyDocs.sparkSession.sparkContext
        .emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("phrase_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("phrase_text",
          org.apache.spark.sql.types.StringType))))
    assert(graft.operators.Retrieval.decontaminatePhrase(
      emptyDocs, phrasesEmpty).count() === 0)
    val corpusDocs = Tables.documents(spark, sfDir)
    val allKeep = graft.operators.Retrieval.decontaminatePhrase(
      corpusDocs, phrasesEmpty)
    assert(allKeep.count() === corpusDocs.count())
    assert(allKeep.filter(!org.apache.spark.sql.functions.col("keep"))
      .count() === 0)
    // incremental positional maintenance of nothing is nothing
    assert(graft.operators.Retrieval.positionalIndexIncremental(
      graft.operators.Retrieval.positionalIndex(emptyDocs),
      emptyDocs, emptyDocs).count() === 0)
    assert(Etl.corpusRollup(emptyDocs).count() === 0)
    // empty deltas against an empty prior rollup stay empty
    assert(Etl.rollupIncremental(Etl.corpusRollup(emptyDocs), emptyDocs,
      emptyDocs).count() === 0)
    // BPE on an empty corpus: no merges, no segments, no tokens
    val (bpeMerges, bpeSegs) = graft.operators.Bpe.bpeTrain(emptyDocs, nMerges = 3)
    assert(bpeMerges.count() === 0 && bpeSegs.count() === 0)
    assert(graft.operators.Bpe.bpeTokenize(emptyDocs, bpeSegs).count() === 0)
    // z-ordered write of an empty frame: schema-only parquet, no rows
    val zDir = tempRoot("zempty").toString + "/z"
    graft.sources.Sinks.writeZOrdered(emptyLi, zDir, Seq("l_partkey", "l_suppkey"), 4)
    assert(spark.read.parquet(zDir).count() === 0)
  }

  test("ccnet/collocation/url-dedup/outlier operators on empty inputs") {
    assert(Dedup.spanDedup(emptyDocs).count() === 0)
    assert(TextAnalysis.ccnetBuckets(emptyDocs).count() === 0)
    assert(TextAnalysis.collocations(emptyDocs).count() === 0)
    assert(TextCleaning.urlDedup(emptyDocs).count() === 0)
    assert(Similarity.embedOutliers(emptyEmb).count() === 0)
    assert(TextAnalysis.perplexityAgainst(
      emptyDocs, TextAnalysis.termCounts(emptyDocs)).count() === 0)
  }

  test("retrieval and fuzzy-decontamination on empty inputs") {
    import spark.implicits._
    val q = Seq((0L, "apple banana")).toDF("query_id", "query_text")
    val emptyQ = q.limit(0)
    assert(Retrieval.bm25Search(emptyDocs, q).count() === 0)
    assert(Retrieval.bm25Search(Tables.documents(spark, sfDir), emptyQ).count() === 0)
    val (p, m) = Retrieval.bm25Index(emptyDocs)
    assert(p.count() === 0)
    assert(Retrieval.cosineTopK(emptyEmb, Seq(0L), 5).count() === 0)
    assert(Retrieval.mmrSelect(emptyEmb, 0L, k = 3, poolSize = 4).count() === 0)
    assert(Retrieval.hardNegatives(emptyEmb, Seq(0L)).count() === 0)
    assert(Retrieval.hybridSearch(emptyDocs, emptyEmb, Seq(0L)).count() === 0)
    assert(Curation.flagContaminatedFuzzy(emptyDocs, emptyDocs).count() === 0)
    assert(Curation.corpusBuild(emptyDocs, emptyDocs).count() === 0)
    assert(Curation.corpusBuildReport(
      Curation.corpusBuild(emptyDocs, emptyDocs)).count() === 0)
    assert(Curation.corpusAudit(emptyDocs,
      Curation.corpusBuild(emptyDocs, emptyDocs)).count() === 0)
  }

  test("round-8 operators on empty inputs") {
    import spark.implicits._
    val q = Seq((0L, "apple banana")).toDF("query_id", "query_text")
    assert(Retrieval.phraseSearch(emptyDocs, q).count() === 0)
    assert(Retrieval.phraseSearch(
      Tables.documents(spark, sfDir), q.limit(0)).count() === 0)
    assert(Retrieval.positionalIndex(emptyDocs).count() === 0)
    assert(graft.operators.Similarity.annMetrics(
      emptyEmb, methods = Seq("lsh")).count() === 0)
  }

  test("wordpiece on empty corpus") {
    val (m, seg) = graft.operators.Wordpiece.wordpieceTrain(emptyDocs, nMerges = 3)
    assert(m.count() === 0)
    assert(seg.count() === 0)
    assert(graft.operators.Wordpiece
      .wordpieceTokenize(emptyDocs, seg).count() === 0)
  }

  test("nb incremental maintenance on empty inputs") {
    import spark.implicits._
    val emptyLabels = Seq.empty[(Long, Int)].toDF("doc_id", "label")
    val docs = Seq((1L, "apple banana")).toDF("doc_id", "text")
    val labels = Seq((1L, 1)).toDF("doc_id", "label")
    val prior = graft.operators.Classifier.nbTrain(docs, labels)
    // everything removed: the maintained model is empty
    assert(graft.operators.Classifier.nbModelIncremental(
      prior, docs, labels, emptyDocs.select("doc_id", "text"), emptyLabels)
      .count() === 0)
    // empty prior + empty old corpus: maintenance == train-from-scratch
    val emptyPrior = prior.limit(0)
    assert(graft.operators.Classifier.nbModelIncremental(
        emptyPrior, emptyDocs.select("doc_id", "text"), emptyLabels, docs, labels)
      .collect().map(_.toString).toSeq ===
      prior.collect().map(_.toString).toSeq)
  }

  test("round-11 operators on empty inputs") {
    import spark.implicits._
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val prior = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val priorE = Graph.canonicalEdges(prior)
    val priorL = Graph.componentLabels(prior)
    // signed forms with BOTH slices empty: identity with the prior face
    assert(Graph.componentsSigned(priorE, priorL, noEdges, noEdges)
      .collect().map(_.toString).toSeq ===
      Graph.components(prior).collect().map(_.toString).toSeq)
    val priorC = Graph.coreness(prior)
    assert(Graph.corenessSigned(priorE, priorL, priorC, noEdges, noEdges)
      .collect().map(_.toString).toSeq ===
      priorC.collect().map(_.toString).toSeq)
    // removing EVERY edge empties every face
    assert(Graph.componentsSigned(priorE, priorL, noEdges, prior).count() === 0)
    assert(Graph.corenessSigned(priorE, priorL, priorC, noEdges, prior)
      .count() === 0)
    assert(Graph.trianglesSigned(priorE, priorL, Graph.triangles(prior),
      noEdges, prior).count() === 0)
    assert(Graph.kTrussSigned(priorE, priorL,
      Graph.kTruss(prior, 3), noEdges, prior, 3).count() === 0)
    // empty media corpus: fingerprints, pairs, and occupancy all empty
    val noMedia = graft.sources.Multimodal.syntheticImages(emptyDocs)
    val noFps = graft.sources.Multimodal.imageFingerprints(noMedia).toDF()
    assert(noFps.count() === 0)
    assert(graft.sources.Multimodal.imageNearDup(noFps).count() === 0)
    assert(Dedup.fingerprintPairs(
      noFps.select(org.apache.spark.sql.functions.col("media_id").as("doc_id"),
        org.apache.spark.sql.functions.col("dhash").as("fp"))).count() === 0)
    // semDeDup incremental with an empty touched set: prior verdict
    // passes through verbatim
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val (assign, _) = Similarity.semDeDupIndex(emb, nCentroids = Some(1))
    val verdict = Similarity.semDeDupFromIndex(emb, assign).localCheckpoint()
    val noCids = assign.select("cid").limit(0)
    assert(Similarity.semDeDupIncremental(emb, assign, verdict, noCids)
      .collect().map(_.toString).toSeq ===
      verdict.collect().map(_.toString).toSeq)
  }

  test("round-12 operators on empty inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val priorW = Seq((1L, 2L, 3L), (2L, 3L, 1L)).toDF("a", "b", "w")
    val priorR = Graph.pageRank(
        priorW.select(col("a").as("src"), col("b").as("dst"), col("w")))
      .select("node", "rank_micro").localCheckpoint()
    val noDeltas = Seq.empty[(Long, Long, Long)].toDF("a", "b", "dw")
    // empty weight delta: the signed warm run IS the direct warm run
    // over the unchanged prior graph
    assert(Graph.pageRankSigned(priorW, priorR, noDeltas)
      .collect().map(_.toString).toSeq ===
      Graph.pageRank(
          priorW.select(col("a").as("src"), col("b").as("dst"), col("w")),
          startRanks = Some(priorR))
        .collect().map(_.toString).toSeq)
    // deltas that delist EVERY pair empty the ranking entirely
    val killAll = priorW.select(col("a"), col("b"), (-col("w")).as("dw"))
    assert(Graph.pageRankSigned(priorW, priorR, killAll).count() === 0)
    // fingerprintPairsAgainst: empty on either side is empty output
    val fps = Seq((1L, 7L)).toDF("doc_id", "fp")
    val noFps = fps.limit(0)
    assert(Dedup.fingerprintPairsAgainst(noFps, fps).count() === 0)
    assert(Dedup.fingerprintPairsAgainst(fps, noFps).count() === 0)
    // signedLabels with both slices empty: identity with the prior
    // labeling (the compaction no-op case)
    val prior = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val priorE = Graph.canonicalEdges(prior)
    val priorL = Graph.componentLabels(prior)
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(Graph.signedLabels(priorE, priorL, noEdges, noEdges)
      .orderBy("id").collect().map(_.toString).toSeq ===
      priorL.orderBy("id").collect().map(_.toString).toSeq)
  }
}
