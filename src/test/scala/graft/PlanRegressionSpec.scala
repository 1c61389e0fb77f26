package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the performance properties the
  * operators were designed around, asserted against the actual
  * physical plans so a refactor cannot silently lose them. */
class PlanRegressionSpec extends AnyFunSuite with SparkSessionTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("search filters reach the parquet scan") {
    val p = plan("q_search_products")
    // toString elides long filter lists; assert the scan carries pushed
    // filters and the plan has no extra Exchange (scan → filter → topK)
    assert(p.contains("PushedFilters: [IsNotNull(p_name)"))
    assert(!p.contains("Exchange"))
  }

  test("price history prunes by part key and date at the scan") {
    val p = plan("q_price_history")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey)"))
  }

  test("store products broadcasts the part dimension") {
    val p = plan("q_store_products")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(l_suppkey)"))
  }

  test("store dim snowflake joins broadcast both dimensions") {
    val p = plan("q_store_dim")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2)
  }

  test("top-k queries fuse sort and limit (no global sort materialization)") {
    assert(plan("q_search_products").contains("TakeOrderedAndProject"))
    assert(plan("q_top_open_orders").contains("TakeOrderedAndProject"))
  }

  test("scan column pruning: q1 reads only the needed lineitem columns") {
    val p = plan("q1_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"))
  }

  test("embed top-k broadcasts the query set, not the corpus") {
    val p = plan("q_embed_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    // rank via the bounded graft_topk aggregate with a map-side partial
    // pass — the shuffle carries k rows per query per partition, never
    // the full scored candidate set (the window formulation's cost)
    assert(p.contains("graft_topk"))
    assert(p.contains("partial_graft_topk"))
    assert(!p.contains("row_number"))
  }

  test("promo search semi-joins observations with pushed store/promo filters") {
    val p = plan("q_search_promo")
    assert(p.contains("LeftSemi"))
    assert(p.contains("PushedFilters: [IsNotNull(l_suppkey)") ||
      p.contains("PushedFilters: [IsNotNull(l_discount)"))
  }

  test("lowest-price category scope is a broadcast semi-join on the catalog") {
    val p = plan("q_lowest_price_category")
    assert(p.contains("LeftSemi"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("sketch queries run on native codegen expressions, not lambdas") {
    assert(plan("q_dedup_simhash").contains("graft_simhash"))
    // minhashPairs localCheckpoints the signature frame (persistence
    // contract), so the pairs plan scans the materialized RDD; the
    // native-expression lock lives on the signature stage itself
    assert(operators.Dedup.minhashSignatures(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString.contains("graft_minhash"))
    assert(plan("q_embed_neardup").contains("graft_lsh"))
    assert(plan("q_embed_lsh_topk").contains("graft_dot"))
  }

  test("quantized ANN ranks through bounded graft_topk, never a window") {
    // SQ and PQ scoring pools rerank candidates via the map-side
    // partial top-k aggregate; a row_number window would shuffle the
    // full scored candidate set per query
    val sq = plan("q_embed_sq_topk")
    assert(sq.contains("partial_graft_topk"))
    assert(!sq.contains("row_number"))
    val pq = plan("q_embed_pq_topk")
    assert(pq.contains("partial_graft_topk"))
    // ADC scores via the native kernel on the packed-code scan — the
    // shuffle after the broadcast LUT is the bounded top-k partial,
    // never one row per scored (query, vector) pair
    assert(pq.contains("graft_pq_adc"))
    // the only window is pqModel's per-subspace cid renumbering
    // (bounded: ≤ nCodes rows per sub); nothing windows per query or
    // per vector
    assert(!pq.contains("windowspecdefinition(query_id"))
    assert(!pq.contains("windowspecdefinition(vec_id"))
    // the IVF composition keeps both bounded kernels through the
    // list-probe join (its only windows are the bounded probe ranking
    // and cid renumbering)
    val ivfpq = plan("q_embed_ivf_pq_topk")
    assert(ivfpq.contains("graft_pq_adc"))
    assert(ivfpq.contains("partial_graft_topk"))
    // the residual layout keeps both bounded kernels: the coarse term
    // rides the probe join's own centroid dot — no extra corpus pass,
    // no per-probe LUT rebuild, same bounded top-k shuffle
    val res = plan("q_embed_ivf_pq_residual")
    assert(res.contains("graft_pq_adc"))
    assert(res.contains("partial_graft_topk"))
    assert(!res.contains("windowspecdefinition(query_id"))
  }

  test("indexed SQ search scores from the persisted int8 artifact") {
    val p = plan("q_embed_sq_topk_indexed")
    // the scoring scan is a FileScan over the written index (path
    // carries the graft_sq_idx prefix) reading the tinyint codes —
    // not a re-quantization of the fp embeddings
    assert(p.contains("graft_sq_idx"))
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.contains("qv") && rs.contains("tinyint"))
    assert(p.contains("partial_graft_topk"))
  }

  test("indexed PQ search scores from the persisted code artifact") {
    val p = plan("q_embed_pq_topk_indexed")
    assert(p.contains("graft_pq_idx"))
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.contains("codes") && rs.contains("tinyint"))
    assert(p.contains("graft_pq_adc"))
    assert(p.contains("partial_graft_topk"))
  }

  test("indexed IVF search probes the persisted posting lists") {
    val p = plan("q_embed_ivf_topk_indexed")
    // posting lists + centroids come from the parquet artifact; no
    // Lloyd pass or assignment checkpoint (an ExistingRDD scan) may
    // appear — serving rebuilds nothing
    assert(p.contains("graft_ivf_idx"))
    assert(!p.contains("Scan ExistingRDD"))
    assert(p.contains("partial_graft_topk"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("composed IVF×SQ / IVF×PQ serve from BOTH persisted artifacts") {
    // the int8/PQ code scans and the posting-list scan are all
    // FileScans over the shared artifacts; nothing retrains (no
    // ExistingRDD), and the bounded top-k kernel still carries the
    // only post-broadcast shuffle
    val sq = plan("q_embed_ivf_sq_indexed")
    assert(sq.contains("graft_ivf_idx") && sq.contains("graft_sq_idx"))
    assert(!sq.contains("Scan ExistingRDD"))
    assert(sq.contains("partial_graft_topk"))
    val pq = plan("q_embed_ivf_pq_indexed")
    assert(pq.contains("graft_ivf_idx") && pq.contains("graft_pq_idx"))
    assert(!pq.contains("Scan ExistingRDD"))
    assert(pq.contains("graft_pq_adc"))
    assert(pq.contains("partial_graft_topk"))
  }

  test("expectations serving folds the persisted partials artifact") {
    // serveVerdicts localCheckpoints its merged input, so the scans
    // live in the MERGE plan — assert there: the base verdict
    // partials come from the fingerprint-keyed parquet artifact and
    // the only lineitem scan is the 5 % delta slice
    import graft.operators.Expectations
    val merged = Expectations.mergePartials(Seq(
      SparkEntry.expPartialsShared(spark, sfDir),
      Expectations.partials(
        SparkEntry.expDeltaTables(spark, sfDir), SparkEntry.expectationChecks)))
    val p = merged.queryExecution.executedPlan.toString
    assert(p.contains("graft_exp_partials"))
    // the battery's scalar/unique/FK passes each scan the delta slice
    // (that is fine — the slice is 5 %); what must NOT appear is a
    // lineitem scan WITHOUT the delta filter, i.e. a base re-verify
    def lineitemScans(pl: String) = pl.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("lineitem"))
      .toSeq
    // base-slice scans carry the NEGATED filter "NOT ((… % 20) = 7)"
    def isBaseScan(l: String) =
      !l.contains("% 20) = 7") || l.contains("NOT ((l_orderkey")
    val servedScans = lineitemScans(p)
    assert(servedScans.nonEmpty)
    assert(!servedScans.exists(isBaseScan),
      s"a lineitem scan without the delta filter means a base re-verify:\n$p")
    // the inline form re-verifies the base: it carries lineitem scans
    // with the BASE filter (% 20 != 7) too
    val inline = Expectations.mergePartials(Seq(
      Expectations.partials(
        SparkEntry.expBaseTables(spark, sfDir), SparkEntry.expectationChecks),
      Expectations.partials(
        SparkEntry.expDeltaTables(spark, sfDir), SparkEntry.expectationChecks)))
      .queryExecution.executedPlan.toString
    assert(lineitemScans(inline).exists(isBaseScan),
      "the inline form must scan the base lineitem")
  }

  test("top-terms is a partial-combined aggregate with fused top-k") {
    val p = plan("q_top_terms")
    // two HashAggregates around one Exchange (map-side combine), then
    // TakeOrderedAndProject — never a global sort of the vocabulary
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2)
  }

  test("tfidf top-k rank is group-limited before the window sort") {
    val p = plan("q_tfidf_topterms")
    // WindowGroupLimit prunes each doc's terms to k before/inside the
    // window sort — the property that keeps per-doc state bounded
    assert(p.contains("WindowGroupLimit"))
    // the scalar corpus size rides a broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("chunk dedup ownership is a partial-combined min aggregation") {
    val p = plan("q_chunk_dedup")
    // min(struct(doc,idx)) must partial-aggregate map-side so
    // boilerplate mega-chunks collapse before the shuffle (a window
    // rank over the hash would hot-spot instead)
    assert(!p.contains("Window ["))
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2)
  }

  test("fuzzy search fuses rank+limit over one scan; probe filter reaches the index") {
    val p = plan("q_fuzzy_search")
    assert(p.contains("TakeOrderedAndProject"))
    assert(scanCount(p) === 1)
    // no Expand: the gram stream ships once (distinct-then-count, not
    // countDistinct)
    assert(!p.contains("Expand"))
    val ip = plan("q_fuzzy_search_indexed")
    // the posting-list probe is a pre-aggregation filter on the gram
    // column — the GIN semantic that avoids scoring the whole catalog
    assert(ip.contains("TakeOrderedAndProject"))
    assert(ip.linesIterator.exists(l => l.contains("Filter") && l.contains("g#") &&
      l.contains(" IN ")))
  }

  test("best-match pick stays exchange-free on one scan") {
    val p = plan("q_search_best_match")
    assert(!p.contains("Exchange"))
    assert(scanCount(p) === 1)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("lowest-price-per-store pre-reduces per product before the store window") {
    val p = plan("q_lowest_price_per_store")
    // the partial-combined (store, product) min must run BEFORE the
    // per-store window so a hot store collapses map-side
    val aggIdx = p.indexOf("partial_min")
    val winIdx = p.indexOf("Window [min")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < aggIdx,
      s"window/aggregate order: aggIdx=$aggIdx winIdx=$winIdx")
  }

  test("curation pipeline's duplicate stage aggregates, never windows the hash") {
    val p = plan("q_curation_pipeline")
    // content-hash ownership must be a partial-combined min aggregate
    // (map-side combine collapses boilerplate-hot hash values before the
    // shuffle); a Window.partitionBy(content hash) would put every copy
    // of one hot value in a single task with no combine
    assert(!p.contains("Window ["))
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2)
  }

  test("bloom decontamination probes narrowly and joins after the prune") {
    val p = plan("q_decontaminate_bloom")
    // the sketch probe must exist as a Filter (narrow prune) and the
    // exact gram join must still be present to kill false positives
    assert(p.contains("graft_bloom_contains"))
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"))
  }

  test("co-purchase top-k fuses sort and limit") {
    val p = plan("q_copurchase")
    assert(p.contains("TakeOrderedAndProject"))
  }

  private def scanCount(p: String): Int =
    p.linesIterator.count(_.contains("Scan parquet"))

  test("single-scan rewrites stay single-scan (no per-consumer rescans)") {
    // Spark re-executes a branching subplan per consumer; these
    // operators were rewritten to key the same rows through windows /
    // kind-tagged unions instead of aggregate-then-join-back, and a
    // refactor must not quietly reintroduce the extra fact scans.
    // tfidf: the tokenization pass materializes once (checkpointed tf,
    // an ExistingRDD leaf in the final plan); the only parquet scan
    // left is the scalar n_docs count (column-pruned to zero columns)
    assert(scanCount(plan("q_tfidf_topterms")) === 1)
    assert(scanCount(plan("q_retention_cohorts")) === 1)
    assert(scanCount(plan("q_cohort_pivot")) === 1)
    assert(scanCount(plan("q_lowest_price_per_store")) === 1)
    assert(scanCount(plan("q_copurchase")) === 1)
  }

  test("fuzzy-search index probe pushes the posting-list filter to the file scan") {
    val p = plan("q_fuzzy_search_indexed")
    // the probe must hit the PERSISTED gram-sorted index: a parquet
    // scan whose PushedFilters carries the query's `g IN (...)` set —
    // with range-partitioned files this prunes whole files and row
    // groups, the pg_trgm GIN probe semantic on disk
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("In(g, ["), s"no In(g,...) pushed filter in: $scanLine")
    assert(p.contains("graft_trgm_idx"), "probe must read the persisted index files")
    // and it stays bit-equal to the online (no-index) form
    val indexed = SparkEntry.queries("q_fuzzy_search_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val online = SparkEntry.queries("q_fuzzy_search")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(indexed === online)
  }

  test("substring-dup df-cap aggregates the fingerprint key, never windows it") {
    val p = plan("q_substring_dup")
    // same contract as the ngram lock: the hot-fingerprint cap must be
    // a partial-combined groupBy + anti-join, not a window over the
    // fingerprint key
    assert(!p.contains("Window ["))
    assert(p.contains("partial_count") || p.contains("partial count"))
    assert(p.contains("LeftAnti"))
  }

  test("token-budget running sum is the two-level bucketed form") {
    val p = plan("q_token_budget_sample")
    // the per-doc running sum must window (source, bucket) — bounded
    // partitions — with cross-bucket offsets joined via broadcast; a
    // flat Window.partitionBy(source) would serialize a whole source
    // into one task
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(source#") && l.contains("bucket#")),
      "per-doc window must partition by (source, bucket)")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast")
  }

  test("bigram perplexity is pure partial-combined aggregation, no windows") {
    val p = plan("q_perplexity_bigram")
    // model building and scoring are groupBy aggregations (map-side
    // combine on hot bigrams); nothing windows a token or bigram key,
    // and the bigram stream is one narrow transform (no Expand, no
    // position self-join)
    assert(!p.contains("Window ["))
    assert(!p.contains("Expand"))
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2)
  }

  test("dsir scoring broadcasts the bucket model, never windows a key") {
    val p = plan("q_dsir_weights")
    // the nBuckets-row log-ratio model must ride a broadcast into the
    // scoring join; per-(doc, bucket) counts and the per-doc sum are
    // partial-combined aggregations — no window over any key, no Expand
    assert(!p.contains("Window ["))
    assert(!p.contains("Expand"))
    assert(p.contains("BroadcastHashJoin"))
    // the per-(doc, bucket) count stage sits behind the localCheckpoint
    // (it feeds three consumers); the visible per-doc sum must still be
    // partial-combined
    assert(p.contains("partial_sum"))
  }

  test("source divergence aggregates term keys, never windows them") {
    val p = plan("q_source_divergence")
    // (source, term) counts, term totals, and per-source sums are all
    // partial-combined groupBys — a stopword's posting list collapses
    // map-side; source totals ride broadcasts into the scoring join
    assert(!p.contains("Window ["))
    assert(!p.contains("Expand"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_count") || p.contains("partial count"))
  }

  test("indexed BPE tokenize reads the artifact, no merge loop in the plan") {
    val p = plan("q_bpe_tokenize_indexed")
    // the serving plan is scan + join + aggregate: the tokenizer
    // artifact comes from parquet (FileScan), the vocabulary joins as
    // a broadcast, and nothing recomputes merges (no iterative
    // checkpointed stages — a checkpoint would surface as an RDDScan)
    assert(p.contains("FileScan") || p.contains("BatchScan"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Scan ExistingRDD"),
      "serving plan must not contain checkpointed training stages")
    assert(!p.contains("Window ["))
  }

  test("ngram df-cap aggregates the gram key, never windows it") {
    val p = plan("q_ngram_jaccard")
    // df must come from a partial-combined groupBy (a boilerplate gram
    // collapses map-side); a Window.partitionBy(lang, gh) would land a
    // hot gram's entire posting list on one task with no combine —
    // the scale-killer shape tfidfTopTerms' lock also forbids
    assert(!p.contains("Window ["))
    assert(p.contains("partial_count") || p.contains("partial count"),
      "df stage must show a map-side partial aggregate")
    // the hot set prunes postings via an anti-join, then candidates
    // come from the self-join on the capped index
    assert(p.contains("LeftAnti"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("collocations aggregates bigram keys and fuses the top-k") {
    val p = plan("q_collocations")
    // bigram and unigram counts are partial-combined groupBys (a hot
    // bigram collapses map-side); nothing windows a token key; the
    // top-k is a TakeOrdered, never a full sort of the bigram table
    assert(!p.contains("Window ["))
    assert(!p.contains("Expand"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count") || p.contains("partial count"))
  }

  test("ccnet buckets window only the bounded score histogram") {
    val p = plan("q_ccnet_buckets")
    // the scored frame and the (lang, integer micro-nat score)
    // histogram are both checkpointed (each feeds two consumers), so
    // their partial aggregates run eagerly and the FINAL plan contains
    // exactly the TWO-LEVEL prefix-sum windows — within-block
    // ((lang, blk) partitions, ≤ 2^16 rows each) and the cross-block
    // offsets (per-lang over ≤ value-space/2^16 subtotal rows) riding
    // a broadcast join — never a window over document rows; the
    // doc-side bucket attachment is a join on (lang, score)
    assert(p.sliding("Window [".length).count(_ == "Window [") <= 2)
    assert(!p.contains("windowspecdefinition(doc_id"))
    // the within-block window must partition by the block key too
    assert(p.contains("blk"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("indexed perplexity serves from the LM artifact, no training stage") {
    val p = plan("q_perplexity_indexed")
    // the model comes from the parquet artifact; the self-trained
    // form's checkpointed vocabulary (an ExistingRDD scan) must not
    // appear — serving rebuilds nothing
    assert(p.contains("FileScan") || p.contains("BatchScan"))
    assert(!p.contains("Scan ExistingRDD"))
    assert(!p.contains("Window ["))
  }

  test("span dedup aggregates ownership, never windows or rejoins the hash") {
    val p = plan("q_span_dedup")
    // ownership is the chunkDedup min-of-struct aggregate: a
    // mega-duplicated span collapses map-side; the verdict re-keys by
    // doc_id (no hash join-back), so no window anywhere
    assert(!p.contains("Window ["))
    assert(p.contains("partial_min") || p.contains("partial min"))
  }

  test("url dedup is one partial-combined aggregation over canonicals") {
    val p = plan("q_url_dedup")
    assert(!p.contains("Window ["))
    assert(p.contains("partial_count") || p.contains("partial count"))
  }

  test("embed outliers broadcast the centroid and fuse the bottom-k") {
    val p = plan("q_embed_outliers")
    // the dim-row centroid rides a broadcast nested-loop join into the
    // corpus scan; ranking is a TakeOrdered over (cos asc, vec_id) —
    // no window, no global sort of the corpus
    assert(!p.contains("Window ["))
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("quantile rollup serves from the persisted histogram partials") {
    val p = plan("q_quantile_rollup")
    // partials come from the artifact; the only window runs over the
    // bounded per-source histogram, and the corpus is never rescanned
    assert(p.contains("graft_histq_idx"),
      "quantiles must read the persisted histogram artifact")
    assert(!p.contains("documents.parquet"),
      "quantiles must not rescan the corpus")
  }

  test("pca projection is a narrow literals-only map over the scan") {
    val p = plan("q_embed_pca")
    // the persisted model rides as literals: one codegen graft_dot per
    // component, no join, no aggregate, no training stage; the only
    // exchange is the output ordering
    assert(p.contains("graft_dot"))
    assert(!p.contains("Join"))
    assert(!p.contains("HashAggregate"))
    assert(!p.contains("Scan ExistingRDD"))
  }

  test("classifier apply serves literal weights: no join, no training stage") {
    val p = plan("q_classifier_apply")
    // the persisted weights are collected once (6 rows) and ride the
    // scoring plan as literals: scan → aggregate → sigmoid — no join
    // of any kind, no checkpointed IRLS stages, no window
    assert(!p.contains("Join"))
    assert(!p.contains("Scan ExistingRDD"))
    assert(!p.contains("Window ["))
    assert(p.contains("HashAggregate"))
  }

  test("trigram perplexity is pure partial-combined aggregation, no windows") {
    val p = plan("q_perplexity_trigram")
    // model building (uni/bi/tri counts) and per-doc scoring are all
    // groupBy aggregations; the trigram stream is one narrow transform
    // (no Expand, no position self-join), nothing windows a token key
    assert(!p.contains("Window ["))
    assert(!p.contains("Expand"))
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2)
  }

  test("incremental rollup aggregates deltas, never windows or rescans wide") {
    val p = plan("q_rollup_incremental")
    // the diff is one full-outer hash join on doc_id; the merge is a
    // partial-combined union aggregation — no window anywhere, and no
    // sort-merge join (doc_id equality join stays hash-based under AQE)
    assert(!p.contains("Window ["))
    assert(p.contains("HashAggregate"))
  }

  test("sketch rollup serves from the persisted partials, no corpus scan") {
    val p = plan("q_sketch_rollup")
    // the rollup plan unions tiny sketch blobs read back from the
    // artifact: a parquet scan of the partials, hll union/estimate
    // aggregates, and NO scan of the documents table (the whole point
    // of mergeable sketches — re-asking costs |partials|, not |corpus|)
    assert(p.contains("FileScan") || p.contains("BatchScan"))
    assert(p.contains("graft_hll_idx"),
      "rollup must read the persisted sketch artifact")
    assert(!p.contains("documents.parquet"),
      "rollup must not rescan the corpus")
    assert(!p.contains("Window ["))
  }

  test("grep probe pushes the trigram filter to the postings scan") {
    val p = plan("q_grep_indexed")
    // the audit must read the PERSISTED trigram postings with the
    // query's g IN (...) set pushed (file/row-group pruning on the
    // range-partitioned index); the corpus is touched only through the
    // slim candidate semi-join for the contains() verify
    val scanLine = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("graft_grep_idx")).getOrElse("")
    assert(scanLine.contains("In(g, ["),
      s"no In(g,...) pushed filter on the postings scan: $scanLine")
    assert(p.contains("LeftSemi"), "verify must run on candidates only")
    // and the driver entries stay bit-equal (online == served)
    val indexed = SparkEntry.queries("q_grep_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val online = SparkEntry.queries("q_grep")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(indexed === online)
  }

  test("kn serving reads the persisted type table and never windows") {
    val p = plan("q_perplexity_kn_indexed")
    // the model side is the slim persisted artifact; history,
    // continuation, and type-total stats re-derive from it with
    // model-sized aggregations, and the whole family is groupBy
    // aggregation — no window over a token key anywhere
    assert(p.contains("graft_kn_idx"),
      "serving must read the persisted KN type-table artifact")
    assert(!p.contains("Window ["))
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2)
    assert(!plan("q_perplexity_kn").contains("Window ["))
    // and serving is bit-equal to self-trained (the artifact IS the
    // model — same type table, same float path)
    val served = SparkEntry.queries("q_perplexity_kn_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val self = SparkEntry.queries("q_perplexity_kn")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(served === self)
    // modified KN serves from the SAME artifact under the same shape
    val pm = plan("q_perplexity_mkn_indexed")
    assert(pm.contains("graft_kn_idx"))
    assert(!pm.contains("Window ["))
    assert(SparkEntry.queries("q_perplexity_mkn_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq ===
      SparkEntry.queries("q_perplexity_mkn")(spark, sfDir)
        .collect().map(_.toString).toSeq)
  }

  test("cms serves from the persisted counters; estimates broadcast the sketch") {
    val p = plan("q_cms_build")
    assert(p.contains("graft_cms_idx"),
      "sketch must read the persisted counter artifact")
    assert(!p.contains("documents.parquet"),
      "the counter table must not rescan the corpus")
    val pe = plan("q_cms_estimate")
    // the depth×width sketch rides a broadcast into the estimate join;
    // exact counts and estimates are partial-combined aggregations
    assert(pe.contains("BroadcastHashJoin"))
    assert(!pe.contains("Window ["))
  }

  test("bm25 ranks through bounded graft_topk; df is a groupBy, never a term window") {
    val p = plan("q_bm25_search")
    // per-query rank must be the partial-combined top-k aggregate (the
    // shuffle carries k rows per query per partition even when a
    // common term matches the whole corpus); document frequency must
    // never be a count().over(partitionBy term) — a stopword's window
    // partition would one-task a corpus-sized posting list
    assert(p.contains("partial_graft_topk"))
    assert(!p.contains("row_number"))
    assert(!p.contains("Window ["))
  }

  test("bm25 index probe pushes the term filter to the postings scan") {
    val p = plan("q_bm25_indexed")
    // the serving path must hit the PERSISTED term-sorted postings: a
    // parquet scan whose PushedFilters carries the query's
    // `term IN (...)` set (file + row-group pruning on the range-
    // partitioned index), with NO corpus tokenization anywhere
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("In(term, ["),
      s"no In(term,...) pushed filter in: $scanLine")
    assert(p.contains("graft_bm25_idx"), "probe must read the persisted index")
    assert(!p.contains("documents.parquet"),
      "serving must never re-tokenize the corpus")
    // and the driver entries stay bit-equal (online == served)
    val indexed = SparkEntry.queries("q_bm25_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val online = SparkEntry.queries("q_bm25_search")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(indexed === online)
  }

  test("hybrid search ranks branches via graft_topk; only the bounded fusion windows") {
    val p = plan("q_hybrid_search")
    // both branch rankings are bounded top-k aggregates; the one
    // row_number is the RRF re-rank over per-query candidate sets
    // bounded by Σ branch k — it must partition by query_id
    assert(p.contains("partial_graft_topk"))
    assert(p.linesIterator.filter(_.contains("Window [row_number")).forall(
      _.contains("windowspecdefinition(query_id#")))
    // Spark's WindowGroupLimit partial pushdown bounds the fusion rank
    // map-side as well — keep it
    assert(p.contains("WindowGroupLimit"))
  }

  test("classifier eval's AUC prefix sum is the two-level bucketed form") {
    val p = plan("q_nb_eval")
    // the cumulative negs-below must window (blk)-partitioned score
    // histograms (bounded partitions) with cross-block offsets riding
    // a broadcast — a flat window over the whole score histogram would
    // serialize it into one task as the value space fills
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(blk#")),
      "histogram window must partition by blk")
    assert(p.contains("BroadcastHashJoin"), "block offsets must broadcast")
  }

  test("phrase probe pushes the term filter to the positional postings scan") {
    val p = plan("q_phrase_indexed")
    // the phrase probe must read the PERSISTED positional postings with
    // the phrases' term IN (...) set pushed (file/row-group pruning on
    // the term-range-partitioned artifact); the corpus itself is never
    // scanned — the plan is postings-only
    val scanLine = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("graft_pos_idx")).getOrElse("")
    assert(scanLine.contains("In(term, ["),
      s"no In(term,...) pushed filter on the postings scan: $scanLine")
    assert(!p.contains("documents.parquet"),
      "phrase serving must not rescan the corpus")
    // and the driver entries stay bit-equal (online == served)
    val indexed = SparkEntry.queries("q_phrase_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val online = SparkEntry.queries("q_phrase_search")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(indexed === online)
  }

  test("phrase decontamination probe pushes terms; corpus touched only for doc ids") {
    val p = plan("q_decontaminate_phrase_indexed")
    // the audit reads the PERSISTED positional postings with the
    // benchmark phrases' term IN (...) set pushed; the corpus scan is
    // the slim doc_id-only left join that produces keep=true rows —
    // its ReadSchema must carry doc_id alone, never text
    val scanLine = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("graft_pos_idx")).getOrElse("")
    assert(scanLine.contains("In(term, ["),
      s"no In(term,...) pushed filter on the postings scan: $scanLine")
    val docScan = p.linesIterator.find(l =>
      l.contains("documents.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(docScan.contains("struct<doc_id:bigint>"),
      s"corpus scan must prune to doc_id alone: $docScan")
    // and the driver entries stay bit-equal (online == served)
    val indexed = SparkEntry.queries("q_decontaminate_phrase_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val online = SparkEntry.queries("q_decontaminate_phrase")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(indexed === online)
  }

  test("exact-substring incremental serving probes the hash index, one corpus scan") {
    val p = plan("q_exact_substring_incremental")
    // the seed half's window counts come from the persisted artifact
    assert(p.contains("graft_es_idx"),
      "serving must read the persisted window-hash index")
    // the checkpointed batch windows are the ONLY documents-derived
    // input — the seed documents are never re-hashed at serve time
    assert(!p.contains("documents.parquet"),
      "no live documents scan at serve time: the batch windows are " +
        "checkpointed once, the seed rides the index")
  }

  test("entity-match indexed serving reads the blocking artifact, never re-counts df") {
    val p = plan("q_entity_match_indexed")
    // the served plan walks the persisted token → canonical posting
    // list; the df-cap stopword aggregation belongs to the index BUILD
    // and must not reappear at serve time (exactly one count-bearing
    // aggregate pair survives: the LeftAnti stopword join is gone)
    assert(p.contains("graft_er_idx"),
      "serving must read the persisted blocking index")
    assert(!p.contains("LeftAnti"),
      "df-cap stopword anti-join must not run at serve time")
    // the inline form DOES carry the stopword anti-join
    assert(plan("q_entity_match").contains("LeftAnti"))
    // scoring stays codegen'd expression work on the candidate join —
    // no UDF call anywhere in the match cascade
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"))
  }

  test("opq indexed serving scans the persisted triple, no retraining") {
    val p = plan("q_embed_opq_indexed")
    // the rotation is applied as plan literals (d codegen dots — the
    // pca-projection posture, model collected once from the ≤ d-row
    // artifact), scoring walks the rotated-space code parquet through
    // the native ADC kernel, and nothing retrains or re-encodes: no
    // checkpointed Lloyd stage anywhere in the serving plan
    assert(p.contains("graft_pq_adc"))
    assert(p.contains("graft_dot"))
    assert(p.contains("graft_opq_idx"),
      "serving must read the persisted OPQ artifact")
    assert(!p.contains("Scan ExistingRDD"),
      "no checkpointed training stage may survive into serving")
  }

  test("expectations folds all scalar checks per table into one aggregation pass") {
    import graft.operators.Expectations
    import graft.operators.Expectations.Check._
    // four aggregate-expressible checks against lineitem: the plan
    // must scan lineitem ONCE (one scan node), not once per check —
    // the stack-unpivot contract the operator is designed around
    val p = Expectations.verify(
        Map("lineitem" -> Tables.lineitem(spark, sfDir)),
        Seq(
          "lineitem" -> NotNull("l_orderkey"),
          "lineitem" -> InRange("l_quantity", 1.0, 50.0),
          "lineitem" -> AcceptedValues("l_returnflag", Seq("A", "N", "R")),
          "lineitem" -> Unique(Seq("l_orderkey", "l_linenumber"))))
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected ONE lineitem scan, saw $scans:\n$p")
  }

  test("expectations row gate broadcasts the FK parent key set") {
    val p = plan("q_stream_expectations")
    // the served (batch-identical) verdict table came through a
    // broadcast join against the distinct parent keys — but the gate's
    // own plan is the streaming one; lock the BATCH twin instead
    import graft.operators.Expectations
    import graft.operators.Expectations.Check._
    val b = Expectations.rowAudit(
        Tables.lineitem(spark, sfDir),
        Map("part" -> Tables.part(spark, sfDir)),
        Seq("l_orderkey", "l_linenumber"),
        Seq(ForeignKey("l_partkey", "part", "p_partkey")))
      .queryExecution.executedPlan.toString
    assert(b.contains("BroadcastHashJoin"),
      "the parent key set must broadcast — an exchange per micro-batch would shuffle facts")
    assert(p.nonEmpty) // the streaming entry itself ran end-to-end
  }

  test("signed index serves push the term IN filter to EVERY postings scan " +
      "through the last-writer-wins reconstruction") {
    // the property a Spark upgrade or a livePostings refactor silently
    // breaks (the r10 DotProduct-fallback defect class): the signed
    // serve must stay a term-pruned scan — seed face AND delta face —
    // never a full-index read per query batch. Built on a tiny signed
    // state with one streamed batch so the plan contains both scan
    // kinds plus the net-ops joins.
    import spark.implicits._
    val root = tempRoot("plan_pushdown_spec")
    def postingsScansPruned(plan: String, who: String): Unit = {
      val scans = plan.linesIterator
        .filter(l => l.contains("Scan parquet") && l.contains("postings"))
        .toSeq
      assert(scans.nonEmpty, s"$who: no postings scans found in\n$plan")
      scans.foreach { l =>
        assert(l.contains("In(term"),
          s"$who: postings scan without a pushed term IN filter:\n$l")
      }
    }
    try {
      val corpus = Seq((1L, "aa bb cc"), (2L, "dd ee")).toDF("doc_id", "text")
      val b0 = Seq((2L, "aa ff", "add"), (3L, "", "remove"))
        .toDF("doc_id", "text", "op")
      def streamInto(seedP: String, deltaP: String, tag: String,
          seed: org.apache.spark.sql.DataFrame => Unit,
          maintain: (org.apache.spark.sql.DataFrame, String, String, String) =>
            org.apache.spark.sql.streaming.StreamingQuery): Unit = {
        seed(corpus)
        val src = root.resolve(s"src_$tag").toString
        b0.write.parquet(src)
        val q = maintain(
          spark.readStream.schema(b0.schema).parquet(src),
          seedP, deltaP, root.resolve(s"ckpt_$tag").toString)
        try q.processAllAvailable() finally q.stop()
      }
      val (phrSeed, phrDelta) =
        (root.resolve("phr_seed").toString, root.resolve("phr_delta").toString)
      streamInto(phrSeed, phrDelta, "phr",
        graft.streaming.PhraseSignedStream.seedIndex(_, phrSeed),
        graft.streaming.PhraseSignedStream.indexMaintain)
      val phrPlan = graft.streaming.PhraseSignedStream.serveSearch(
          spark, phrSeed, phrDelta,
          Seq((0L, "aa bb")).toDF("query_id", "query_text"),
          termsLiteral = Seq("aa", "bb"))
        .queryExecution.executedPlan.toString
      postingsScansPruned(phrPlan, "phrase signed serve")

      val (bmSeed, bmDelta) =
        (root.resolve("bm_seed").toString, root.resolve("bm_delta").toString)
      streamInto(bmSeed, bmDelta, "bm",
        graft.streaming.Bm25SignedStream.seedIndex(_, bmSeed),
        graft.streaming.Bm25SignedStream.indexMaintain)
      val bmPlan = graft.streaming.Bm25SignedStream.serveSearch(
          spark, bmSeed, bmDelta,
          Seq((0L, "aa bb")).toDF("query_id", "query_text"),
          termsLiteral = Seq("aa", "bb"))
        .queryExecution.executedPlan.toString
      // the meta aggregate must ride the doclen face, not the postings
      assert(bmPlan.contains("doclen"),
        s"BM25 signed serve must aggregate corpus stats from the doclen face:\n$bmPlan")
      postingsScansPruned(
        bmPlan.linesIterator.filterNot(_.contains("doclen")).mkString("\n"),
        "bm25 signed serve")
    } finally graft.streaming.DeltaLayout.rmTree(root)
  }
}
