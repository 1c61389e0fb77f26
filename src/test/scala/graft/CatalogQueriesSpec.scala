package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Section A (reference API surface) operator specs on sf0.001. */
class CatalogQueriesSpec extends AnyFunSuite with SparkSessionTestBase {

  test("q1_pricing_summary groups by flag/status and sums are positive") {
    val df = Pricing.pricingSummary(Tables.lineitem(spark, sfDir))
    val rows = df.collect()
    assert(rows.length === 6) // 2 returnflags observed x linestatus combos
    assert(rows.forall(_.getAs[Double]("sum_qty") > 0))
    assert(df.columns.toSeq === Seq("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "sum_charge", "avg_qty", "avg_price",
      "avg_disc", "count_order"))
  }

  test("searchProducts applies every filter and paginates deterministically") {
    val part = Tables.part(spark, sfDir)
    val all = Catalog.searchProducts(part, nameContains = Some("red"),
      category = Some("ECONOMY"), limit = 1000)
    val rows = all.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[String]("p_name").contains("red")))
    assert(rows.forall(r => r.getAs[String]("p_type") == "ECONOMY"))
    // pagination: page 2 of size 3 == rows 3..5 of the full sorted result
    val page = Catalog.searchProducts(part, nameContains = Some("red"),
      category = Some("ECONOMY"), limit = 3, offset = 3).collect()
    assert(page.map(_.getLong(0)).toSeq === rows.slice(3, 6).map(_.getLong(0)).toSeq)
  }

  test("searchProducts promo/store filters mirror observation EXISTS semantics") {
    val part = Tables.part(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val onSale = Catalog.searchProducts(part, li = Some(li),
      onPromo = Some(true), storeId = Some(5L), limit = 1000).collect()
    assert(onSale.nonEmpty)
    val qualifying = li.filter(col("l_suppkey") === 5 && col("l_discount") > 0)
      .select("l_partkey").distinct().collect().map(_.getLong(0)).toSet
    assert(onSale.map(_.getLong(0)).forall(qualifying))
    // regular-price filter is the complement condition, not the negation
    val regular = Catalog.searchProducts(part, li = Some(li),
      onPromo = Some(false), storeId = Some(5L), limit = 1000).collect()
    val regularKeys = li.filter(col("l_suppkey") === 5 && col("l_discount") === 0)
      .select("l_partkey").distinct().collect().map(_.getLong(0)).toSet
    assert(regular.map(_.getLong(0)).forall(regularKeys))
  }

  test("searchProducts best-match prefers bidirectional name containment") {
    val part = Tables.part(spark, sfDir)
    // "small ring" ⊂ "small ring deluxe": the name-in-query direction
    val hit = Catalog.searchProducts(part, nameContains = Some("ring"),
      limit = 100, bestMatchFor = Some("small ring deluxe")).collect()
    assert(hit.length === 1)
    assert(hit.head.getAs[Boolean]("matched"))
    assert(hit.head.getAs[String]("p_name") === "small ring")
    // no containment either way → falls back to the first result
    val all = Catalog.searchProducts(part, nameContains = Some("ring"),
      limit = 100).collect()
    val fallback = Catalog.searchProducts(part, nameContains = Some("ring"),
      limit = 100, bestMatchFor = Some("zzz unmatchable zzz")).collect()
    assert(fallback.length === 1)
    assert(!fallback.head.getAs[Boolean]("matched"))
    assert(fallback.head.getLong(0) === all.head.getLong(0))
  }

  test("fuzzySearch ranks trigram-Jaccard matches, typo-tolerant") {
    val part = Tables.part(spark, sfDir)
    val rows = Catalog.fuzzySearch(part, "smal ring", threshold = 0.3, limit = 15).collect()
    assert(rows.nonEmpty)
    // the typo's near-exact target outranks every shared-suffix name
    assert(rows.head.getAs[String]("p_name") === "small ring")
    // similarity is a true Jaccard over distinct char-3-gram sets
    def grams(t: String) = t.sliding(3).toSet
    rows.foreach { r =>
      val g = grams(r.getAs[String]("p_name").toLowerCase)
      val q = grams("smal ring")
      val expected = g.intersect(q).size.toDouble / g.union(q).size
      assert(math.abs(r.getAs[Double]("similarity") - expected) < 1e-6)
      assert(r.getAs[Double]("similarity") >= 0.3)
    }
    // descending, tie-broken by key: deterministic pagination
    val sims = rows.map(r => (-r.getAs[Double]("similarity"), r.getLong(0))).toSeq
    assert(sims === sims.sorted)
    // sub-threshold queries return nothing rather than noise
    assert(Catalog.fuzzySearch(part, "qqqxyzvv", threshold = 0.3).collect().isEmpty)
  }

  test("fuzzySearchIndexed over a persisted index equals the online form") {
    val part = Tables.part(spark, sfDir)
    // round-trip the index through parquet, as production would
    val idxDir = tempRoot("trgmidx").toString
    Catalog.trigramIndex(part).write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    for (q <- Seq("smal ring", "red widgit", "blu bolt")) {
      val online = Catalog.fuzzySearch(part, q, threshold = 0.25, limit = 20)
        .collect().map(_.toString).toSeq
      val probed = Catalog.fuzzySearchIndexed(idx, q, threshold = 0.25, limit = 20)
        .collect().map(_.toString).toSeq
      assert(probed === online, s"query=$q")
      assert(probed.nonEmpty, s"query=$q")
    }
    // the posting-list probe reaches the parquet scan as a pushed IN
    // filter — the property that makes the index worth persisting
    val probePlan = Catalog.fuzzySearchIndexed(idx, "smal ring")
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PushedFilters: [In(g, ["),
      s"probe filter not pushed:\n${probePlan.take(2000)}")
  }

  test("storeLookup filters the dimension by name and city contains") {
    // sf0.001's supplier dim is too small to match both filters
    val dimDir = "/root/testdata/sf0.01"
    val rows = Catalog.storeLookup(Tables.supplier(spark, dimDir),
      Tables.nation(spark, dimDir), Tables.region(spark, dimDir),
      nameContains = Some("5"), cityContains = Some("1")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("store_name").contains("5")))
    assert(rows.forall(_.getAs[String]("city").contains("1")))
  }

  test("lowestPricePerStore with category and rowLimit returns cheapest-first") {
    val li = Tables.lineitem(spark, sfDir)
    val part = Tables.part(spark, sfDir)
    val rows = Pricing.lowestPricePerStore(li, Some(part),
      category = Some("STANDARD"), rowLimit = Some(5)).collect()
    assert(rows.length <= 5 && rows.nonEmpty)
    val prices = rows.map(_.getAs[Double]("effective_price"))
    assert(prices.sameElements(prices.sorted))
    // every returned product is in the category
    val std = part.filter(col("p_type") === "STANDARD")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("l_partkey")).forall(std))
  }

  test("storeProducts name search restricts the joined catalog") {
    val rows = Catalog.storeProducts(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), 7L, category = None, search = Some("red")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("p_name").toLowerCase.contains("red")))
  }

  test("priceCompare sorts stores cheapest-first within each product") {
    val df = Pricing.priceCompare(Tables.lineitem(spark, sfDir), Seq(25L, 125L))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val prices = rs.map(_.getAs[Double]("effective_price"))
      assert(prices.sameElements(prices.sorted))
    }
  }

  test("productCard shows one latest observation per carrying store") {
    val li = Tables.lineitem(spark, sfDir)
    val rows = Pricing.productCard(li, Tables.supplier(spark, sfDir), 42L).collect()
    assert(rows.nonEmpty)
    // one row per store, sorted cheapest-effective first
    val stores = rows.map(_.getAs[Long]("store_id"))
    assert(stores.distinct.length === stores.length)
    val prices = rows.map(_.getAs[Double]("effective_price"))
    assert(prices.sameElements(prices.sorted))
    // the row really is the store's latest observation of the product
    val latest = li.filter(col("l_partkey") === 42L)
      .groupBy("l_suppkey").agg(max("l_shipdate").as("m"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    rows.foreach(r =>
      assert(r.getAs[Any]("collected_at") === latest(r.getAs[Long]("store_id"))))
  }

  test("lowestPricePerStore yields one (or tied) winner rows per store") {
    val li = Tables.lineitem(spark, sfDir)
    val df = Pricing.lowestPricePerStore(li)
    val rows = df.collect()
    val nStores = li.select("l_suppkey").distinct().count()
    assert(rows.map(_.getLong(0)).distinct.length === nStores)
    // savings_percent of the most expensive winner is 0
    assert(rows.exists(_.getAs[Double]("savings_percent") == 0.0))
  }

  test("priceAnomalies flags only beyond-sigma deviations") {
    // sf0.001 groups are ~3 observations (max attainable z ≈ 1.15), so
    // use sf0.01 where 2σ outliers exist
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val rows = Pricing.priceAnomalies(li, sigma = 2.0).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getAs[Double]("z_score")) >= 1.99))
    // determinism across runs
    val again = Pricing.priceAnomalies(li, sigma = 2.0).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("priceHistory is newest-first and range-bounded") {
    val df = Pricing.priceHistory(Tables.lineitem(spark, sfDir), 42L, "1996-01-01", "2001-12-31")
    val ms = df.collect()
      .map(_.getAs[java.time.LocalDateTime]("collected_at")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    assert(ms.nonEmpty)
    assert(ms.zip(ms.tail).forall { case (a, b) => a >= b })
  }

  test("priceTrend classifies within ±5% band as stable") {
    val df = Pricing.priceTrend(Tables.lineitem(spark, sfDir))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val recent = r.getAs[Double]("recent_avg")
      val older = r.getAs[Double]("older_avg")
      val trend = r.getAs[String]("trend")
      if (recent > older * 1.06) assert(trend == "increasing")
      if (recent < older * 0.94) assert(trend == "decreasing")
    }
  }

  test("bestBasket ranks by coverage then total price") {
    val df = Pricing.bestBasket(Tables.lineitem(spark, sfDir), Seq(3L, 42L, 77L, 256L))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getAs[Long]("n_products"),
      r.getAs[Double]("total_price")))
    assert(pairs.sameElements(pairs.sortBy { case (n, p) => (-n, p) }))
  }

  test("storeProducts restricts to the store and category") {
    val df = Catalog.storeProducts(Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir),
      7L, Some("ECONOMY"))
    val rows = df.collect()
    assert(rows.forall(_.getAs[String]("p_type") == "ECONOMY"))
  }

  test("distinct dims and stats") {
    val part = Tables.part(spark, sfDir)
    assert(Catalog.distinctCategories(part).count() === 6)
    assert(Catalog.distinctBrands(part).collect().map(_.getString(0)).forall(_.startsWith("Brand#")))
    val st = Catalog.stats(Tables.lineitem(spark, sfDir)).collect().head
    assert(st.getAs[Long]("total_observations") > 0)
    assert(st.getAs[Long]("on_promo") <= st.getAs[Long]("total_observations"))
  }

  test("storeDim rolls suppliers up to region/nation") {
    val df = Catalog.storeDim(Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir),
      Tables.region(spark, sfDir))
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("n_suppliers")).sum ===
      Tables.supplier(spark, sfDir).count())
  }

  test("substitutes are same-category, cheaper, and share name tokens") {
    val df = Catalog.substitutes(Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir), 42L)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("savings") > 0))
    assert(rows.forall(_.getAs[Long]("shared_tokens") >= 1))
    assert(rows.forall(_.getLong(0) != 42L))
  }

  test("storeInfo returns one profile row with pushed store filter") {
    val df = graft.operators.Catalog.storeInfo(
      Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir),
      Tables.supplier(spark, sfDir), 7L)
    val rows = df.collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("store_id") === 7L)
    assert(r.getAs[Long]("products_on_sale") <= r.getAs[Long]("total_products"))
    assert(r.getAs[String]("category_list").split(",").length ===
      r.getAs[Long]("categories_available"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_suppkey)"))
  }

  test("statsRollup subtotals are consistent at every grouping level") {
    val part = Tables.part(spark, sfDir)
    val rows = graft.operators.Catalog.statsRollup(part).collect()
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_products") === part.count())
    // each category subtotal equals the sum of its brand cells
    val cells = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
    val subtotals = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    subtotals.foreach { s =>
      val cat = s.getString(0)
      val cellSum = cells.filter(_.getString(0) == cat).map(_.getAs[Long]("n_products")).sum
      assert(s.getAs[Long]("n_products") === cellSum, s"category $cat")
    }
    // one Expand pass: a single shuffle, not a union of three scans
    val plan = graft.operators.Catalog.statsRollup(part).queryExecution.executedPlan.toString
    assert(plan.contains("Expand"))
    assert(plan.sliding("Scan parquet".length).count(_ == "Scan parquet") === 1)
  }

  test("entry flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or is documented rows-only") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
