package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{Catalog, Pricing}
import graft.sources.{RawIngest, Sinks}
import graft.streaming.StreamMeter

object Workloads {
  def rm(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}

/** Salim API serving: a closed loop of one caller over a seeded
  * request schedule (see gen.py for the mix). */
object ApiMix {
  import Workloads._

  // One timed caller: with two, each call's latency depended on what the
  // other caller ran beside it, and runs of the same code spread about
  // twice as far (perfbench/README.md, "Sizing"). The warm-up only has
  // to compile and JIT every op, so it runs on two threads.
  val Callers = 1
  val WarmCallers = 2

  /** Build the call for one request: Tables loads, then the operator. */
  def build(h: Harness, op: String, p: JsonNode): DataFrame = {
    val s = h.spark
    val t = h.tracer
    def li = t.span("tables", "Tables.lineitem")(Tables.lineitem(s, h.data))
    def part = t.span("tables", "Tables.part")(Tables.part(s, h.data))
    def supplier = t.span("tables", "Tables.supplier")(Tables.supplier(s, h.data))
    def parts(k: String) = p.get(k).elements().asScala.map(_.asLong).toSeq
    op match {
      case "search" =>
        val pt = part
        t.span("operators", "Catalog.searchProducts")(Catalog.searchProducts(pt,
          nameContains = Some(p.get("term").asText), category = Some(p.get("category").asText),
          minSize = Some(p.get("min_size").asInt), maxSize = Some(p.get("max_size").asInt),
          minPrice = Some(p.get("min_price").asDouble),
          maxPrice = Some(p.get("max_price").asDouble),
          limit = p.get("limit").asInt, offset = p.get("offset").asInt))
      case "search_promo" =>
        val (pt, l) = (part, li)
        t.span("operators", "Catalog.searchProducts")(Catalog.searchProducts(pt,
          category = Some(p.get("category").asText), li = Some(l), onPromo = Some(true),
          storeId = Some(p.get("store").asLong), limit = p.get("limit").asInt))
      case "barcode" =>
        val l = li
        t.span("operators", "Pricing.priceCompare")(
          Pricing.priceCompare(l, Seq(p.get("part").asLong)))
      case "product_card" =>
        val (l, sp) = (li, supplier)
        t.span("operators", "Pricing.productCard")(
          Pricing.productCard(l, sp, p.get("part").asLong))
      case "history" =>
        val l = li
        t.span("operators", "Pricing.priceHistory")(Pricing.priceHistory(l,
          p.get("part").asLong, p.get("start").asText, p.get("end").asText))
      case "basket" =>
        val l = li
        t.span("operators", "Pricing.bestBasket")(Pricing.bestBasket(l, parts("parts")))
      case "fuzzy" =>
        val idx = t.span("SparkEntry", "trigramIndexShared")(SparkEntry.trigramIndexShared(s, h.data))
        t.span("operators", "Catalog.fuzzySearchIndexed")(
          Catalog.fuzzySearchIndexed(idx, p.get("query").asText, threshold = 0.3, limit = 15))
      case "store_products" =>
        val (l, pt) = (li, part)
        t.span("operators", "Catalog.storeProducts")(Catalog.storeProducts(l, pt,
          p.get("store").asLong, Some(p.get("category").asText)))
      case "lowest" =>
        val (l, pt) = (li, part)
        t.span("operators", "Pricing.lowestPricePerStore")(Pricing.lowestPricePerStore(l,
          part = Some(pt), category = Some(p.get("category").asText),
          rowLimit = Some(p.get("limit").asInt)))
      case "stats" =>
        val l = li
        t.span("operators", "Catalog.stats")(Catalog.stats(l))
    }
  }

  def run(h: Harness): Map[String, Any] = {
    val reqs = Json.read(s"${h.data}/requests.json").elements().asScala.toIndexedSeq
    val warm = Json.read(s"${h.data}/warmup.json").elements().asScala.toIndexedSeq
    def call(req: JsonNode, isWarm: Boolean): Map[String, Any] = {
      val op = req.get("op").asText
      h.op(op, isWarm) { id =>
        val df = build(h, op, req.get("params"))
        val rows = h.serve(df)
        if (!isWarm) h.result(id, op, Map("req" -> req.get("id").asLong), df, rows)
        Map("req" -> req.get("id").asLong, "rows" -> rows.length)
      }
    }
    // `callers` threads' closed loop over `list`, until it runs out or `until`
    def loop(list: IndexedSeq[JsonNode], isWarm: Boolean, until: Long, callers: Int): Unit = {
      val next = new AtomicInteger(0)
      val threads = (0 until callers).map { _ =>
        val th = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < list.size && System.nanoTime() < until) {
            call(list(i), isWarm)
            i = next.getAndIncrement()
          }
        })
        th.start()
        th
      }
      threads.foreach(_.join())
    }
    // The trigram index builds beside the warm-up calls of the other
    // ops; the fuzzy calls read it (and would rebuild it if it were
    // missing), so they warm up once it is built.
    val setupS = h.timeSetup {
      val index = new Thread(() => SparkEntry.trigramIndexShared(h.spark, h.data).count(): Unit)
      index.start()
      val (fuzzy, rest) = warm.partition(_.get("op").asText == "fuzzy")
      loop(rest, isWarm = true, Long.MaxValue, WarmCallers)
      index.join()
      loop(fuzzy, isWarm = true, Long.MaxValue, WarmCallers)
    }
    val from = h.startTimed()
    val start = System.nanoTime()
    loop(reqs, isWarm = false, start + (h.seconds * 1e9).toLong, Callers)
    val windowMs = (System.nanoTime() - start) / 1e6
    val timed = h.ops.asScala.toSeq.filterNot(_("warm").asInstanceOf[Boolean])
    val oracle = Seq("q_search_products", "q_search_promo", "q_price_compare",
      "q_product_card", "q_price_history", "q_best_basket", "q_fuzzy_search_indexed",
      "q_store_products", "q_lowest_price_category", "q_stats")
      .map(k => k -> SparkEntry.oracleSql(k)).toMap
    Map("setup_s" -> setupS, "callers" -> Callers, "oracle_templates" -> oracle,
      "request_window_ms" -> windowMs,
      "counters" -> h.timedCounters(from, timed, byWindow = false))
  }
}

/** The price-feed write path: land one store file, parse it, upsert
  * it into the state by (chain, store, item) with the update date as
  * version, compact when asked, and probe the changed item's price
  * through the API's operator. */
final class Feed(h: Harness) {
  import Workloads._

  private val s = h.spark
  private val t = h.tracer
  private val feed = s"${h.data}/feed"
  private val batches: IndexedSeq[JsonNode] =
    Json.read(s"$feed/batches.json").elements().asScala.toIndexedSeq
  val state = s"${h.work}/feed/state"
  private val landing = Paths.get(h.work, "feed", "landing")
  Files.createDirectories(landing)
  var landed = 0

  def hasNext: Boolean = landed < batches.size

  /** The state as price observations, so the API's operators read it. */
  private def observations: DataFrame =
    s.read.parquet(state).select(
      col("item_code").cast("long").as("l_partkey"),
      col("store_id").cast("long").as("l_suppkey"),
      col("item_price").cast("double").as("l_extendedprice"),
      lit(0.0).as("l_discount"))

  private def ingest(path: String): Unit = {
    val items = t.span("sources", "RawIngest.priceItemsFromJson")(
      RawIngest.priceItemsFromJson(s, path))
    t.span("sources", "Sinks.upsertByKey")(
      Sinks.upsertByKey(s, items, state, Seq("chain_id", "store_id", "item_code"),
        "price_update_date"))
  }

  /** Load every seed store file into an empty state. */
  def seedState(): Unit = {
    rm(Paths.get(state))
    h.op("feed_seed", warm = true) { _ =>
      ingest(s"$feed/seed")
      Map.empty
    }
  }

  /** Land the next batch file and make it visible; the op's record
    * carries what the probe saw and what it should have seen. */
  def nextBatch(warm: Boolean, compact: Boolean): Unit = {
    val b = batches(landed)
    val n = landed
    landed += 1
    h.op(if (compact) "feed_compact" else "feed_batch", warm) { _ =>
      val dst = landing.resolve(f"batch_$n%05d.json")
      Files.copy(Paths.get(feed, b.get("file").asText), dst, StandardCopyOption.REPLACE_EXISTING)
      val landedNs = System.nanoTime()
      ingest(dst.toString)
      if (compact) t.span("sources", "Sinks.compact")(Sinks.compact(s, state))
      val obs = t.span("tables", "state.read")(observations)
      val df = t.span("operators", "Pricing.priceCompare")(
        Pricing.priceCompare(obs, Seq(b.get("probe_item").asText.toLong))
          .filter(col("l_suppkey") === b.get("store").asLong))
      val rows = h.serve(df)
      Map("batch" -> n, "redelivery" -> b.get("redelivery").asBoolean,
        "probe_price" -> rows.headOption.map(r => r.getAs[Double]("list_price"): Any).orNull,
        "expected_price" -> b.get("probe_price").asText,
        "landed_bytes" -> Files.size(dst),
        "fresh_ms" -> (System.nanoTime() - landedNs) / 1e6)
    }
  }
}

/** Maintained state, one caller. The timed part is a closed feed loop
  * for the run's seconds (the next file lands once the previous one is
  * visible; every third batch, the first included, compacts), then one
  * round of the five stream lifecycles. */
object MaintainedState {
  import Workloads._

  val Lifecycles: Seq[(String, String)] = Seq(
    "coreness" -> "q_stream_coreness",
    "coreness_signed" -> "q_stream_coreness_signed",
    "bm25" -> "q_stream_bm25",
    "bm25_signed" -> "q_stream_bm25_signed",
    "delete_cascade" -> "q_signed_delete_cascade")
  val CompactEvery = 3
  // warm feed batches beside the lifecycle chains: two compaction cycles,
  // so the feed chain ends before the coreness chain does
  val WarmBatches = 6
  private val phaseOrder = Seq("seed", "probe", "batch", "compact", "serve")
  private def phasesOf(entry: String): Map[String, Double] =
    StreamMeter.phaseSnapshot.getOrElse(entry, Map.empty)

  def run(h: Harness): Map[String, Any] = {
    val entries = SparkEntry.queries
    val feed = new Feed(h)
    def lifecycle(family: String, entry: String, isWarm: Boolean): Unit =
      h.op(family, isWarm) { id =>
        val df = h.tracer.spanWith("streaming", entry)(entries(entry)(h.spark, h.data))(_ =>
          phaseOrder.flatMap(ph => phasesOf(entry).get(ph).map(("streaming", s"$entry/$ph", _))))
        val phases = phasesOf(entry)
        val rows = h.serve(df)
        h.result(id, family, Map("entry" -> entry), df, rows)
        Map("entry" -> entry, "phases" -> phases, "rows" -> rows.length)
      }
    // level the field exactly as graft.Bench does between runs
    def clearCaches(): Unit = {
      SparkEntry.clearSharedCaches()
      h.spark.catalog.clearCache()
    }
    // Set-up seeds the feed state and warms every op, which only
    // has to compile, JIT and build artifacts; its independent chains
    // overlap (the signed coreness twin reads the co-purchase artifact
    // `coreness` builds, so it follows it). Back to back it costs ~50 s,
    // which the run budget cannot carry. One more compaction cycle of
    // the feed then runs alone: the first batches after the chains end
    // are ~20% slower (the JVM settling after them), and the timed loop
    // must not see that.
    val setupS = h.timeSetup {
      clearCaches()
      def warm(family: String): () => Unit =
        () => lifecycle(family, Lifecycles.toMap.apply(family), isWarm = true)
      def warmFeed(n: Int): Seq[() => Unit] = (0 until n).map(i =>
        () => feed.nextBatch(warm = true, compact = i % CompactEvery == 0))
      val chains: Seq[Seq[() => Unit]] = Seq(
        (() => feed.seedState()) +: warmFeed(WarmBatches),
        Seq(warm("coreness"), warm("coreness_signed")),
        Seq(warm("bm25"), warm("bm25_signed")),
        Seq(warm("delete_cascade")))
      val threads = chains.map(c => new Thread(() => c.foreach(_())))
      threads.foreach(_.start())
      threads.foreach(_.join())
      warmFeed(CompactEvery).foreach(_())
    }
    val from = h.startTimed()
    clearCaches()
    val start = System.nanoTime()
    var n = 0
    while (feed.hasNext && System.nanoTime() - start < (h.seconds * 1e9).toLong) {
      feed.nextBatch(warm = false, compact = n % CompactEvery == 0)
      n += 1
    }
    val windowMs = (System.nanoTime() - start) / 1e6
    clearCaches()
    Lifecycles.foreach { case (family, entry) => lifecycle(family, entry, isWarm = false) }
    val timed = h.ops.asScala.toSeq.filterNot(_("warm").asInstanceOf[Boolean])
    val oracle = Lifecycles.map(_._2).flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _)).toMap
    Map("setup_s" -> setupS, "oracle_sql" -> oracle, "request_window_ms" -> windowMs,
      "batches_landed" -> feed.landed, "feed_exhausted" -> !feed.hasNext, "state" -> feed.state,
      "counters" -> h.timedCounters(from, timed, byWindow = true))
  }
}
