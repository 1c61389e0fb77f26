package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** One-off 10× scale probe for the headline queries: builds an
  * sf1-equivalent dataset by replicating sf0.1 ten times with shifted
  * keys (the container ships no real sf1 data), then times the five
  * headliners at both scales and reports the observed scaling
  * exponent per query (t ∝ sf^e: e ≈ 1 is linear, e < 1 amortizes
  * fixed overhead, e > 1 is super-linear and needs a plan look).
  *
  * Replication is NOT naive copying where copies would distort the
  * workload: document text is word-salted per replica so replicas are
  * not near-duplicates of each other (a true 10× corpus is new text —
  * naive copies would turn every doc into a 10-member duplicate
  * cluster and inflate the pair join quadratically, measuring a
  * different problem); lineitem shifts l_orderkey so order-grained
  * keys stay unique; embeddings shift vec_id beyond the query prefix
  * and nudge one coordinate per replica.
  *
  * Run: sbt "runMain graft.tools.ScaleProbe" — results land in SURVEY
  * §8. Not part of the driver bench contract. */
object ScaleProbe {

  // one median definition for the whole repo (Bench owns it)
  private def median(xs: Seq[Double]): Double = graft.Bench.median(xs)

  private val headliners = Seq(
    "q1_pricing_summary", "q_lowest_price_per_store", "q_best_basket",
    "q_dedup_minhash", "q_embed_topk")

  private def buildReplica(spark: SparkSession, base: String, out: String, rep: Int): Unit = {
    val marker = new java.io.File(s"$out/_DONE")
    if (marker.exists()) return

    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val maxOk = li.agg(max("l_orderkey")).head.getLong(0) + 1
    (0 until rep).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOk)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    (0 until rep).map { i =>
      val shifted = docs.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
      if (i == 0) shifted
      else shifted.withColumn("text",
        array_join(transform(split(col("text"), " "),
          w => concat(lit(s"r$i"), w)), " "))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    (0 until rep).map { i =>
      val shifted = emb.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), x => (x + lit(i * 0.0013)).cast("float")))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // dimensions the headliners touch ride along unreplicated
    Seq("part", "supplier").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    marker.createNewFile(): Unit
  }

  /** Replicated part table for the entity-resolution probe, separate
    * marker so an existing replica dir upgrades in place: p_partkey
    * shifts per replica (each copy is a fresh feed record — the
    * corruption class cycles with the shifted key), names stay
    * verbatim, so the canonical DICTIONARY does not grow while the
    * feed grows rep× — exactly the production asymptotic the linear-
    * in-feed claim is about. */
  private def buildPartReplica(
      spark: SparkSession, base: String, out: String, rep: Int): Unit = {
    val marker = new java.io.File(s"$out/_DONE_PART")
    if (marker.exists()) return
    val part = spark.read.parquet(s"$base/part.parquet")
    val maxPk = part.agg(max("p_partkey")).head.getLong(0) + 1
    (0 until rep).map(i =>
        part.withColumn("p_partkey", col("p_partkey") + lit(i * maxPk)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    marker.createNewFile(): Unit
  }

  /** GRAPH-PRESERVING lineitem replica (out dirs ending `_graph`):
    * shifts BOTH l_orderkey and l_partkey per replica, so the
    * co-purchase graph becomes `rep` DISJOINT copies of the base
    * graph — same density, same peel depth, rep× the node/edge/basket
    * mass. The standard replica (orderkey-only shift) multiplies
    * every pair COUNT by rep instead, which collapses the minCount
    * threshold and yields a ~335× denser graph — the right stress for
    * bounded-k peels, the wrong one for full coreness (the maxK guard
    * fires by design). */
  private def buildGraphReplica(
      spark: SparkSession, base: String, out: String, rep: Int): Unit = {
    val marker = new java.io.File(s"$out/_DONE_GRAPH")
    if (marker.exists()) return
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val maxOk = li.agg(max("l_orderkey")).head.getLong(0) + 1
    val maxPk = li.agg(max("l_partkey")).head.getLong(0) + 1
    (0 until rep).map(i => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOk))
        .withColumn("l_partkey", col("l_partkey") + lit(i * maxPk)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    marker.createNewFile(): Unit
  }

  /** Orders + customer replica for the expectations probe, own marker
    * (existing replica dirs upgrade in place): o_orderkey shifts by
    * the SAME per-replica stride lineitem used (their key domains are
    * identical in the generated data, asserted below), so referential
    * integrity and key uniqueness — the invariants q_expectations
    * verifies — hold in the replica exactly as at sf0.1; customer
    * rides along verbatim (the fixed dictionary). */
  private def buildOrdersReplica(
      spark: SparkSession, base: String, out: String, rep: Int): Unit = {
    val marker = new java.io.File(s"$out/_DONE_ORDERS")
    if (marker.exists()) return
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val orders = spark.read.parquet(s"$base/orders.parquet")
    val maxOk = li.agg(max("l_orderkey")).head.getLong(0) + 1
    val maxOo = orders.agg(max("o_orderkey")).head.getLong(0) + 1
    require(maxOo <= maxOk,
      s"orders replica needs the lineitem stride to cover o_orderkey ($maxOo > $maxOk)")
    (0 until rep).map(i =>
        orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOk)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    spark.read.parquet(s"$base/customer.parquet")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    marker.createNewFile(): Unit
  }

  private def time(
      spark: SparkSession, dir: String, runs: Int,
      qs: Seq[String]): Map[String, Double] = {
    val perRun = (1 to runs).map { r =>
      SparkEntry.clearSharedCaches()
      spark.catalog.clearCache()
      qs.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    perRun.flatten.groupBy(_._1).map { case (k, vs) => k -> median(vs.map(_._2)) }
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val rep = if (args.length > 2) args(2).toInt else 10
    val out = if (args.length > 1) args(1) else s"/tmp/graft_sf_rep$rep"
    // optional trailing args: probe these queries instead of the
    // default headliners (e.g. the dedup family after a plan rewrite)
    val qs = if (args.length > 3) args.drop(3).toSeq else headliners
    val spark = graft.Sessions.local()

    if (out.endsWith("_graph")) buildGraphReplica(spark, base, out, rep)
    else {
      buildReplica(spark, base, out, rep)
      if (qs.exists(q => q.contains("entity") || q.contains("fuzzy")))
        buildPartReplica(spark, base, out, rep)
      if (qs.exists(_.contains("expectations")))
        buildOrdersReplica(spark, base, out, rep)
    }

    // warmup outside the timed region
    SparkEntry.queries("q1_pricing_summary")(spark, base)
      .write.format("noop").mode("overwrite").save()

    val tBase = time(spark, base, runs = 3, qs)
    val tRep = time(spark, out, runs = 3, qs)
    println(f"${"query"}%-28s ${"sf0.1"}%8s ${s"${rep}x"}%9s ${"ratio"}%7s ${"exponent"}%9s")
    qs.foreach { q =>
      val (a, b) = (tBase(q), tRep(q))
      val ratio = b / a
      val expo = math.log(ratio) / math.log(rep.toDouble)
      println(f"$q%-28s $a%8.2f $b%9.2f $ratio%7.2f $expo%9.2f")
    }
    spark.stop()
  }
}
