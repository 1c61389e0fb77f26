package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level profiling for the dedup hotspots (dev tool). */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.1")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (rows=$n)")
    }

    // cluster pipeline stage timings (single persisted handle, freed
    // before the ngram timings so the cache can't skew them)
    val pairsP = graft.operators.Dedup.minhashPairs(docs).persist()
    time("minhash pairs persist")(pairsP.count())
    time("clusters from warm pairs")(
      graft.operators.Dedup.duplicateClusters(pairsP).count())
    time("minhash pairs WARM rerun")(graft.operators.Dedup.minhashPairs(docs).count())
    pairsP.unpersist()
    graft.functions.VectorFunctions.register(spark)
    val shw = docs.withColumn("toks", split(lower(col("text")), " ", -1))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(toks)-2), " +
          "i -> xxhash64(concat_ws(' ', slice(toks, i, 3)))))"))
      .select("doc_id", "sh")
    time("warm shingleHashes")(shw.count())
    val sigw = shw.select(col("doc_id"), expr("graft_minhash(sh, doc_id, 64)").as("sig"))
    time("warm signatures")(sigw.count())
    val bk = sigw.select(col("doc_id"), explode(expr(
        "transform(sequence(0, 15), b -> named_struct('band', b, 'bh', xxhash64(slice(sig, b*4 + 1, 4), b)))")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    time("warm buckets")(bk.count())
    time("warm bucket self-join")(bk.as("a").join(bk.as("b"),
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id")).count())

    // current ngramJaccard stage timings
    val dfCap = 1000L
    val gj = docs.withColumn("w", split(lower(col("text")), " ", -1))
      .filter(size(col("w")) >= 3)
      .withColumn("grams", expr(
        "array_distinct(transform(sequence(1, size(w)-2), " +
          "i -> xxhash64(concat_ws(' ', slice(w, i, 3)))))"))
      .select(col("doc_id"), col("lang"), col("grams"), size(col("grams")).as("sz"))
      .cache()
    time("ngram: grams cached")(gj.count())
    val invj = gj.select(col("doc_id"), col("lang"), explode(col("grams")).as("gh"))
    time("ngram: index size")(invj.count())
    val cappedj = invj.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang", "gh")))
      .filter(col("df") <= dfCap).drop("df")
    val candj = cappedj.as("a").join(cappedj.as("b"),
        col("a.gh") === col("b.gh") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    time("ngram: candidates")(candj.count())
    time("ngram: full result")(graft.operators.Dedup.ngramJaccard(docs).count())
    gj.unpersist()

    val n = 3
    val g = docs.withColumn("w", split(lower(col("text")), " ", -1))
      .filter(size(col("w")) >= n)
      .withColumn("grams", expr(
        s"array_distinct(transform(sequence(1, size(w)-${n - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice(w, i, $n)))))"))
      .select(col("doc_id"), col("lang"), col("grams"), size(col("grams")).as("sz"))

    time("grams only")(g.count())
    val pairs = g.as("a").join(broadcast(g.as("b")),
      col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") >= lit(0.3) * col("b.sz") && col("b.sz") >= lit(0.3) * col("a.sz"))
    time("pair count (no set ops)")(pairs.select(col("a.doc_id")).count())
    time("pairs + intersect")(pairs
      .select((size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
        size(array_union(col("a.grams"), col("b.grams"))).cast("double")).as("j"))
      .filter(col("j") >= 0.3).count())

    // minhash stages
    val sh = docs.withColumn("toks", split(lower(col("text")), " ", -1))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(toks)-2), " +
          "i -> xxhash64(concat_ws(' ', slice(toks, i, 3)))))"))
      .select("doc_id", "sh")
    time("shingles only")(sh.count())
    val k = 64
    val borrow = (1 to 3).map(o => s"element_at(slots, (CAST(pmod(j + $o, $k) AS INT)) + 1)").mkString(", ")
    val sigs = sh
      .withColumn("slots", expr(
        s"transform(sequence(0, ${k - 1}), j -> array_min(filter(sh, h -> pmod(h, $k) = j)))"))
      .withColumn("sig", expr(
        s"transform(sequence(0, ${k - 1}), j -> coalesce(element_at(slots, CAST(j AS INT) + 1), $borrow, xxhash64(doc_id, j)))"))
      .select("doc_id", "sig")
    time("signatures")(sigs.count())
    val buckets = sigs.select(col("doc_id"),
      explode(expr(
        s"transform(sequence(0, 15), b -> named_struct('band', b, 'bh', xxhash64(slice(sig, b*4 + 1, 4), b)))")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    time("buckets")(buckets.count())
    val cand = buckets.as("a").join(buckets.as("b"),
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    time("candidates")(cand.count())
    spark.stop()
  }
}
