package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** One-off micro-probe for the SemDeDup assignment terms: times the
  * Lloyd model build, the flat n·k scan, and the coarse-then-fine
  * assignment on a given embeddings table, and reports the average
  * candidate-cell count the exact bound admits (the hierarchy's win
  * degrades toward the flat scan as cells overlap). Builder aid, not
  * part of the driver contract. */
object AssignProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf_rep100"
    val clusterSize = if (args.length > 1) args(1).toLong else 250L
    val spark = graft.Sessions.local()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val k = math.max(1L, (n + clusterSize - 1L) / clusterSize).toInt
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    println(s"n=$n k=$k kc=$kc")
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val (e, cents) = time("ivfModel (train, parallel)") {
      val (e0, c0) = Similarity.ivfModel(emb, k, lloydIters = 2)
      (e0, c0.localCheckpoint())
    }
    time("assignTo (flat n*k)") {
      Similarity.assignTo(e, cents)
        .write.format("noop").mode("overwrite").save()
    }
    time("assignToHier") {
      Similarity.assignToHier(e, cents, kc)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
