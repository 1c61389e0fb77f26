package graft.tools


/** Dump formatted physical plans for selected queries (dev tool). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q_search_products", "q_store_products", "q1_pricing_summary",
      "q_lowest_price_per_store", "q_best_basket", "q_price_history",
      "q_basket_rules", "q_chunk_dedup", "q_curation_pipeline")
    // "-exec" first arg: run each query, then print the FINAL adaptive
    // plan (shows runtime decisions — ReusedQueryStage / broadcast
    // conversions — that static explain can't)
    val (exec, queryNames) =
      if (names.headOption.contains("-exec")) (true, names.tail) else (false, names)
    queryNames.foreach { n =>
      println(s"\n========== $n ==========")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      if (exec) {
        df.write.format("noop").mode("overwrite").save()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
