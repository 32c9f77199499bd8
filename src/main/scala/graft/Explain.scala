package graft

/** Dev tool: dump formatted physical plans for selected queries so
  * pushdown/pruning/broadcast/codegen can be audited (run:
  * `sbt "runMain graft.Explain q01_pricing_summary ..."`, no args =
  * a representative set).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_pricing_summary", "q10_join_broadcast", "q12_join_star",
      "q23_top_n_global", "q60_knn_l2", "q40_grid_explode_a1",
      "q53_ngram_jaccard", "q50_dedup_minhash_lsh", "q65_ann_ivf",
      "q69_ann_sq8", "q96_decontaminate", "q99_sequence_packing",
      // q98/q104's printed search plans are the artifacts under audit
      // (partition pruning + where= pushdown + broadcast rerank); q67b
      // is intentionally absent — its meter plan reads
      // checkpoint-pinned frames, so there is nothing to audit that
      // q65/q69 don't already show
      "q98_ivf_search", "q104_filtered_search",
      // the PQ search plan: cell pruning + ADC scan + broadcast rerank
      "q123_ivfpq_search")
    names.foreach { n =>
      println(s"\n================= $n =================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
