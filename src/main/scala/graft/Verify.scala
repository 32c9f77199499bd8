package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Custom-kernel outputs materialized for the DuckDB oracles: the
    // kernels run in Spark once; every oracle re-derives the full
    // downstream logic (banding, pruning, verification, ranking) from
    // these parquet tables. q63 chunks+query vector, dedup signatures,
    // ANN buckets/codes/centroids. They live in a SIBLING of the
    // verify output directory — same filesystem the driver's DuckDB
    // demonstrably reads parquet from, but not a subdirectory a
    // result-dir scan would trip over — and the oracle SQL (authored
    // against the SparkEntry.AuxToken placeholder) is rewritten to the
    // actual absolute location at dump time below.
    val auxDir = new java.io.File(outDir).getAbsolutePath + "_aux"
    // dev-only single-query iteration (same knob as Bench); the driver
    // never sets it, so a driver run always dumps the full catalog and
    // materializes every aux table
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // each aux step lists the queries whose oracles read its tables,
    // so a filtered dev run skips the expensive unrelated kernels
    Seq[(String, Set[String], () => Unit)](
      ("q63 search", Set("q63_search_e2e", "q64_build_index"),
        () => operators.VectorSearch.materializeSearchAux(spark, sfDir, auxDir)),
      ("dedup sigs", Set("q50_dedup_minhash_lsh", "q51_dedup_simhash",
          "q53_ngram_jaccard", "q54_winnow_overlap", "q68_dedup_recall",
          "q131_stream_neardup", "q152_canonical_pick",
          "q154_bloom_decontaminate", "q156_leakage_safe_split",
          "q175_containment", "q183_dedup_report"),
        () => operators.Dedup.materializeDedupAux(spark, sfDir, auxDir)),
      ("ann", Set("q62_ann_lsh", "q65_ann_ivf", "q67_ann_recall", "q69_ann_sq8"),
        () => operators.VectorSearch.materializeAnnAux(spark, sfDir, auxDir)),
      // q104's and q104b's oracles re-derive their filtered searches
      // from the same dumped index, so they serve from the q98 aux too
      ("q98 ivf index", Set("q98_ivf_search", "q104_filtered_search",
          "q104b_contains_search", "q112_ivf_batch", "q114_ivf_probe_curve",
          "q116_where_dict", "q118_hybrid_ivf", "q119_hybrid_batch",
          "q120_hybrid_filtered", "q125_mmr_rerank", "q141_mmr_batch",
          "q233_explain_ivf"),
        () => operators.VectorSearch.materializeIvfIndexAux(spark, sfDir, auxDir)),
      ("q125 mmr query", Set("q125_mmr_rerank"),
        () => operators.VectorSearch.materializeMmrAux(spark, sfDir, auxDir)),
      ("q141 mmr batch queries", Set("q141_mmr_batch"),
        () => operators.VectorSearch.materializeMmrBatchAux(spark, sfDir, auxDir)),
      ("q126 fork expected states", Set("q126_fork_isolation"),
        () => operators.VectorSearch.materializeForkAux(spark, sfDir, auxDir)),
      ("q112 ivf batch", Set("q112_ivf_batch"),
        () => operators.VectorSearch.materializeIvfBatchAux(spark, sfDir, auxDir)),
      ("q123 pq index", Set("q123_ivfpq_search", "q124_pq_metrics",
          "q127_ivfpq_batch", "q132_matryoshka_prerank",
          "q234_explain_ivfpq"),
        () => operators.VectorSearch.materializePqAux(spark, sfDir, auxDir)),
      ("q127 pq batch queries", Set("q127_ivfpq_batch"),
        () => operators.VectorSearch.materializePqBatchAux(spark, sfDir, auxDir)),
      // lifecycle oracles: each is an INDEPENDENTLY RECOMPUTED expected
      // state (chunk/embed of the surviving or final corpus), never a
      // dump of the mutated layout the query searches
      ("q107 delete", Set("q107_delete_search", "q109_collection_get"),
        () => operators.VectorSearch.materializeDeleteAux(spark, sfDir, auxDir)),
      ("q108 upsert", Set("q108_upsert_inventory"),
        () => operators.VectorSearch.materializeUpsertAux(spark, sfDir, auxDir)),
      ("q117 update expected corpus", Set("q117_update_inventory"),
        () => operators.VectorSearch.materializeUpdateAux(spark, sfDir, auxDir)),
      ("q118 hybrid query vector", Set("q118_hybrid_ivf", "q120_hybrid_filtered",
          "q233_explain_ivf"),
        () => operators.Hybrid.materializeHybridAux(spark, sfDir, auxDir)),
      ("q119 hybrid batch queries", Set("q119_hybrid_batch"),
        () => operators.Hybrid.materializeHybridBatchAux(spark, sfDir, auxDir)),
      ("q238 doc-ivf index + parsed query vector", Set("q238_parsed_hybrid"),
        () => operators.Hybrid.materializeParsedHybridAux(spark, sfDir, auxDir)),
      ("q150 token vectors", Set("q150_late_interaction", "q153_colbert_index",
          "q158_tri_hybrid", "q181_colbert_takedown", "q232_explain_hybrid",
          "q235_explain_colbert"),
        () => operators.Hybrid.materializeLateInteractionAux(spark, sfDir, auxDir)),
      ("q153 colbert centroids", Set("q153_colbert_index", "q158_tri_hybrid",
          "q232_explain_hybrid", "q235_explain_colbert"),
        () => operators.Hybrid.materializeColbertAux(spark, sfDir, auxDir)),
      ("q181 takedown sub-corpus", Set("q181_colbert_takedown"),
        () => operators.Hybrid.materializeColbertTdAux(spark, sfDir, auxDir)),
      ("q111 compact", Set("q111_ivf_compact_search"),
        () => operators.VectorSearch.materializeCompactAux(spark, sfDir, auxDir)),
      ("q113 stream upsert", Set("q113_stream_ivf_upsert"),
        () => streaming.Streams.materializeStreamUpsertAux(spark, sfDir, auxDir)),
      ("q83 incremental index", Set("q83_incremental_index"),
        () => streaming.Streams.materializeIncrementalIndexAux(spark, sfDir, auxDir)),
      // q102's oracle reads the clustered corpus dump, so its name is
      // in the clustered step's serves set too
      ("q67b clustered", Set("q67b_ann_recall_clustered", "q102_ann_hnsw",
          "q128_semdedup", "q129_pq_clustered", "q133_pq_residual",
          "q142_pq_drift", "q146_hard_negatives", "q149_embedding_outliers",
          "q176_retrain_policy", "q180_stream_retrain", "q191_ivf_binary"),
        () => operators.VectorSearch.materializeClusteredAux(spark, sfDir, auxDir)),
      ("q142 drift books", Set("q142_pq_drift"),
        () => operators.VectorSearch.materializePqDriftAux(spark, sfDir, auxDir)),
      ("q176 retrain centroids", Set("q176_retrain_policy", "q180_stream_retrain"),
        () => operators.VectorSearch.materializeRetrainAux(spark, sfDir, auxDir)),
      ("q129 clustered pq books", Set("q129_pq_clustered", "q133_pq_residual"),
        () => operators.VectorSearch.materializePqClusteredAux(spark, sfDir, auxDir)),
      ("q133 residual pq books", Set("q133_pq_residual"),
        () => operators.VectorSearch.materializePqResidualAux(spark, sfDir, auxDir)),
      ("q138 residual pq layout", Set("q138_ivfpqr_search"),
        () => operators.VectorSearch.materializePqrAux(spark, sfDir, auxDir)),
      ("q139 cluster topics", Set("q139_cluster_topics", "q140_cluster_mixture",
          "q158_tri_hybrid", "q174_eval_mrr", "q193_ranker_agreement",
          "q194_eval_ndcg", "q232_explain_hybrid"),
        () => operators.VectorSearch.materializeClusterTopicsAux(spark, sfDir, auxDir)),
      ("q174 eval queries", Set("q174_eval_mrr", "q194_eval_ndcg"),
        () => operators.VectorSearch.materializeEvalAux(spark, sfDir, auxDir)),
      ("q102 hnsw", Set("q102_ann_hnsw"),
        () => operators.VectorSearch.materializeHnswAux(spark, sfDir, auxDir)),
      // q105's oracle reads the q103 index/query dumps plus its own
      // widened candidate set
      ("q103 hnsw index", Set("q103_hnsw_search", "q105_filtered_recall",
          "q106_hnsw_batch"),
        () => operators.VectorSearch.materializeHnswIndexAux(spark, sfDir, auxDir)),
      ("q105 filtered recall", Set("q105_filtered_recall"),
        () => operators.VectorSearch.materializeFilteredRecallAux(spark, sfDir, auxDir)),
      ("q106 hnsw batch", Set("q106_hnsw_batch"),
        () => operators.VectorSearch.materializeHnswBatchAux(spark, sfDir, auxDir)),
      ("q145 cms token buckets", Set("q145_cms_heavy_hitters", "q148_stream_cms"),
        () => operators.Corpus.materializeCmsAux(spark, sfDir, auxDir)),
      ("q154 bloom positions", Set("q154_bloom_decontaminate"),
        () => operators.Corpus.materializeBloomAux(spark, sfDir, auxDir)),
      ("q186 dsir gram buckets", Set("q186_dsir_select", "q189_stream_dsir"),
        () => operators.Corpus.materializeDsirAux(spark, sfDir, auxDir)),
      ("q158 tri-hybrid query", Set("q158_tri_hybrid", "q193_ranker_agreement",
          "q232_explain_hybrid"),
        () => operators.Hybrid.materializeTriHybridAux(spark, sfDir, auxDir)),
      ("q219 stem map", Set("q219_stemmed_search"),
        () => operators.Hybrid.materializeStemAux(spark, sfDir, auxDir)),
      ("q41 chunks", Set("q41_chunk_stats"),
        () => operators.TextOps.materializeChunkAux(spark, sfDir, auxDir)),
      ("media", Set("q90_media_features", "q91_frame_sample"),
        () => operators.Multimodal.materializeMediaAux(spark, sfDir, auxDir)),
      ("q160 media planes", Set("q160_phash_neardup"),
        () => operators.Multimodal.materializePhashAux(spark, sfDir, auxDir)),
      ("q177 cross-modal index", Set("q177_crossmodal_search"),
        () => operators.Multimodal.materializeCrossModalAux(spark, sfDir, auxDir))
    ).foreach { case (what, serves, run) =>
      if (only.forall(names => serves.exists(names.contains))) {
        try run()
        catch { case e: Throwable =>
          System.err.println(s"[verify] $what aux materialization failed: ${e.getMessage}")
        }
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace(SparkEntry.AuxToken, auxDir))}" }
      .mkString("{", ",", "}")
    // a SPARK_GRAFT_ONLY dev run must not clobber the full catalog in
    // oracle_sql.json — every other query in that outDir would be
    // silently de-oracled for later compares; subsets go to their own file
    val catalogFile =
      if (only.isDefined) "oracle_sql_subset.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$catalogFile"), json)
    spark.stop()
  }
}
