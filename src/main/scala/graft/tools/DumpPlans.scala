package graft.tools

import java.nio.file.{Files, Paths}
import graft.core.Sessions

/** Dump formatted physical plans for headline queries → PLANS.md
  * (plan-review evidence: broadcast placement, pushdown, codegen
  * spans; a generated artifact, not committed). Usage:
  * tools/run.sh graft.tools.DumpPlans [SF_DIR] [OUT] */
object DumpPlans {
  val headline = Seq("q01_scan_project", "q02_filter", "q05_groupby_agg",
    "q07_star_join", "q11_window_rank", "q13_topk", "q27_part_join",
    "q28_asof_join", "q32_min_cost_supplier", "q33_semijoin_chain",
    "q34_cbo_star", "q35_window_battery", "q36_argminmax",
    "p1_clean_corpus", "c2_minhash_neardup",
    "c3_simhash_neardup", "c4_ngram_jaccard", "c6_ann_topk", "c7_ann_ivf",
    "c9_vector_norms", "g2_graph_aggr", "t4_fingerprint",
    "x1_tx_time_travel", "x2_tx_schema_evolution", "x3_dpp_monday",
    "c12_incremental_dedup",
    "x4_tx_merge", "x5_tx_partition_prune", "x6_tx_delete",
    "x7_tx_stats_skip", "x8_tx_changes", "x9_tx_cdf", "x10_tx_sql_dml",
    "x11_tx_scan_skip", "x12_tx_delete_dv", "x13_tx_merge_clauses",
    "x14_tx_bloom_skip",
    "s9_tx_stream_read", "w1_warc_roundtrip", "w2_warc_gzip",
    "m1_media_features", "m3_media_ann",
    "t1_langid", "q31_hll_union",
    "x15_tx_column_mapping", "x16_tx_sql_write",
    "t8_seq_pack", "t9_pii_redact", "t10_domain_mix",
    "c13_pq_ann", "c14_canonical_docs", "c15_ivfpq_persisted",
    "t12_split_assign", "t13_quality_gate", "g4_kcore",
    "w3_warc_ingest", "s10_tx_medallion", "x17_tx_replace_where",
    "w4_jsonl_roundtrip", "c16_decontaminate",
    // round 7
    "x18_tx_merge_files", "x19_tx_named_catalog", "c17_span_dedup",
    "c18_srp_wide", "c19_semdedup", "t14_bpe_tokenize",
    "t15_lm_perplexity", "s11_tx_cdc_snapshot", "g5_pagerank",
    "p2_pretrain_pipeline", "g6_triangles",
    // round 8: x20 = the V2-catalog storage-partitioned join (the
    // plan evidence the round is about — BatchScan with
    // KeyGroupedPartitioning, zero Exchange); x21 = DV merge-on-read
    // through the V2 readers
    "x20_tx_v2_catalog", "x21_tx_v2_dv",
    // round 9/10: native V2 DML (x22 delete / x24 WriteDelta
    // UPDATE+MERGE), the table_changes TVF, the codegen'd inference
    // head (t17 — model scoring inside one WholeStageCodegen span)
    "x22_tx_v2_dml", "x23_tx_table_changes", "x24_tx_native_rowlevel",
    "t16_nfc_normalize", "t17_model_inference", "s13_tws_sessionize",
    "x25_tx_schema_evolution_merge", "p3_model_filter_pipeline",
    // round 11: Delta interop (x26 convert / x27 partitioned
    // delta-log read with the broadcast file→values join), the
    // SQL-text EXISTS/NOT EXISTS decorrelation (q44/q45)
    "x26_delta_convert", "x27_delta_log_read",
    "q44_exists_sql", "q45_not_exists_sql",
    // round 12: Delta reader v2 (x28 DV subtraction via the broadcast
    // row-index anti-join), the live mirror (x31 delta-log read of a
    // tail-published log), and the sketch family (t18 bin-sized
    // cumulative walk, t19 counter-matrix min-join, t20 TakeOrdered
    // A-ES keys, t21 broadcast-scalar BM25, t22 broadcast n-gram
    // dictionary join)
    "x28_delta_dv_read", "x31_delta_mirror", "t18_quantile_sketch",
    "t19_heavy_hitters", "t20_weighted_sample", "t21_bm25_topk",
    "t22_phrase_tags",
    // round 13: the Delta follower (x32 — graft read of a followed
    // table), map-only context-window chunking (t23), and the BM25
    // plan after the dl broadcast fix rides the t21 entry above
    "x32_delta_follow", "t23_chunking",
    // round 14: Bloom decontamination (the might_contain literal
    // probe + candidate-bounded verify join)
    "c20_bloom_decontaminate")
  // round 14: t20/t21 now RETURN integer summary rows over their
  // persisted selections (libm-hash retirement), so their entries
  // above show the summary plan; the underlying operator plans are
  // spec'd in SketchesSpec (t21's final adaptive plan) and unchanged.
  // s16/s17 are streaming gates — StreamingSpec/DeltaStreamSpec carry
  // their evidence.

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Sessions.local()
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.DumpPlans at ")
      .append(sfDir).append(")\n\n")
    sb.append("Review criteria per SURVEY §4 / README: dimensions broadcast, ")
    sb.append("filters+projection pushed into the scan, partial aggregation ")
    sb.append("before exchanges, top-k as TakeOrderedAndProject, custom ")
    sb.append("kernels inside WholeStageCodegen spans.\n")
    headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // execute this exact QueryExecution so AQE finalizes and
      // codegen ids appear in the formatted plan
      df.queryExecution.toRdd.count()
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote ${headline.size} plans to $out")
    spark.stop()
  }
}
