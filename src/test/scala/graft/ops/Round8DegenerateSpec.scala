package graft.ops

import graft.SparkFunSuite
import java.nio.file.Files

/** Degenerate-input insurance for the round-8 operators: every new
  * catalog entry must SURVIVE empty source tables (empty output or a
  * single all-null/zero panel row — never an exception). The round-7
  * review found exactly this class of crash (bpeEncode's NULL-sum
  * NPE), so the whole batch gets the guard up front. Every graph_*
  * entry is covered; the empty lineitem carries the columns the gated
  * subgraphs filter on (l_quantity, l_discount). */
class Round8DegenerateSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val emptyDir: String = {
    val d = Files.createTempDirectory("r8empty").toString
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$d/events.parquet")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    Seq.empty[(Long, String, Int, Double, String)]
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")
    Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    Seq.empty[(Long, Long, Double, String, String)]
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
        "o_orderstatus")
      .write.parquet(s"$d/orders.parquet")
    Seq.empty[(Long, Long, Double, Double, Double)]
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_quantity",
        "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    Seq.empty[(Long, String, Int)]
      .toDF("s_suppkey", "s_name", "s_nationkey")
      .write.parquet(s"$d/supplier.parquet")
    d
  }

  private val round8 = Seq(
    "ev_did", "ev_jackknife", "ev_cusum", "ev_winsorized", "ev_gini",
    "ev_stratified_effect", "ev_retention_halflife", "graph_katz",
    "ann_range", "emb_triplets", "dq_iqr", "text_kn_bigram",
    "mix_dedup_weights", "text_hash_features", "emb_centroid_drift",
    "ann_prefilter", "profile_topk",
    // T201–T218 (round-8 second half)
    "ev_ranksum", "ev_kstest", "ev_sprt", "ev_bootstrap", "ev_qini",
    "dq_chisq", "mix_doremi", "ev_tost", "ev_ratio_delta",
    "emb_dim_stats", "dq_snapshot_drift", "emb_knn_acc", "graph_ppr",
    "sample_coreset", "text_ngram_coverage", "text_code_frac",
    "ev_ltv_npv", "ev_intervention",
    // T219–T220
    "dedup_cdc_share", "ev_mde_curve",
    // T221–T225
    "emb_mrl_recall", "dq_kanon", "dedup_blocking_eval",
    "dedup_fellegi", "text_watermark",
    // T226–T228
    "graph_bridges", "layout_filesizing", "pack_sorted_batching",
    // T229–T235
    "ev_session_sweep", "dq_referential", "dq_freshness",
    "mm_near_dup", "sample_group_kfold", "dq_pk_unique",
    "ann_pq_recall", "ev_elasticity", "ev_adstock",
    "ev_srm_segments", "text_hapax", "ev_rolling_corr",
    "dq_sequence_gaps",
    // round-9
    "profile_skew", "layout_bucketing", "ann_ivfadc",
    "j14_saltedjoin", "mm_wav_features", "mm_bmp_features", "mm_video_motion",
    // round-10
    "plan_asof", "plan_salted", "mm_jpeg_features",
    // empty bipartite projection: no round max to normalize by
    "graph_hits",
    // the rest of the graph family, over an empty edge set
    "graph_pagerank", "graph_degree", "graph_paths", "graph_closeness",
    "graph_diameter", "graph_betweenness", "graph_walks",
    "graph_walk_pairs", "graph_cooccur", "graph_linkpred", "graph_cc",
    "graph_triangles", "graph_clustcoeff", "graph_communities",
    "graph_modularity", "graph_kcore", "graph_assort", "graph_richclub",
    "graph_summary")

  // graph_walks reports the step-0 row of each of its 20 fixed starts
  // even when no walk can leave them (the oracle's anchor rows)
  private val panelRows = Map("graph_walks" -> 20)

  for (name <- round8)
    test(s"$name survives empty source tables") {
      val rows = graft.SparkEntry.queries(name)(spark, emptyDir).collect()
      // empty result or a bounded all-null/zero panel — both fine
      // (ev_mde_curve's fixed 5-point size grid is the largest);
      // the assertion is that collect() returned at all
      val bound = panelRows.getOrElse(name, 8)
      assert(rows.length <= bound, s"$name: unexpected ${rows.length} rows")
    }
}
