package perfbench

/** The operation lists the workloads time: a fixed sample of the
  * inventory that spans the families of each workload and fits the run
  * budget (a cold JVM pays ~0.5-2 s of JIT and Janino per distinct
  * operation before the first timed pass). */
object Ops {
  /** 21 read-only relational entries: TPC-H in the DataFrame API and in
    * Snowflake-dialect SQL (QUALIFY, colon paths, FLATTEN), windows,
    * grouping sets, exact quantiles, correlated subqueries, functions,
    * events, and dbt tests (`dt_suite` runs the five generic tests). */
  val sqlAnalytics: Seq[String] = Seq(
    "q_scan_project", "q_window_dedup", "q_window_rank",
    "q_tpch_q3", "q_tpch_q9", "q_tpch_q13", "q_tpch_q18",
    "q_sql_tpch_q1", "q_sql_tpch_q3_qualify", "q_sql_colon_path",
    "q_sql_flatten", "q_sql_qualify", "q_fn_strings", "q_fn_parse_json",
    "q_grouping_sets", "q_quantiles_exact", "q_correlated_scalar",
    "e_sessionize", "e_funnel", "dt_unique", "dt_suite")

  /** 7 LLM-data operators: the iterative ones whose wall tracks job
    * count (MMR, k-means, PageRank) beside BM25 search, tokenization, a
    * RAG pipeline and multimodal dedup. An odd count with well
    * separated walls puts the median inside one operator's samples
    * (s_bm25 at sf0.01, for any number of passes), so it does not flip
    * between two operators from run to run. */
  val llmOps: Seq[String] = Seq(
    "s_mmr", "p_kmeans", "p_pagerank", "s_bm25", "t_tokenize_ids",
    "p_rag", "mm_dedup")
}
