"""Every metric the benchmark reports, with the end-to-end metric and
workload each per-layer metric should move. ``BENCHMARK.json`` lists
the same names."""

from __future__ import annotations

#: name -> (unit, better, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", "median of three set-ups: session start plus the workload's warm-up"),
    "batch_s": ("s", "lower", "wall time of the fixed phase: the windowed backfill (woo_ingest; "
                "backfill_orders_per_s is printed beside), the curation batch (analytics_read)"),
    "op_p50_s": ("s", "lower", "median wall time of the repeated operation: incremental cycle "
                 "(woo_ingest, cycle_p50_s), dashboard page (analytics_read, page_p50_s)"),
}

#: (module, query) of the curation batch, in batch order.
CURATION = [
    ("dedup", q) for q in (
        "dedup_clusters", "dup_cluster_histogram", "dedup_audit", "dedup_minhash",
        "strip_common_lines")
] + [
    ("corpus", q) for q in (
        "split_leakage_near", "corpus_report", "hybrid_search", "vocab_drift",
        "ngram_novelty", "dsir_weights", "bigram_logprob", "tfidf_top_terms")
] + [("graph", "part_pagerank"), ("relational", "basket_pairs")]

#: Frames of one dashboard page.
FRAMES = ("date_bounds", "kpis", "revenue_timeseries", "top_products",
           "category_mix", "geo_rollup", "cohort_retention")

#: name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER = {
    "rest.orders_pages": ("count", "lower", "batch_s", "woo_ingest"),
    "rest.products_requests": ("count", "lower", "batch_s", "woo_ingest"),
    "rest.refunds_requests": ("count", "lower", "batch_s", "woo_ingest"),
    "rest.requests_per_order": ("ratio", "lower", "batch_s", "woo_ingest"),
    "rest.refunds_useful_ratio": ("ratio", "higher", "batch_s", "woo_ingest"),
    "rest.api_wait_s": ("s", "lower", "batch_s", "woo_ingest"),
    "rest.response_mb": ("MB", "lower", "batch_s", "woo_ingest"),
    "rest.extract_s": ("s", "lower", "batch_s", "woo_ingest"),
    "woo_flow.jobs_per_cycle": ("count", "lower", "op_p50_s", "woo_ingest"),
    "woo_flow.tasks_per_cycle": ("count", "lower", "op_p50_s", "woo_ingest"),
    "woo_flow.facts_s": ("s", "lower", "op_p50_s", "woo_ingest"),
    "woo_flow.stage_raw_s": ("s", "lower", "op_p50_s", "woo_ingest"),
    "woo_flow.re_enrich_s": ("s", "lower", "op_p50_s", "woo_ingest"),
    "woo_flow.cpu_s_per_cycle": ("s", "lower", "op_p50_s", "woo_ingest"),
    "upsert.write_s": ("s", "lower", "op_p50_s", "woo_ingest"),
    "upsert.probe_s": ("s", "lower", "op_p50_s", "woo_ingest"),
    "upsert.probe_input_mb": ("MB", "lower", "op_p50_s", "woo_ingest"),
    "upsert.partitions_rewritten_per_cycle": ("count", "lower", "op_p50_s", "woo_ingest"),
    "upsert.files_written_per_cycle": ("count", "lower", "op_p50_s", "woo_ingest"),
    "upsert.write_amplification": ("ratio", "lower", "op_p50_s", "woo_ingest"),
    "catalog.load_s_per_page": ("s", "lower", "op_p50_s", "analytics_read"),
    "catalog.scan_mb_per_page": ("MB", "lower", "op_p50_s", "analytics_read"),
    **{f"analytics.{f}_s": ("s", "lower", "op_p50_s", "analytics_read") for f in FRAMES},
    "analytics.cpu_s_per_page": ("s", "lower", "op_p50_s", "analytics_read"),
    "analytics.shuffle_mb_per_page": ("MB", "lower", "op_p50_s", "analytics_read"),
    "analytics.jobs_per_page": ("count", "lower", "op_p50_s", "analytics_read"),
    **{
        f"{m}.{q}.{k}": (u, "lower", "batch_s", "analytics_read")
        for m, q in CURATION
        for k, u in (("wall_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"), ("tasks", "count"))
    },
    "session.gc_s": ("s", "lower", "op_p50_s, batch_s", "all"),
    "session.peak_rss_mb": ("MB", "lower", "op_p50_s, batch_s", "all"),
    "session.leaked_persisted_rdds": ("count", "lower", "op_p50_s, batch_s", "all"),
    "trace.overhead_ratio": ("ratio", "lower", "none: traced vs untraced op_p50_s", "all"),
}
