"""Scale guards on physical plans: these tests pin the *plan shape*
that makes each query viable at 100 TB — dimension joins must
broadcast, scan predicates must push down to parquet, and nothing may
degenerate into a cartesian product (except the two documented O(n²)
exactness baselines).

A regression here usually doesn't change results, only turns a
map-side join into a 100 TB shuffle — exactly the kind of bug
correctness tests can't see.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entrymod

#: Documented bounded cross joins (docstrings in similarity.py):
#: ann_topk's small-query-batch × corpus scan, plus IVF's corpus ×
#: k-centroids broadcast scoring (k is a small constant — bounded
#: fan-out). embedding_cosine_dup is NOT here anymore: its plan is a
#: keyed block-grid join (see test_cosine_dup_plan_is_keyed).
CROSS_JOIN_BASELINES = {
    "ann_topk",
    "ann_ivf_topk",
    "knn_classify",
    # quantized codes × broadcast 8-row query batch (bounded fan-out),
    # plus the 1-row per-dim range broadcast
    "ann_quantized_topk",
    # inherits ann_topk's broadcast query-batch × corpus candidate scan
    "mmr_topk",
    # inherits IVF's corpus × k-centroids broadcast scoring
    "cluster_stats",
}

#: Joins against a broadcast 1-row global aggregate (total revenue,
#: mean acctbal). The build side is exactly one row by construction,
#: so the "nested loop" is a constant-time compare per probe row —
#: the scalable alternative to an all-data-to-one-partition window.
SCALAR_BROADCAST = {
    # the exact-vs-LSH audit joins its per-query recall aggregate to
    # a 1-row broadcast pair-count — both sides are aggregates
    # (n_queries rows x 1 row) regardless of corpus scale
    "ann_recall_audit",
    # the geometry tuner repeats that audit shape per candidate
    # (1-row metrics x 1-row pair-count, x |candidates| <= ~6)
    "ann_tune_geometry",
    "important_parts",
    "idle_customers",
    "tfidf_top_terms",
    # day-spine × event-type grid: both sides are aggregates (≤ days,
    # ≤ types rows) regardless of input scale
    "fill_missing_days",
    # 1-row corpus totals / per-dim range arrays broadcast back over
    # the scan — constant-size build side by construction
    "mix_weights",
    "quantize_embeddings",
    "doc_rarity",
    # two 1-row aggregates joined (global counters × dup counter)
    "dq_summary",
    # 1-row orders count × 1-row line sums (r8: the KPI order count
    # comes from fct_orders like the reference, not from lineitem)
    "kpis",
    "kpis_bounded",
    "dashboard_payload",
    # 1-row corpus-total broadcast over the per-(doc,term) frame
    "unigram_logprob",
    # 1-row (raw_tot, tgt_tot) broadcast over the n_buckets-row stats
    "dsir_weights",
    # inherits ann_quantized_topk's 1-row per-dim ranges broadcast
    "ann_rerank_topk",
    "dsir_select_threshold",
    "corpus_prep_v2",
    # day-spine × event-type grid, same class as fill_missing_days
    "fill_missing_days_locf",
    "fill_missing_days_interp",
    # 1-row corpus-token total broadcast over the 10 decile rows
    "perplexity_bucket_mix",
    # 1-row corpus doc count broadcast over the bounded pair frame
    "pmi_terms",
    # doc grid × |langs|-row broadcast likelihood totals (bounded dim)
    "lang_id_nb",
    # three 1-row count aggregates crossed into the report row
    "dedup_audit",
    # 1-row before/after totals broadcast over the per-type frame
    "event_mix_drift",
    # 1-row corpus link total broadcast over the per-domain frame
    "link_domains",
    # 1-row collected centroid + 1-row corpus count broadcast over
    # the distance scan (the rank itself is bucket-partitioned)
    "embedding_outliers",
    # 1-row corpus length stats (n_docs, token total) broadcast
    "bm25_search",
    # inherits bm25_search's 1-row stats broadcast in its lexical stage
    "hybrid_search",
    # 1-row distinct-order count broadcast over the pair frame
    "basket_pairs",
    # 1-row totals (sum, key count) broadcast over the top-k frame
    "hot_keys",
    # two 1-row aggregates crossed per relation (totals × orphan counts)
    "dq_referential",
    # 1-row max-day broadcast over the per-user probe frame
    "dayn_retention",
    # 1-row merged error bound broadcast over the ≤topk summary rows
    "hot_keys_approx",
    # 1-row corpus max-order-day broadcast over the customer frame
    "rfm_segments",
    # |sources|² pair grid (a<b inequality join of the tiny distinct-
    # source frame with itself) completing the divergence matrix —
    # bounded by source count regardless of corpus size
    "source_divergence",
}


#: Queries whose plans contain an UNPARTITIONED ordered window —
#: every entry must be over a frame bounded BEFORE the window, never
#: over a corpus-sized frame (that would move all data to one task):
#:   - rank-the-survivors: a TakeOrdered (orderBy().limit(k)) runs
#:     first, the window sees ≤k rows — basket_pairs, embedding_scores,
#:     hot_keys(+_approx), session_paths, vocab_drift
#:   - bounded-by-construction frames: ann_ivf_topk's and
#:     cluster_stats' k-row centroid frames, wow_growth's
#:     calendar-bounded weekly aggregate
#:   - documented oracle-parity exact=True paths whose DEFAULT is the
#:     sketch construction: perplexity_bucket_mix, rfm_segments
#:     (driver entries pin exact=True for the DuckDB hash compare;
#:     equidepth_histogram / quality_percentile_by_source exact paths
#:     partition by type/source so they never appear here)
UNPARTITIONED_WINDOW_BASELINES = {
    "ann_ivf_topk",
    # rank-the-survivors: TakeOrdered(50) runs first, the window sees
    # <=k aggregated pair rows (the hot_keys pattern)
    "bpe_merge_candidates",
    "skipgram_pairs",
    # embedding_outliers' cumulative below-count runs over the
    # AGGREGATED distance-bucket histogram (bounded by value spread),
    # never the corpus — the per-row rank window is bucket-partitioned
    "embedding_outliers",
    "basket_pairs",
    "cluster_stats",
    "embedding_scores",
    "hot_keys",
    "hot_keys_approx",
    "perplexity_bucket_mix",
    "rfm_segments",
    "session_paths",
    "vocab_drift",
    "wow_growth",
    # the tuner's chosen-pick row_number runs over exactly
    # |candidates| (<= ~6) 1-row audit aggregates, never the corpus
    "ann_tune_geometry",
}


def _split_top_level(s: str) -> list[str]:
    parts, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    parts.append(cur)
    return parts


def count_unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with NO partition spec but an ORDER spec —
    the shape that moves all data to a single task. A formatted-plan
    Window's Arguments line holds [funcs], [part], [order]; when only
    two lists print, the second is either a partition list (window
    without orderBy — fine) or an order list (unpartitioned window —
    flagged): order specs carry ASC/DESC, partition lists don't."""
    n = 0
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("Arguments:") and "windowspecdefinition" in s:
            parts = _split_top_level(s[len("Arguments:"):].strip())
            if len(parts) == 2 and (
                " ASC" in parts[1] or " DESC" in parts[1]
            ):
                n += 1
    return n


def test_no_unpartitioned_windows_outside_bounded_frames(plans):
    bad = [
        name
        for name, plan in plans.items()
        if count_unpartitioned_windows(plan)
        and name not in UNPARTITIONED_WINDOW_BASELINES
    ]
    assert not bad, f"single-task window over unbounded frame in: {bad}"


def test_sketch_defaults_avoid_unpartitioned_windows(spark, sf_dir):
    """The ntile-family operators DEFAULT to the sketch path — the
    default plan must not contain the exact path's global windows
    (exact=True stays available for oracle parity and is what the
    allowlist above covers)."""
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators import (
        corpus,
        events as events_ops,
        temporal,
        warehouse,
    )
    from py_etl_pipeline_woocommerce_spark.plans import relational

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    for name, df in (
        ("perplexity_bucket_mix", corpus.perplexity_bucket_mix(docs)),
        (
            "quality_percentile_by_source",
            corpus.quality_percentile_by_source(docs),
        ),
        ("equidepth_histogram", temporal.equidepth_histogram(events)),
        ("rfm_segments", relational.rfm_segments(spark, sf_dir)),
        ("token_budget_sample", corpus.token_budget_sample(docs)),
        ("sample_exact_k", corpus.sample_exact_k(docs)),
        ("value_outliers_mad", temporal.value_outliers_mad(events)),
        ("profile_table", warehouse.profile_table(orders)),
        ("user_overlap", events_ops.user_overlap(events)),
        ("conversion_latency", temporal.conversion_latency(events)),
        ("interarrival_stats", temporal.interarrival_stats(events)),
        ("repeat_rate", relational.repeat_rate(spark, sf_dir)),
        (
            "fulfillment_latency",
            relational.fulfillment_latency(spark, sf_dir),
        ),
        (
            "daily_value_percentiles",
            temporal.daily_value_percentiles(events),
        ),
    ):
        assert count_unpartitioned_windows(plan_of(df)) == 0, name


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {
        name: plan_of(fn(spark, sf_dir))
        for name, fn in entrymod.queries().items()
    }


def test_no_cartesian_products_anywhere(plans):
    bad = [
        name
        for name, plan in plans.items()
        if "CartesianProduct" in plan
        or (
            "BroadcastNestedLoopJoin" in plan
            and name not in CROSS_JOIN_BASELINES | SCALAR_BROADCAST
        )
    ]
    assert not bad, f"unbounded joins in: {bad}"


def test_dim_joins_broadcast(plans):
    # category enrichment: part is a broadcast dim (SURVEY §4)
    assert "BroadcastHashJoin" in plans["enrich_categories"]
    # geo rollup: customer->nation->region chain broadcasts
    assert plans["geo_rollup"].count("BroadcastHashJoin") >= 2
    # Q5-style: all three dims broadcast; the only exchange-heavy join
    # is lineitem⋈orders
    assert plans["regional_revenue"].count("BroadcastHashJoin") >= 3


def test_constant_dims_never_shuffle(plans):
    """The catalog's BROADCAST_DIMS policy, ENFORCED: region and
    nation are constant-size (5/25 rows at any SF), so no plan that
    scans them may hash-exchange them — a sort-merge join on a 25-row
    dim means AQE was defeated and the fact side pays a shuffle for
    nothing. This is the consumer of catalog.BROADCAST_DIMS: the
    policy constant and the guard move together."""
    from py_etl_pipeline_woocommerce_spark.catalog import BROADCAST_DIMS

    assert set(BROADCAST_DIMS) == {"region", "nation"}
    offenders = []
    for name, plan in plans.items():
        for dim in BROADCAST_DIMS:
            if f"{dim}.parquet" not in plan:
                continue
            # a hash exchange keyed on the dim's own key column right
            # after its scan marks a shuffled dim join
            for key in (f"{dim[0]}_regionkey", f"{dim[0]}_nationkey"):
                if f"hashpartitioning({key}" in plan:
                    offenders.append((name, dim))
                    break
    assert not offenders, f"constant dims shuffled in: {offenders}"


def test_filters_push_down_to_parquet(plans):
    p = plans["discount_revenue"]
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters", 1)[1][:400]
    p = plans["incremental_watermark"]
    assert "o_orderdate" in p.split("PushedFilters", 1)[1][:200]
    # Q1: shipdate predicate reaches the scan
    p = plans["pricing_summary"]
    assert "l_shipdate" in p.split("PushedFilters", 1)[1][:200]


def test_column_pruning_reaches_scan(plans):
    # top_orders_per_customer needs 3 of 6 order columns; the scan
    # must not read the rest
    p = plans["top_orders_per_customer"]
    scan_schema = p.split("ReadSchema", 1)[1][:300]
    assert "o_orderpriority" not in scan_schema
    assert "o_orderstatus" not in scan_schema


def test_hot_paths_whole_stage_codegen(spark, sf_dir):
    # An AdaptiveSparkPlan(isFinalPlan=false) hides codegen ids, so
    # inspect these plans with AQE off: formatted mode then tags
    # codegen'd operators with "[codegen id : N]". A decimal-sum or
    # UDF regression would drop the scan/agg out of codegen.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        qs = entrymod.queries()
        for name in ("pricing_summary", "kpis", "revenue_timeseries"):
            assert "[codegen id :" in plan_of(qs[name](spark, sf_dir)), name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_upsert_antijoin_broadcasts_batch_keys(plans):
    # delete+insert upsert: the batch key set must broadcast, never
    # shuffle the full table
    p = plans["upsert"]
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_new_tpch_filters_push_down(plans):
    # Q10: returnflag + orderdate range both reach their scans
    p = plans["returned_item_report"]
    after = p.split("PushedFilters", 1)[1][:400]
    assert "l_returnflag" in after or "o_orderdate" in after
    assert p.count("PushedFilters") >= 2
    # Q14: shipdate quarter range reaches the lineitem scan
    p = plans["promo_revenue"]
    assert "l_shipdate" in p.split("PushedFilters", 1)[1][:400]
    # Q22 variant: recent-orders date filter reaches the orders scan
    p = plans["idle_customers"]
    assert "o_orderdate" in p
    # Q2 variant: part size filter reaches the part scan
    p = plans["min_cost_supplier"]
    assert "p_size" in p.split("PushedFilters", 1)[1][:600] or "p_size" in p


def test_new_tpch_dims_broadcast(plans):
    # Q7: supplier, customer, both nation copies broadcast — only
    # lineitem⋈orders may shuffle
    assert plans["volume_shipping"].count("BroadcastHashJoin") >= 4
    # Q9: part, supplier, nation broadcast
    assert plans["product_profit"].count("BroadcastHashJoin") >= 3
    # Q8: five broadcast dims around the one fact-fact join
    assert plans["market_share"].count("BroadcastHashJoin") >= 4


def test_bounded_dashboard_filters_push_down(plans):
    # the (d1, d2) sidebar window must reach the orders parquet scan,
    # not evaluate post-scan (VERDICT r1 item 5)
    for name in (
        "kpis_bounded",
        "revenue_timeseries_bounded",
        "top_products_bounded",
        "category_mix_bounded",
        "geo_rollup_bounded",
    ):
        p = plans[name]
        segs = p.split("PushedFilters")[1:]
        assert segs, name
        # the orders scan may not be the first scan in the plan text
        assert any("o_orderdate" in s[:300] for s in segs), name


def test_cosine_dup_plan_is_keyed(plans):
    # the exact cosine self-join must run as a block-grid equi-join,
    # never a cartesian/nested-loop (VERDICT r1 item 3)
    p = plans["embedding_cosine_dup"]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_funnel_and_cohort_shapes(plans):
    # funnel stages aggregate before joining — no window over raw events
    assert "Window" not in plans["funnel_steps"]
    # cohort join is keyed (hash or broadcast after AQE), never nested-loop
    assert "BroadcastNestedLoopJoin" not in plans["cohort_retention"]


def test_bounded_dashboard_prunes_date_partitions(spark, sf_dir, tmp_path):
    # At 100 TB the win is PARTITION pruning, not a row filter: on a
    # month-partitioned orders layout the (d1, d2) bounds must show up
    # as partition filters (whole directories skipped), not only as
    # row-group pushdown (VERDICT r2 item 4).
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.plans.analytics import _bound_orders

    dest = str(tmp_path / "orders_by_month")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("o_month")
        .parquet(dest)
    )
    part_orders = spark.read.parquet(dest)
    bounded = _bound_orders(part_orders, "1995-01-01", "1996-12-31").agg(
        F.count(F.lit(1)).alias("n")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bounded.explain("formatted")
    p = buf.getvalue()
    seg = p.split("PartitionFilters", 1)
    assert len(seg) == 2, p
    assert "o_month" in seg[1][:300], p
    # and the row-level bound still reaches the row groups too
    assert "o_orderdate" in p.split("PushedFilters", 1)[1][:300], p
    # and the pruned plan still returns the exact bounded count
    n_bounded = bounded.collect()[0]["n"]
    n_expected = (
        part_orders.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        ).count()
    )
    assert n_bounded == n_expected


def _scan_blocks(plan: str, table: str) -> list[str]:
    """The formatted-plan detail blocks of every parquet scan over
    ``table``'s files (one per scan node, up to the next blank line)."""
    blocks = [b.split("\n\n", 1)[0] for b in plan.split("Scan parquet")[1:]]
    return [b for b in blocks if f"{table}.parquet" in b]


def test_shared_orders_dashboard_frames_keep_partition_pruning(
    spark, sf_dir, tmp_path
):
    # dashboard_payload builds every frame over ONE orders load per
    # page; each windowed frame must still prune month partitions from
    # that shared listing (PartitionFilters) and push its row bounds
    # (PushedFilters) in every orders scan, and must equal the public
    # per-frame function, which loads its own orders, on the same
    # window.
    import os

    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.catalog import TABLES, load_table
    from py_etl_pipeline_woocommerce_spark.plans import analytics
    from py_etl_pipeline_woocommerce_spark.plans.dashboard import (
        dashboard_payload,
    )

    wh = str(tmp_path / "sf_by_month")
    os.makedirs(wh)
    for t in TABLES:
        if t != "orders":
            os.symlink(
                os.path.join(sf_dir, f"{t}.parquet"),
                os.path.join(wh, f"{t}.parquet"),
            )
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("o_month")
        .parquet(os.path.join(wh, "orders.parquet"))
    )
    d1, d2 = "1995-01-01", "1996-12-31"
    payload = dashboard_payload(spark, wh, d1, d2)
    for name in (
        "kpis", "revenue_timeseries", "top_products", "category_mix",
        "geo_rollup",
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            payload[name].explain("formatted")
        scans = _scan_blocks(buf.getvalue(), "orders")
        assert scans, (name, buf.getvalue())
        for scan in scans:
            fields = dict(
                ln.split(": ", 1) for ln in scan.splitlines() if ": " in ln
            )
            assert "o_month" in fields.get("PartitionFilters", ""), (name, scan)
            assert "o_orderdate" in fields.get("PushedFilters", ""), (name, scan)
        own = getattr(analytics, name)(spark, wh, d1=d1, d2=d2)
        assert sorted(payload[name].collect(), key=str) == sorted(
            own.collect(), key=str
        ), name
    for name in ("date_bounds", "cohort_retention"):
        own = getattr(analytics, name)(spark, wh)
        assert sorted(payload[name].collect(), key=str) == sorted(
            own.collect(), key=str
        ), name


def test_closing_wave_shuffle_budgets(plans):
    """Pin the shuffle shapes the round-4 closing wave was designed
    around: interval union does ONE user shuffle with both windows
    sharing its sort; KS drift broadcasts its totals instead of
    re-shuffling; the CDC merge never reshuffles the current table
    (the feed window is its only exchange lineage); M4 broadcasts the
    per-type span frame."""
    p = plans["merge_intervals"]
    # one hash exchange (plus nothing else); two Windows over one Sort
    assert p.count(") Exchange") == 1 and "hashpartitioning(user_id" in p
    assert p.count(") Window") == 2 and p.count(") Sort") == 1
    p = plans["ks_drift"]
    assert "BroadcastHashJoin" in p          # totals broadcast back
    p = plans["m4_downsample"]
    assert "BroadcastHashJoin" in p          # span frame broadcast
    p = plans["cdc_apply"]
    # the survivors' anti-join builds on the broadcast feed keys
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    p = plans["user_streaks"]
    assert p.count(") Exchange") <= 2  # distinct + window share keys
