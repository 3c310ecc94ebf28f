"""Plan-shape regression tests: the properties that make each operator
viable at 100 TB, asserted from explain("formatted") output.  A value
check at sf0.01 cannot catch a missing pushdown or an accidental
cross join — these do."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_s3_read_write_spark.operators import relational as R, similarity as S
from flink_s3_read_write_spark.operators.asof import asof_join
from flink_s3_read_write_spark.plans import inspect as P
from flink_s3_read_write_spark.sources.io import load_table


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return {
        name: load_table(spark, sf_dir, name)
        for name in ("lineitem", "orders", "part", "customer", "nation", "events",
                     "documents", "embeddings")
    }


def test_filter_pushdown_and_column_pruning(t):
    plan = P.formatted_plan(R.pricing_summary(t["lineitem"]))
    assert any("l_shipdate" in f for f in P.pushed_filters(plan)), plan
    (cols,) = P.read_schemas(plan)
    # 7 of lineitem's 11 columns — l_orderkey/partkey/suppkey/linenumber pruned
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_partial_aggregation_before_shuffle(t):
    plan = P.formatted_plan(R.pricing_summary(t["lineitem"]))
    assert P.has(plan, "partial_sum"), "map-side combine missing"
    assert P.shuffle_exchanges(plan) == 1  # one exchange, agg keys only


def test_dim_join_broadcasts_not_shuffles(t):
    plan = P.formatted_plan(R.qty_by_brand(t["lineitem"], t["part"]))
    assert P.has(plan, "BroadcastHashJoin"), plan
    # the only shuffle is the final groupBy — the fact table never
    # repartitions for the join
    assert P.shuffle_exchanges(plan) == 1


def test_projection_only_ops_have_zero_shuffles(t):
    from flink_s3_read_write_spark.operators import textstats as T

    plan = P.formatted_plan(T.text_stats(t["documents"]))
    assert P.shuffle_exchanges(plan) == 0
    (cols,) = P.read_schemas(plan)
    assert set(cols) == {"doc_id", "text"}  # lang/source/n_chars pruned


def test_topk_uses_window_group_limit(t):
    df = R.topk_per_group(
        t["orders"], ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], 5,
    )
    plan = P.formatted_plan(df)
    # Spark 3.5+/4 pushes a per-partition group limit below the
    # shuffle — no full per-group sort materialization at scale.
    assert P.has(plan, "WindowGroupLimit"), plan


def test_brute_force_topk_broadcasts_queries(t):
    emb = t["embeddings"]
    plan = P.formatted_plan(S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 4), k=3))
    assert P.has(plan, "BroadcastNestedLoopJoin"), plan
    assert P.has(plan, "WindowGroupLimit"), plan
    # corpus-side scan appears exactly twice (corpus + query subsets
    # of the same file) — no O(n^2) shuffle materialization
    assert P.shuffle_exchanges(plan) <= 2


def test_asof_join_single_shuffle_per_side(t):
    ev = t["events"]
    left = ev.select("user_id", F.col("ts"), "event_id")
    right = ev.select("user_id", F.col("ts").alias("rts"), F.col("value"))
    out = asof_join(left, right, on=["user_id"], left_ts="ts", right_ts="rts",
                    payload=["value"])
    plan = P.formatted_plan(out)
    # union-then-window: ONE shuffle total (the window partitioning),
    # vs a join-based as-of which would shuffle both sides then sort
    assert P.shuffle_exchanges(plan) == 1, plan


def test_exact_dedup_ships_digest_not_text(t):
    from flink_s3_read_write_spark.operators.dedup import exact_dedup

    plan = P.formatted_plan(exact_dedup(t["documents"]))
    assert P.has(plan, "partial_min"), "map-side combine missing"
    assert P.shuffle_exchanges(plan) == 1
    assert P.has(plan, "md5"), "digest-keyed grouping expected"


def test_wholestage_codegen_covers_scan_pipeline(t):
    plan = P.formatted_plan(
        t["lineitem"].filter(F.col("l_quantity") > 10).select("l_orderkey")
    )
    assert P.has_wholestage_codegen(plan), plan


def test_asof_join_null_payload_not_skipped(spark):
    """A matched right row whose payload is NULL must win over an older
    non-null row (DuckDB ASOF semantics), and multi-payload outputs
    must come from ONE right row, never mixed."""
    from datetime import datetime

    t = datetime(2024, 1, 1)

    def ts(s):
        return datetime(2024, 1, 1, 0, 0, s)

    left = spark.createDataFrame([(1, ts(3), 100)], "k long, ts timestamp, lid long")
    right = spark.createDataFrame(
        [(1, ts(1), 5.0, "old"), (1, ts(2), None, "new")],
        "k long, rts timestamp, v double, tag string",
    )
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                    payload=["v", "tag"]).collect()[0]
    assert out["asof_tag"] == "new"
    assert out["asof_v"] is None            # not the older row's 5.0


def test_q117_exists_is_left_semi_join(spark, sf_dir):
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q117_late_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    # quarter filter reaches the orders scan, not a post-join Filter
    assert any("o_orderdate" in f for f in P.pushed_filters(plan)), plan


def test_q118_all_predicates_pushed_zero_joins(spark, sf_dir):
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q118_forecast_revenue"].fn(spark, sf_dir))
    pushed = " ".join(P.pushed_filters(plan))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan
    assert not P.has(plan, "Join"), plan
    (cols,) = P.read_schemas(plan)
    # 4 of lineitem's 11 columns — everything else pruned at the scan
    assert set(cols) == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q120_on_clause_filter_prunes_orders_scan(spark, sf_dir):
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q120_custdist"].fn(spark, sf_dir))
    # the non-key ON predicate must prune the orders side BEFORE the
    # join (pushed to the scan), never run as a post-join filter that
    # would wrongly drop zero-order customers
    assert any("o_orderpriority" in f for f in P.pushed_filters(plan)), plan


def test_q116_single_lineitem_scan_and_broadcast_dims(spark, sf_dir):
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q116_min_cost_supplier"].fn(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert P.count(plan, "BroadcastHashJoin") >= 3, plan  # supp/nation/region/part


def test_q123_rates_join_is_broadcast(spark, sf_dir):
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q123_temperature_mix"].fn(spark, sf_dir))
    assert P.has(plan, "BroadcastHashJoin"), plan
    # the corpus is never shuffled for the rates join; the only
    # exchanges belong to the tiny per-language count aggregate
    assert P.count(plan, "BroadcastExchange") >= 1, plan


def test_q124_q128_reuse_cached_collapsed_tables(spark, sf_dir):
    """Multi-referenced collapsed intermediates (distinct shingle/
    activity tables) must be cached: every reuse reads
    InMemoryTableScan, so the raw corpus/event log is scanned once at
    cache fill, not once per reference."""
    from flink_s3_read_write_spark.queries import registry

    reg = registry()
    for name, min_refs in (("q124_source_overlap", 3), ("q128_retention_cohorts", 2)):
        plan = P.formatted_plan(reg[name].fn(spark, sf_dir))
        assert plan.count("InMemoryTableScan") >= min_refs, (name, plan)


def test_q135_salted_join_replicates_dim_and_joins_on_salt(spark, sf_dir):
    """The salted join's plan must show (a) the dim side expanded via
    explode(sequence) — the buckets x replication — and (b) the join
    keys including the salt, so a hot fact key hashes to `buckets`
    different reducers instead of one."""
    from flink_s3_read_write_spark.queries import registry

    import re

    plan = P.formatted_plan(registry()["q135_salted_skew_join"].fn(spark, sf_dir))
    assert P.has(plan, "Generate") and "explode(" in plan, plan  # dim replication
    # both join sides key on (l_orderkey, _salt) — 2-column equi-keys
    assert re.search(r"keys \[2\]: \[l_orderkey#\d+L?, .*_salt", plan), plan
    # and it stays an equi-join (SMJ or shuffled hash), never a cross join
    assert not P.has(plan, "CartesianProduct"), plan
    assert not P.has(plan, "BroadcastNestedLoopJoin"), plan


def test_pq_adc_broadcasts_codebook_and_lookup(t):
    """q137: the codebook crossJoin and the ADC lookup join are both
    broadcasts — no vector ever moves through a shuffle; the only
    exchanges key on (vec_id, s) ids and the final (q_id, n_id) agg."""
    emb = t["embeddings"]
    plan = P.formatted_plan(S.pq_adc_topk(emb, emb.filter(F.col("vec_id") < 4), k=3))
    assert P.count(plan, "BroadcastNestedLoopJoin") >= 1, plan   # codebook
    assert P.has(plan, "BroadcastHashJoin"), plan                # ADC lookup
    assert P.has(plan, "partial_min"), "encode argmin must partial-aggregate"
    assert P.has(plan, "WindowGroupLimit"), plan


def test_hard_negative_broadcasts_queries(t):
    emb = t["embeddings"]
    plan = P.formatted_plan(
        S.hard_negative_topk(emb, emb.filter(F.col("vec_id") < 4), k=3)
    )
    assert P.has(plan, "BroadcastNestedLoopJoin"), plan
    assert P.has(plan, "WindowGroupLimit"), plan
    # top-k window shuffle + optional guarded fan_out round-robin
    assert P.shuffle_exchanges(plan) <= 3


def test_q141_covariance_is_long_partial_agg(t, spark, sf_dir):
    """q141 rewrite contract: moment sums are map-side-combined LONGs
    (codegen primitives), the per-vector self-join is co-partitioned,
    and no decimal accumulator appears in the aggregate."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q141_embedding_covariance"].fn(spark, sf_dir))
    assert P.has(plan, "partial_sum"), plan
    assert "decimal(30,6)" not in plan, "moment sums must be long, not decimal"
    # the pair explosion never ships the embedding array: both join
    # inputs project (vec_id, i, x6) before the exchange
    assert P.has(plan, "posexplode"), plan


def test_q143_sessions_single_user_partitioning(spark, sf_dir):
    """q143: lag, the running session-number sum, and the final
    aggregate all share the user_id hash partitioning — one exchange
    total (plus AQE reads), no per-step reshuffle."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q143_gaps_islands_sessions"].fn(spark, sf_dir))
    assert P.shuffle_exchanges(plan) <= 2, plan
    assert P.has(plan, "partial_min"), "session bounds must map-side combine"


def test_q145_bpe_rounds_broadcast_winner_and_partial_agg(spark, sf_dir):
    """q145: pair counts map-side combine (partial_sum of freq), each
    round's 1-row argmax comes back as a broadcast (never a collect),
    and the per-round argmax itself is a TakeOrderedAndProject."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q145_bpe_merge_rounds"].fn(spark, sf_dir))
    assert P.has(plan, "partial_sum"), plan
    assert P.has(plan, "TakeOrderedAndProject"), plan
    assert P.count(plan, "BroadcastNestedLoopJoin") >= 3, plan  # one per round


def test_q146_pagerank_broadcasts_node_constant(spark, sf_dir):
    """q146: the node-count scalar joins in as a broadcast, the
    inflow aggregate map-side combines, and no CartesianProduct ever
    appears (the only cross join is the broadcast 1-row constant)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q146_pagerank_bipartite"].fn(spark, sf_dir))
    assert P.has(plan, "partial_sum"), plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.count(plan, "BroadcastExchange") + P.count(plan, "BroadcastNestedLoopJoin") >= 1, plan


def test_q147_copurchase_joins_are_broadcast(spark, sf_dir):
    """q147: per-part counts and the order-count scalar attach via
    broadcast; the only shuffles are the distinct basket collapse and
    the pair aggregate (both map-side combined)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q147_copurchase_pairs"].fn(spark, sf_dir))
    assert P.count(plan, "BroadcastHashJoin") >= 2, plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.has(plan, "partial_count"), plan


def test_q159_triangle_degree_orientation_no_cartesian(spark, sf_dir):
    """q159: the wedge + closing joins are keyed hash joins on the
    cached oriented edge list — no cartesian anywhere, map-side
    partial counts on the pair aggregate, and the oriented edges are
    reused from cache (three probes, one materialization)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q159_triangle_count"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.has(plan, "partial_count"), plan
    assert P.count(plan, "InMemoryTableScan") >= 3, plan


def test_q160_sweepline_preaggregates_before_window(spark, sf_dir):
    """q160: boundary deltas are combined per day (partial_sum) BEFORE
    the running-sum window, so the global-order window only ever sees
    the distinct-day table; top-10 is TakeOrderedAndProject, not a
    global sort."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q160_open_order_concurrency"].fn(spark, sf_dir))
    assert P.has(plan, "partial_sum"), plan
    assert P.has(plan, "TakeOrderedAndProject"), plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q161_skyline_prunes_part_scan(spark, sf_dir):
    """q161: the sort-based skyline rewrite reads only the three part
    columns it needs and runs zero quadratic joins — the NOT-EXISTS
    dominance spec lives in the oracle, not the plan."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q161_pareto_skyline"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    for cols in P.read_schemas(plan):
        assert set(cols) <= {"p_partkey", "p_retailprice", "p_size"}, cols


def test_q162_cms_cells_broadcast_partial_agg(spark, sf_dir):
    """q162: the 2048-cell sketch table attaches to candidate probes
    via broadcast (it is fixed-size by construction), the token count
    is map-side combined, and the distinct-token table is cached once
    for its three consumers."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q162_cms_heavy_hitters"].fn(spark, sf_dir))
    assert P.count(plan, "BroadcastExchange") >= 2, plan  # N scalar + cells
    assert P.has(plan, "partial_count"), plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q163_snm_window_is_block_partitioned(spark, sf_dir):
    """q163: the sorted-neighborhood rank window partitions by the
    8-char block — never an unpartitioned global sort — and the
    neighbor join is a keyed join on the block."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q163_sorted_neighborhood_pairs"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.has(plan, "row_number"), plan
    # the window's required distribution is hashpartitioning on blk,
    # visible as a shuffle exchange keyed by blk
    assert "blk" in plan, plan


def test_q164_cf_topk_uses_window_group_limit(spark, sf_dir):
    """q164: the per-item top-3 neighbor rank runs as WindowGroupLimit
    (rank pushed into the shuffle), and support pruning happens before
    the degree joins."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q164_item_item_cf"].fn(spark, sf_dir))
    assert P.has(plan, "WindowGroupLimit"), plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q165_attribution_single_purchase_aggregate(spark, sf_dir):
    """q165: the 7-day touch window is a keyed range join (never a
    cartesian), purchase-level credit collapses in one aggregate, and
    both model rollups read the tiny credited table from cache."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q165_touch_attribution"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.count(plan, "InMemoryTableScan") >= 2, plan
    assert P.has(plan, "max_by"), plan


def test_q166_ztest_is_one_flat_partial_aggregate(spark, sf_dir):
    """q166: the whole z-test is a single flat conditional-moment
    aggregate — partial rows combine map-side, one exchange, zero
    joins."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q166_ab_test_ztest"].fn(spark, sf_dir))
    assert P.has(plan, "partial_count"), plan
    assert not P.has(plan, "Join"), plan
    assert P.shuffle_exchanges(plan) <= 1, plan


def test_q167_spatial_join_is_cell_keyed_not_quadratic(spark, sf_dir):
    """q167: the radius join runs as a hash join on grid-cell ids with
    the 9-cell-expanded query side broadcast — the quadratic
    distance-predicate spec lives only in the oracle."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q167_grid_spatial_join"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert not P.has(plan, "BroadcastNestedLoopJoin"), plan
    assert P.has(plan, "BroadcastHashJoin"), plan


def test_q168_ohlc_single_keyed_aggregate(spark, sf_dir):
    """q168: OHLC bars are one hash aggregate keyed by (type, day)
    with min_by/max_by carrying open/close — no window, no join, one
    exchange."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q168_ohlc_bars"].fn(spark, sf_dir))
    assert P.has(plan, "min_by"), plan
    assert not P.has(plan, "Join"), plan
    assert P.shuffle_exchanges(plan) <= 1, plan


def test_q169_twap_window_partitioned_by_key(spark, sf_dir):
    """q169: the lead() window and the weighted-sum aggregate share
    event_type partitioning; the weighted sums are decimal partial
    aggregates."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q169_twap"].fn(spark, sf_dir))
    assert P.has(plan, "partial_sum"), plan
    assert not P.has(plan, "Join"), plan


def test_q170_streaks_reuse_user_partitioning(spark, sf_dir):
    """q170: distinct-collapse, rank window, and both aggregates all
    key on user_id — Catalyst reuses the hash partitioning instead of
    re-shuffling per step (at most the initial distinct + one island
    exchange)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q170_daily_streaks"].fn(spark, sf_dir))
    assert not P.has(plan, "Join"), plan
    assert P.shuffle_exchanges(plan) <= 2, plan


def test_q172_dq_checks_are_single_pass(spark, sf_dir):
    """q172 (r11): the whole 6-check suite reads each fact table once
    — 4 scans total (orders twice for its two key grains, lineitem
    and customer once), key-grain merges instead of per-check
    anti-joins, and only partial-aggregated counts on the wire; no
    per-check scan, no cartesian."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q172_dq_constraint_suite"].fn(spark, sf_dir))
    assert len(P.read_schemas(plan)) <= 4, plan
    assert P.has(plan, "FullOuter"), plan
    assert P.has(plan, "partial_count"), plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q173_zorder_stats_stay_in_codegen(spark, sf_dir):
    """q173: the Morton interleave is shift/AND/OR inside whole-stage
    codegen over a two-column pruned scan, finished by one partial
    aggregate — no window, no join, no global sort."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q173_zorder_rowgroup_stats"].fn(spark, sf_dir))
    assert P.has(plan, "shiftleft"), plan  # Morton spread as Catalyst exprs
    assert P.has(plan, "partial_count"), plan
    assert not P.has(plan, "Join"), plan
    assert not P.has(plan, "Sort"), plan
    for cols in P.read_schemas(plan):
        assert set(cols) <= {"l_partkey", "l_suppkey"}, cols


def test_q174_eval_is_flat_aggregate_no_shuffle_of_rows(spark, sf_dir):
    """q174: scoring is a per-row indexed fold (no join, no window);
    the confusion matrix is one flat partial aggregate."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q174_classifier_eval"].fn(spark, sf_dir))
    assert not P.has(plan, "Join"), plan
    assert not P.has(plan, "Window"), plan
    assert P.shuffle_exchanges(plan) <= 1, plan


def test_q175_rank_windows_partition_by_dimension(spark, sf_dir):
    """q175: the rank/count windows partition by the dimension index —
    d independent local sorts, never one global sort — and the vector
    rebuild groups by vec_id."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q175_quantile_normalize"].fn(spark, sf_dir))
    assert P.has(plan, "row_number"), plan
    assert not P.has(plan, "Join"), plan
    # window ordering must mention the dimension key j
    assert "j#" in plan, plan


def test_q176_rolling_window_per_key_no_join(spark, sf_dir):
    """q176: the trailing-50 moment frame partitions by event_type —
    no join, no global sort; the only exchange feeds the window."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q176_rolling_zscore_anomalies"].fn(spark, sf_dir))
    assert not P.has(plan, "Join"), plan
    assert P.shuffle_exchanges(plan) <= 1, plan


def test_q177_cusum_broadcasts_means_and_limits_argmax(spark, sf_dir):
    """q177: per-key means attach via broadcast from a 5-row
    aggregate; the per-key argmax runs as a rank window group limit."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q177_cusum_changepoint"].fn(spark, sf_dir))
    assert P.has(plan, "BroadcastHashJoin"), plan
    assert P.has(plan, "WindowGroupLimit"), plan


def test_q178_acf_single_window_pass_then_partial_agg(spark, sf_dir):
    """q178: one lead() window pass builds all three lags; the moment
    reduction is map-side combined; no join anywhere."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q178_autocorrelation"].fn(spark, sf_dir))
    assert not P.has(plan, "Join"), plan
    assert P.has(plan, "partial_count"), plan
    assert P.count(plan, "Window") <= 2, plan


def test_q179_margins_derive_from_cached_cell_table(spark, sf_dir):
    """q179: customer attaches by broadcast; margins/totals/output all
    read the 25-row cell table from cache rather than re-aggregating
    the fact join."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q179_contingency_table"].fn(spark, sf_dir))
    assert P.count(plan, "InMemoryTableScan") >= 3, plan
    assert P.count(plan, "BroadcastHashJoin") >= 2, plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q180_growth_window_over_month_aggregate(spark, sf_dir):
    """q180: the lag window consumes the distinct-month aggregate
    (partial_sum before the exchange), never row-level orders."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q180_mom_revenue_growth"].fn(spark, sf_dir))
    assert P.has(plan, "partial_sum"), plan
    assert not P.has(plan, "Join"), plan


def test_q181_transition_matrix_from_cached_cells(spark, sf_dir):
    """q181: the lead window partitions by user; margins and output
    both read the 25-cell transition table from cache; probabilities
    attach via broadcast."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q181_markov_transitions"].fn(spark, sf_dir))
    assert P.count(plan, "InMemoryTableScan") >= 2, plan
    assert P.has(plan, "BroadcastHashJoin"), plan


def test_q182_journeys_prune_before_collect_and_use_topk(spark, sf_dir):
    """q182: rn <= 3 prunes per-user rows before the path aggregate
    and the final top-20 is TakeOrderedAndProject, not a global
    sort."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q182_top_user_journeys"].fn(spark, sf_dir))
    assert P.has(plan, "TakeOrderedAndProject"), plan
    assert not P.has(plan, "Join"), plan


def test_q183_ltv_reuses_cached_cohorts_and_broadcasts_sizes(spark, sf_dir):
    """q183: the first-order collapse is cached (feeds sizes + the
    revenue join), cohort sizes attach via broadcast, and the running
    LTV window partitions by cohort."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q183_cohort_ltv_triangle"].fn(spark, sf_dir))
    assert P.count(plan, "InMemoryTableScan") >= 2, plan
    assert P.has(plan, "BroadcastHashJoin"), plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q184_fifo_match_is_equi_join_on_part(spark, sf_dir):
    """q184: the interval match is a hash/sort-merge join keyed on the
    part — the range predicate is a post-join filter, never a
    cartesian or nested-loop over lots."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q184_fifo_allocation"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert not P.has(plan, "BroadcastNestedLoopJoin"), plan
    assert P.has(plan, "TakeOrderedAndProject"), plan


def test_q185_latency_windows_partition_by_type(spark, sf_dir):
    """q185: both the lag and rank windows partition by event_type —
    no join, no global sort; percentile ordinals are rank selections,
    not percentile_approx."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q185_interevent_latency"].fn(spark, sf_dir))
    assert not P.has(plan, "Join"), plan
    assert P.has(plan, "row_number"), plan
    assert not P.has(plan, "percentile"), plan


def test_q186_weighted_median_prefix_sum_is_bin_parallel(spark, sf_dir):
    """q186 (r17): the crossing price is min(price) over the filtered
    (seg, price) weight marginal — no rank window at all — and the
    marginal's running weight is the two-phase parallel prefix sum:
    the big-table window partitions by (seg, BIN), kept parallel by an
    explicit repartition; the only seg-only windows run over the
    <= 5*nb-row bin-total table.  A bare 5-value seg partition over
    order-grain rows is the banned serializing shape."""
    import re

    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q186_weighted_median"].fn(spark, sf_dir))
    assert P.has(plan, "BroadcastHashJoin"), plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert not P.has(plan, "row_number"), plan
    # the marginal running sum is per-(seg, _bin)
    assert re.search(r"windowspecdefinition\(seg#\d+, _bin#", plan), plan
    assert P.has(plan, "REPARTITION_BY_COL"), plan
    # one fact scan: every consumer reads the cached marginal
    assert plan.count("orders.parquet") == 1, plan


def test_q187_share_windows_run_over_the_aggregate(spark, sf_dir):
    """q187: dims broadcast onto the fact before ONE aggregate to the
    nation grain; the parent-total windows consume that 25-row
    aggregate, never row-level orders."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q187_percent_of_parent"].fn(spark, sf_dir))
    assert P.count(plan, "BroadcastHashJoin") >= 3, plan
    assert P.has(plan, "partial_sum"), plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q188_ks_cdf_runs_over_value_aggregate(spark, sf_dir):
    """q188: per-value counts collapse (partial agg) BEFORE the CDF
    window; group sizes broadcast; the statistic numerator is integer
    arithmetic in-plan."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q188_ks_two_sample"].fn(spark, sf_dir))
    assert P.has(plan, "partial_sum"), plan
    assert P.count(plan, "BroadcastExchange") >= 1, plan
    assert not P.has(plan, "SortMergeJoin"), plan


def test_q189_spearman_ranks_on_grouped_values_not_fact_rows(spark, sf_dir):
    """q189 (r08 shape + r17 two-phase prefix sum): the fact table is
    touched by exactly ONE partial-aggregated count collapse into the
    joint (flag, qty, price) table, cached in-query so every consumer
    shares the single scan.  The price running count never serializes:
    its RANGE frames are partitioned by (flag, BIN) — parallel across
    approx-quantile bins, kept so by an explicit bin repartition —
    with broadcast cumulative bin-total offsets; the constant-domain
    qty marginal attaches by broadcast.  A rank window over rows
    partitioned by the bare 3-value flag would serialize the corpus
    into 3 sort tasks, the one window shape the repo bans."""
    from flink_s3_read_write_spark.queries import registry
    import re

    plan = P.formatted_plan(registry()["q189_spearman_rank_corr"].fn(spark, sf_dir))
    assert P.has(plan, "partial_count"), plan             # map-side collapse
    assert plan.count("lineitem.parquet") == 1, plan      # one fact scan
    # r17: every RANGE-frame window is per-(flag, bin) — never the
    # bare flag partition that would sort the joint table in 3 tasks
    specs = re.findall(
        r"windowspecdefinition\(([^)]*?)specifiedwindowframe\(RangeFrame", plan
    )
    assert specs, plan
    assert all("_bin#" in s for s in specs), plan
    assert P.has(plan, "REPARTITION_BY_COL"), plan        # bin-parallel
    # the constant-domain qty marginal attaches by broadcast, never a
    # shuffle of the joint table by quantity
    assert P.has(plan, "BroadcastExchange"), plan


def test_q190_fuzzy_join_is_blocked_equi_join(spark, sf_dir):
    """q190: the fuzzy join must run as a hash/SMJ EQUI-join on the
    block key with levenshtein only as a post-join filter — never a
    cartesian/BNL join over all name pairs."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q190_fuzzy_string_join"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert not P.has(plan, "BroadcastNestedLoopJoin"), plan
    assert P.has(plan, "levenshtein"), plan


def test_q191_interp_windows_are_running_frames(spark, sf_dir):
    """q191: both direction windows must be running (unbounded
    PRECEDING..current) frames — an unbounded-FOLLOWING frame makes
    Spark rescan to partition end per row, O(n²) per key."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q191_linear_interpolation"].fn(spark, sf_dir))
    assert "unboundedfollowing" not in plan.lower(), plan
    assert plan.lower().count("unboundedpreceding") >= 2, plan
    assert not P.has(plan, "CartesianProduct"), plan


def test_q193_sample_uses_window_group_limit(spark, sf_dir):
    """q193: the per-group hash-rank sample pushes the limit below the
    shuffle (WindowGroupLimit) — no full per-group materialization."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q193_deterministic_sample"].fn(spark, sf_dir))
    assert P.has(plan, "WindowGroupLimit"), plan


def test_q192_inverted_index_single_token_shuffle_after_distinct(spark, sf_dir):
    """q192: distinct postings collapse before the per-token aggregate;
    the posting digest is the ADDITIVE per-doc-hash sum (r09) — a
    plain mergeable SUM with map-side partials, never collect_list
    (which holds a stopword's whole posting list as one group's
    aggregation state)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q192_inverted_index"].fn(spark, sf_dir))
    assert not P.has(plan, "collect_list"), plan
    assert P.has(plan, "partial_sum"), plan  # digest sum is map-side combined
    assert not P.has(plan, "Join"), plan


def test_q195_ssjoin_prefix_equijoin_no_cartesian(spark, sf_dir):
    """q195: candidate generation must be an equi-join on the prefix
    shingle and verify an in-row array_intersect off the cached
    shingle sets — the exact SSJoin never degrades to a cartesian/BNL
    pair enumeration (r10: doc sizes ride the explode, no per-doc
    broadcast exists any more)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q195_prefix_filter_ssjoin"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert not P.has(plan, "BroadcastNestedLoopJoin"), plan
    assert P.count(plan, "BroadcastExchange") >= 2, plan


def test_q194_mode_argmax_pushes_group_limit(spark, sf_dir):
    """q194: mode = count-aggregate then argmax; the rn=1 filter must
    push a WindowGroupLimit below the shuffle so only per-partition
    leaders ship, and the count collapse is map-side combined — the
    window never sees row-level lineitem."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q194_mode_per_group"].fn(spark, sf_dir))
    assert P.has(plan, "WindowGroupLimit"), plan
    assert P.has(plan, "partial_count"), plan
    assert not P.has(plan, "Join"), plan
    for cols in P.read_schemas(plan):
        assert set(cols) == {"l_returnflag", "l_quantity"}, cols


def test_q196_rfm_windows_run_over_customer_grain(spark, sf_dir):
    """q196 (r17 two-phase rank): the max-date scalar and the boundary
    stats broadcast (the only nested-loops are those 1-row crosses),
    the per-customer aggregate is partial/final, and NO window runs
    unpartitioned over the customer-grain input — the quintiles come
    from a row_number window partitioned by (metric, bin), so the only
    unpartitioned-looking pieces are over the <=3*256-row bin-count
    table.  A bare `ntile` reappearing means the serial global sort
    is back (the r16 verdict's 100 TB scale-killer)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q196_rfm_segmentation"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    # nested-loops may only be the 1-row scalar crosses (max-date +
    # boundary stats); the cold plan inlines the cached rfm subtree
    # into every consumer, so pin the KIND, not a textual count
    for line in plan.splitlines():
        # tree lines carry the join type; bare "(N) NodeName" detail
        # headers don't — skip those
        if "BroadcastNestedLoopJoin" in line and not line.strip().startswith("("):
            assert "Cross BuildRight" in line, line
    assert P.has(plan, "partial_sum"), plan
    assert not P.has(plan, "ntile("), plan
    # the customer-grain rank window is partitioned by (metric, bin)
    assert "row_number() windowspecdefinition(_m" in plan, plan
    # bin-parallelism is pinned, not AQE-coalesced away
    assert P.has(plan, "REPARTITION_BY_COL"), plan


def test_two_phase_offsets_branch_aggregates_below_the_exchange(spark, sf_dir):
    """r17: the two-phase-rank offsets broadcast derives its bin
    counts/totals from the PRE-repartition frame, so the grouped count
    partial-aggregates map-side and the only REPARTITION_BY_COL
    exchange in the plan is the main per-bin pass — the offsets branch
    shipping the full input through a second explicit exchange is the
    regression this pins against (q132 had exactly that shape when the
    count was grouped off the repartitioned frame)."""
    from flink_s3_read_write_spark.queries import registry

    # q196's rfm aggregates partial-aggregate on their own, so for it
    # the single REPARTITION_BY_COL node is the discriminating pin
    for name in (
        "q132_ntile_deciles", "q196_rfm_segmentation", "q198_pps_systematic_sample",
    ):
        plan = P.formatted_plan(registry()[name].fn(spark, sf_dir))
        assert P.count(plan, "REPARTITION_BY_COL") == 1, (name, plan)
        assert P.has(plan, "partial_count") or P.has(plan, "partial_sum"), (name, plan)


def test_q197_min_cost_frontier_broadcasts_onto_cached_edges(spark, sf_dir):
    """q197: each Bellman-Ford round joins the (small) frontier onto
    the cached undirected edge list by broadcast — the edge list is
    built once (one parquet scan, InMemoryRelation reused) and never
    re-shuffles per round; min-plus relax stays integer."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q197_min_cost_paths"].fn(spark, sf_dir))
    assert P.has(plan, "BroadcastHashJoin"), plan
    assert P.has(plan, "InMemoryRelation"), plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert not P.has(plan, "SortMergeJoin"), plan
    for cols in P.read_schemas(plan):
        assert set(cols) == {"l_suppkey", "l_partkey", "l_quantity"}, cols


def test_q198_pps_sample_is_integer_windowed_scan(spark, sf_dir):
    """q198: weights partial-aggregate to the scalar total (1-row
    broadcast is the only nested loop), the cumulative sum is one
    window over a two-column pruned scan, and no transcendental
    functions appear — the pointer algebra is all integer div."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q198_pps_systematic_sample"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.count(plan, "BroadcastNestedLoopJoin") <= 2, plan
    assert P.has(plan, "partial_sum"), plan
    for fn in ("LOG(", "POWER(", "EXP("):
        assert fn not in plan.upper(), plan
    for cols in P.read_schemas(plan):
        assert set(cols) <= {"o_orderkey", "o_totalprice"}, cols


def test_q199_ladder_counts_broadcast_onto_records(spark, sf_dir):
    """q199: the three QI count tables attach to the record stream by
    broadcast hash joins (they are orders smaller than the fact), and
    every aggregate is map-side combined."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q199_k_anonymity_ladder"].fn(spark, sf_dir))
    assert P.count(plan, "BroadcastHashJoin") >= 3, plan
    assert not P.has(plan, "SortMergeJoin"), plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.has(plan, "partial_count"), plan


def test_q200_pmi_reuses_cached_counts_no_rescan(spark, sf_dir):
    """q200: unigram/bigram count tables are cached aggregates — the
    vocab joins and the scalar totals all read InMemoryRelation, and
    the scoring expression is ln-free (ratio only)."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q200_pmi_collocations"].fn(spark, sf_dir))
    assert P.has(plan, "InMemoryRelation"), plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.count(plan, "BroadcastHashJoin") >= 2, plan
    assert "LOG(" not in plan.upper(), plan


def test_q201_merge_is_one_full_outer_key_join(spark, sf_dir):
    """q201: MERGE lowers to exactly one full-outer key join (the
    Delta/Iceberg lowering) over a cached source aggregate — no
    cartesian arms, orders scanned once, audit counts map-side
    combined."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q201_merge_upsert"].fn(spark, sf_dir))
    assert P.has(plan, "FullOuter"), plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.has(plan, "InMemoryRelation"), plan
    assert plan.count("orders.parquet") == 1, plan
    assert P.has(plan, "partial_count"), plan


def test_q202_skipgram_single_shuffle_no_join(spark, sf_dir):
    """q202: the co-occurrence matrix build is ONE pruned scan of the
    shared doc_tokens table (doc_id+text — doc_id rides along because
    the cached token table serves the whole text family, r09),
    in-plan HOF pair generation (no posexplode self-join shuffling
    the corpus by doc), and a single partial-aggregated count
    exchange bounded by vocab², not corpus size.  A guarded fan_out
    round-robin may precede the HOF stage on under-split local scans
    (no-op at scale); the KEY shuffle count stays exactly one."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q202_skipgram_cooccurrence"].fn(spark, sf_dir))
    assert plan.count("hashpartitioning") == 1, plan
    assert P.shuffle_exchanges(plan) <= 2, plan  # count + optional fan_out
    assert not P.has(plan, "Join"), plan
    assert P.has(plan, "partial_count"), plan
    for cols in P.read_schemas(plan):
        assert set(cols) <= {"doc_id", "text"}, cols


def test_q203_mau_explodes_activity_grain_not_events(spark, sf_dir):
    """q203: the 7x fan-out must run over the COLLAPSED (user, day)
    activity grain — the distinct collapse (partial-aggregated)
    happens below the Generate, and the max-day scalar is the only
    nested-loop broadcast."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q203_rolling_mau"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.count(plan, "BroadcastNestedLoopJoin") <= 4, plan  # 1-row max-day scalar x2 branches (AQE doubles)
    assert P.has(plan, "partial_count"), plan
    for cols in P.read_schemas(plan):
        assert set(cols) <= {"ts", "user_id"}, cols


def test_q204_polygon_test_broadcasts_never_shuffles_points(spark, sf_dir):
    """q204: the polygon table broadcasts (nested loop over |polys|
    rows) and the point set reaches the aggregate without ever
    shuffling row-level points — the only exchange carries the
    3-polygon partial counts."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q204_point_in_polygon"].fn(spark, sf_dir))
    assert P.has(plan, "BroadcastNestedLoopJoin"), plan
    assert not P.has(plan, "SortMergeJoin"), plan
    assert P.has(plan, "partial_count"), plan
    assert P.shuffle_exchanges(plan) <= 1, plan
    for cols in P.read_schemas(plan):
        assert set(cols) == {"c_custkey"}, cols


def test_q205_clamp_fold_is_pure_window_plan(spark, sf_dir):
    """q205: the clamp fold lowers to the prefix-min window identity —
    pure JVM window frames over ONE key shuffle, zero Python nodes
    (the sequential applyInPandas twin stays available in
    operators/grouped.py and keeps the single-exchange shape)."""
    from flink_s3_read_write_spark.operators.grouped import (
        clamped_running_stock_pandas,
    )
    from flink_s3_read_write_spark.queries import registry
    from flink_s3_read_write_spark.sources.io import load_table
    from pyspark.sql import functions as F

    plan = P.formatted_plan(registry()["q205_clamped_running_stock"].fn(spark, sf_dir))
    assert P.has(plan, "Window"), plan
    for py_node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert not P.has(plan, py_node), plan
    assert P.shuffle_exchanges(plan) == 1, plan
    assert not P.has(plan, "Join"), plan

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.lit(1).cast("bigint").alias("delta")
    )
    twin = P.formatted_plan(clamped_running_stock_pandas(ev))
    assert P.has(twin, "FlatMapGroupsInPandas"), twin
    assert P.shuffle_exchanges(twin) == 1, twin


def test_q206_rules_prune_support_before_expansion(spark, sf_dir):
    """q206: the basket self-join keys on basket id (never cartesian),
    the support table attaches by broadcast, and the basket
    projection is cached — one lineitem scan feeds baskets, supports,
    and the scalar total."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q206_association_rules"].fn(spark, sf_dir))
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.has(plan, "InMemoryRelation"), plan
    assert plan.count("lineitem.parquet") == 1, plan
    assert P.count(plan, "BroadcastHashJoin") >= 2, plan


def test_q207_peel_rounds_reuse_cached_edges(spark, sf_dir):
    """q207: the undirected edge list is built once (one lineitem
    scan into an InMemoryRelation) and each peel round is a degree
    aggregate + two broadcast endpoint joins — no cartesian, no
    re-derivation of the pair table per round."""
    from flink_s3_read_write_spark.queries import registry

    plan = P.formatted_plan(registry()["q207_kcore_peeling"].fn(spark, sf_dir))
    # two caches: the undirected edge list and round 1's survivor edges
    # (explain reprints a cache's inner plan per InMemoryTableScan, so
    # a scan-string count would overcount — assert the relations)
    assert P.count(plan, "InMemoryRelation") >= 2, plan
    assert not P.has(plan, "CartesianProduct"), plan
    assert P.count(plan, "BroadcastHashJoin") >= 2, plan


def test_release_shared_builders_drops_storage_and_memos(spark, sf_dir):
    """The cache-lifetime contract is callable (r10): after
    release_shared_builders, JVM cache storage is zero AND the
    Python-side plan memos (fan_out splits, IVF centroids) that
    clearCache() cannot see are empty; builders re-materialize lazily
    on next use."""
    from flink_s3_read_write_spark import queries_llmdata as QL
    from flink_s3_read_write_spark.operators import similarity as S
    from flink_s3_read_write_spark.session import release_shared_builders
    from flink_s3_read_write_spark.sources import io as IO
    from flink_s3_read_write_spark.sources.io import load_table

    import gc as _gc
    import time as _time

    jsc = spark.sparkContext._jsc.sc()

    # Baseline FIRST (r11 de-flake): catalog.clearCache() cannot drop
    # RDD-LEVEL storage (localCheckpoint'd RDDs from earlier test
    # modules linger until the ContextCleaner GCs them), so under a
    # full-suite run the post-release storage set is "baseline", not
    # "empty".  Release + GC + poll to a stable baseline id set, then
    # assert the release below returns storage to a SUBSET of it.
    release_shared_builders(spark)
    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    for _ in range(100):
        if len(jsc.getRDDStorageInfo()) == 0:
            break
        _time.sleep(0.1)
    baseline_ids = {r.id() for r in jsc.getRDDStorageInfo()}

    # Materialize a shared builder (populates the JVM cache and, via
    # fan_out inside doc_tokens, the split-count memo) and train IVF
    # centroids (populates the centroid memo).
    QL.doc_tokens(spark, sf_dir).count()
    S.ivf_train_centroids(
        load_table(spark, sf_dir, "embeddings"), n_centroids=4, vec_col="embedding"
    )
    assert {r.id() for r in jsc.getRDDStorageInfo()} - baseline_ids
    assert len(IO._FAN_OUT_SPLITS) >= 1
    assert len(S._IVF_CENTROIDS) >= 1

    release_shared_builders(spark)
    # The Python-side memos clear synchronously; JVM storage-info
    # entries retire asynchronously after unpersist (the 9220586
    # de-flake lesson), so poll briefly instead of asserting at the
    # instant of return.
    assert IO._FAN_OUT_SPLITS == {}
    assert S._IVF_CENTROIDS == {}
    for _ in range(100):
        if {r.id() for r in jsc.getRDDStorageInfo()} <= baseline_ids:
            break
        _time.sleep(0.1)
    assert {r.id() for r in jsc.getRDDStorageInfo()} <= baseline_ids

    # Lazily rebuilds — same values, fresh materialization.  Checked on
    # an actual registry consumer, not just a row count: a mid-session
    # release must be invisible to every downstream answer.
    from flink_s3_read_write_spark.queries import registry

    q33 = registry()["q33_minhash_dedup_pairs"].fn
    before = sorted(map(tuple, q33(spark, sf_dir).collect()))
    release_shared_builders(spark)
    after = sorted(map(tuple, q33(spark, sf_dir).collect()))
    assert before == after and len(before) > 0


def test_ivf_centroid_memo_is_read_only(spark, sf_dir):
    """The memoized centroid matrix is frozen (ADVICE r09): in-place
    mutation by a caller raises instead of silently poisoning every
    later memo hit."""
    import numpy as np
    import pytest as _pytest

    from flink_s3_read_write_spark.operators import similarity as S
    from flink_s3_read_write_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    c1 = S.ivf_train_centroids(emb, n_centroids=4, vec_col="embedding")
    assert not c1.flags.writeable
    with _pytest.raises(ValueError):
        c1[0, 0] = 0.0
    c2 = S.ivf_train_centroids(emb, n_centroids=4, vec_col="embedding")
    assert np.array_equal(c1, c2)
