"""Query-surface breadth: subqueries, percentiles, date/string scalar
functions, conditional aggregation — several entered through the SQL
interface (``sql.run_sql``) to exercise the Catalyst SQL front-end
end-to-end (SURVEY.md §2.2 categories the reference lacks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_s3_read_write_spark.functions.numeric import (
    dsum,
    round9_exact,
)
from flink_s3_read_write_spark.functions.numeric import (
    round9_exact_sql as _R9,
)
from flink_s3_read_write_spark.queries import register
from flink_s3_read_write_spark.sources.io import load_table
from flink_s3_read_write_spark.sql import run_sql


@register(
    "q26_exists_subquery",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    GROUP BY c_mktsegment
    """,
    doc=(
        "Correlated EXISTS / NOT EXISTS through the SQL front-end; "
        "Catalyst rewrites to left-semi + left-anti joins (same plan "
        "family as q8/q9)."
    ),
)
def q26_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, """
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        GROUP BY c_mktsegment
    """)


@register(
    "q27_correlated_scalar_subquery",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
    """,
    doc=(
        "Correlated scalar subquery (orders more than 2x their "
        "customer's average) — Catalyst decorrelates into an "
        "aggregate + join."
    ),
)
def q27_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, """
        SELECT o.o_orderkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders o2
                                    WHERE o2.o_custkey = o.o_custkey)
    """)


@register(
    "q28_percentiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc=(
        "Exact interpolated percentiles per group (Spark `percentile` "
        "== DuckDB quantile_cont). At 100 TB swap to approx_percentile "
        "(t-digest, mergeable map-side) — same API shape; exact kept "
        "here for the oracle."
    ),
)
def q28_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "q29_date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           MIN(CAST(date_trunc('week', o_orderdate) AS TIMESTAMP)) AS first_week_start,
           CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')) AS INT) AS max_days_to_eoy
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Date/time scalar surface: year/month extract, date_trunc, datediff.",
)
def q29_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.functions.numeric import dsum

    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
            F.min(F.date_trunc("week", F.col("o_orderdate"))).alias("first_week_start"),
            F.max(
                F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
            ).alias("max_days_to_eoy"),
        )
    )


@register(
    "q45_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS uname,
           substring(c_name, 1, 8) AS prefix8,
           strpos(c_name, '0') AS zero_pos,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           reverse(c_name) AS rname,
           replace(c_name, 'Customer', 'Cust') AS shortname,
           length(c_name) AS name_len
    FROM customer
    """,
    doc="String scalar surface: upper/substr/instr/lpad/reverse/replace/length.",
)
def q45_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.col("c_name")
    return c.select(
        "c_custkey",
        F.upper(n).alias("uname"),
        F.substring(n, 1, 8).alias("prefix8"),
        F.instr(n, "0").alias("zero_pos"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse(n).alias("rname"),
        F.replace(n, F.lit("Customer"), F.lit("Cust")).alias("shortname"),
        F.length(n).alias("name_len"),
    )


@register(
    "q46_conditional_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_disc,
           CAST(SUM(CASE WHEN l_quantity > 25
                         THEN CAST(l_extendedprice AS DECIMAL(30,6)) END) AS DOUBLE)
             AS big_qty_price,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Conditional aggregation (FILTER/CASE inside agg) + distinct count.",
)
def q46_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_disc"),
        F.sum(
            F.when(F.col("l_quantity") > 25, F.col("l_extendedprice").cast("decimal(30,6)"))
        ).cast("double").alias("big_qty_price"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@register(
    "q47_array_functions",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(MIN(len(embedding)) AS INT) AS min_dim,
           CAST(MAX(len(embedding)) AS INT) AS max_dim,
           CAST(SUM(CAST(list_sum(list_transform(embedding,
                    x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)) AS BIGINT)) AS BIGINT)
             AS total_positive
    FROM embeddings
    GROUP BY label
    """,
    doc="Array/higher-order surface: size, element predicates, per-group sums.",
)
def q47_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n_pos = F.aggregate(
        F.col("embedding"),
        F.lit(0),
        lambda acc, x: acc + F.when(x > 0, 1).otherwise(0),
    )
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min(F.size("embedding")).alias("min_dim"),
        F.max(F.size("embedding")).alias("max_dim"),
        F.sum(n_pos).cast("long").alias("total_positive"),
    )


@register(
    "q55_approx_sketches",
    # Sketch VALUES are Spark-specific (HLL++ register layout / KLL
    # compaction), but the published error bounds are not: the query
    # emits the exact counts plus in-query booleans asserting each
    # sketch estimate falls within its bound (3x the default 5% rsd for
    # HLL++; rank window +-0.5/0.5 pct points around the target for
    # percentile_approx at accuracy 10000, whose guarantee is 1e-4).
    # The oracle recomputes the exact counts and asserts the booleans
    # literally TRUE — a sketch drifting out of bound hash-fails the
    # driver row.  Sketches are hash-deterministic (no seed), so the
    # booleans are stable.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS orders_ok, TRUE AS parts_ok,
           TRUE AS p50_ok, TRUE AS p99_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc=(
        "Sketch aggregates for 100 TB cardinality/quantile work: "
        "approx_count_distinct (HLL++, fixed-size mergeable state vs "
        "countDistinct's per-key value sets) and approx_percentile "
        "(KLL-style, map-side mergeable vs exact percentile's full "
        "sort). Emits exact counts + within-error-bound booleans so the "
        "DuckDB oracle hash-checks the contract; the exact twins "
        "q16/q28 cover values."
    ),
)
def q55_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase plan, NOT one giant aggregate: phase 1 computes the four
    # sketches per group (mergeable state, one shuffle); the 3-row result
    # broadcasts back onto the scan and phase 2 verifies the percentile
    # bound by COUNTING rows on each side of the sketch value (integer
    # cross-multiplied rank window) — no exact-percentile sort anywhere.
    # A single-aggregate version with exact percentile() cost 10.3 s at
    # sf0.1 (multi-distinct expand x full per-group sort); this shape is
    # two column-pruned scans + hash aggregates.
    li = load_table(spark, sf_dir, "lineitem")
    from flink_s3_read_write_spark.sources.io import fan_out

    # raw projection for the distinct collapses (they key-shuffle
    # immediately — fanning them first would just add an exchange);
    # fanned projection for the sketch partials and the verify sums,
    # whose map-side work is the CPU stage (no-op at scale).  Sketch
    # merges are partitioning-safe: HLL++ registers merge by max, and
    # the percentile_approx drift across merge orders is orders of
    # magnitude inside the 3x/±0.5pt bounds the booleans assert.
    base_raw = li.select(
        "l_returnflag", "l_orderkey", "l_partkey", "l_extendedprice"
    )
    base = fan_out(base_raw)
    sk = base.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("_ao"),
        F.approx_count_distinct("l_partkey").alias("_ap"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("_p50a"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("_p99a"),
    )
    j = base.join(F.broadcast(sk), "l_returnflag")
    price = F.col("l_extendedprice")
    agg = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(price < F.col("_p50a"), 1).otherwise(0)).alias("_lt50"),
        F.sum(F.when(price <= F.col("_p50a"), 1).otherwise(0)).alias("_le50"),
        F.sum(F.when(price < F.col("_p99a"), 1).otherwise(0)).alias("_lt99"),
        F.sum(F.when(price <= F.col("_p99a"), 1).otherwise(0)).alias("_le99"),
        F.first("_ao").alias("_ao"),
        F.first("_ap").alias("_ap"),
    )
    # Exact distinct counts as pre-grouped collapses instead of two
    # countDistinct()s in the aggregate above: multi-distinct forces an
    # Expand that triples the fact rows through the shuffle; each
    # (flag, key) collapse is map-side combined on the pruned 2-column
    # scan, and the 3-row count tables attach by broadcast.
    def ndistinct(key: str, out: str) -> DataFrame:
        # the NOT NULL filter keeps this exactly countDistinct-
        # equivalent (a grouped collapse would otherwise count a NULL
        # key as one distinct value; TPC-H keys are non-null, but the
        # helper must not drift if reused — ADVICE r08)
        return (
            base_raw.select("l_returnflag", key)
            .filter(F.col(key).isNotNull())
            .groupBy("l_returnflag", key)
            .agg(F.lit(1).alias("_one"))
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias(out))
        )

    agg = (
        agg.join(F.broadcast(ndistinct("l_orderkey", "exact_orders")), "l_returnflag")
        .join(F.broadcast(ndistinct("l_partkey", "exact_parts")), "l_returnflag")
    )

    def within_rel(approx, exact, rel=0.15):
        return F.abs(approx - exact) <= rel * exact

    n = F.col("_n")
    return agg.select(
        "l_returnflag", "exact_orders", "exact_parts",
        within_rel(F.col("_ao"), F.col("exact_orders")).alias("orders_ok"),
        within_rel(F.col("_ap"), F.col("exact_parts")).alias("parts_ok"),
        # sketch value's rank window: fewer than 51% of rows strictly
        # below it AND at least 49% at-or-below it (guarantee is 1e-4)
        ((F.col("_lt50") * 100 <= n * 51) & (F.col("_le50") * 100 >= n * 49)).alias(
            "p50_ok"
        ),
        ((F.col("_lt99") * 1000 <= n * 995) & (F.col("_le99") * 1000 >= n * 985)).alias(
            "p99_ok"
        ),
    )


@register(
    "q48_null_handling",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           COUNT(nullif(o_orderpriority, '1-URGENT')) AS n_non_urgent,
           CAST(SUM(CAST(coalesce(nullif(o_totalprice, 0.0), 0.0)
                         AS DECIMAL(30,6))) AS DOUBLE) AS total,
           CAST(SUM(CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="NULL semantics: nullif/coalesce, COUNT skipping NULLs, IS NULL arithmetic.",
)
def q48_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.functions.numeric import dsum

    o = load_table(spark, sf_dir, "orders")
    non_urgent = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(non_urgent).alias("n_non_urgent"),
        dsum(F.coalesce(F.nullif(F.col("o_totalprice"), F.lit(0.0)), F.lit(0.0)), "total"),
        F.sum(F.when(non_urgent.isNull(), 1).otherwise(0)).cast("long").alias("n_urgent"),
    )


@register(
    "q59_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc=(
        "TPC-H Q3 shape (shipping priority): selective dim filter -> "
        "two fact joins -> aggregate -> global top-10. Catalyst plan: "
        "both date filters pushed to the scans, customer filtered then "
        "broadcast, TakeOrderedAndProject instead of a full sort."
    ),
)
def q59_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.functions.numeric import dsum

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q61_window_analytics",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist,
           first_value(o_totalprice) OVER w AS smallest,
           last_value(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS largest,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_by_value
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    doc=(
        "Analytic window-function surface: ntile/percent_rank/cume_dist, "
        "first/last value with explicit frames, RANGE running sum."
    ),
)
def q61_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_range = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.first("o_totalprice").over(w).alias("smallest"),
        F.last("o_totalprice").over(w_full).alias("largest"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).over(w_range)
        .cast("double").alias("running_by_value"),
    )


@register(
    "q62_explode_lateral",
    oracle="""
    SELECT doc_id, tok.w AS word, tok.i - 1 AS pos
    FROM (
      SELECT doc_id,
             unnest(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                   (x, i) -> struct_pack(w := x, i := i))) AS tok
      FROM documents) t
    WHERE tok.w IS NOT NULL
    """,
    doc=(
        "Lateral explode (posexplode) of extracted tokens with ordinal "
        "positions - the row-multiplying operator family (UDTF shape)."
    ),
)
def q62_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    return (
        docs.select("doc_id", F.posexplode(words).alias("pos", "word"))
        .select("doc_id", "word", "pos")
    )


@register(
    "q63_zscore_per_group",
    oracle="""
    WITH m AS (
      SELECT event_id, event_type, value,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s2,
             CAST(COUNT(value) OVER w AS DOUBLE) AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type))
    SELECT event_id, event_type, value,
           CASE WHEN n > 1 AND sqrt(greatest((s2 - s1 * s1 / n) / (n - 1.0), 0.0)) > 0
                THEN (value - s1 / n) / sqrt(greatest((s2 - s1 * s1 / n) / (n - 1.0), 0.0))
                ELSE 0.0 END AS zscore
    FROM m
    """,
    doc=(
        "Per-group z-score via window functions (hot-key safe, no group "
        "materialization); the applyInPandas grouped-map twin is tested "
        "float-equivalent in tests/test_grouped.py."
    ),
)
def q63_zscore_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.grouped import zscore_catalyst

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return zscore_catalyst(ev, "event_type", "value")


@register(
    "q65_outer_joins",
    oracle="""
    SELECT n.n_name,
           r.r_name,
           COALESCE(c.n_customers, 0) AS n_customers
    FROM nation n
    FULL OUTER JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n_customers
               FROM customer GROUP BY c_nationkey) c
      ON c.c_nationkey = n.n_nationkey
    """,
    doc="Full-outer + left-outer join family over the dim tables.",
)
def q65_outer_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return (
        n.join(r, n.n_regionkey == r.r_regionkey, "full_outer")
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .select(
            "n_name", "r_name",
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        )
    )


@register(
    "q66_cross_join_small",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    """,
    doc=(
        "Explicit cross join of two SMALL dims (the only place a cross "
        "join is legitimate; big-side cross products are what the LSH/"
        "broadcast strategies elsewhere exist to avoid)."
    ),
)
def q66_cross_join_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = load_table(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k1"), F.col("r_name").alias("from_region"))
    r2 = load_table(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k2"), F.col("r_name").alias("to_region"))
    return r1.crossJoin(r2).filter(F.col("k1") != F.col("k2")).select("from_region", "to_region")


@register(
    "q69_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) AS n, COUNT(o_orderkey) AS n_nonnull,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_v, CAST(MAX(o_orderkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
    FROM orders
    """,
    doc=(
        "Data profiling: per-column count/non-null/distinct/min/max in "
        "ONE scan (single multi-agg projection, unpivoted) - the "
        "profile-before-you-process step of any 100 TB ingest."
    ),
)
def q69_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_totalprice", "o_custkey"]
    agg = o.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(c).alias(f"_nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"_nd_{c}") for c in cols],
        *[F.min(F.col(c).cast("double")).alias(f"_min_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_max_{c}") for c in cols],
    )
    rows = [
        F.struct(
            F.lit(c).alias("col"), F.col("_n").alias("n"),
            F.col(f"_nn_{c}").alias("n_nonnull"), F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_v"), F.col(f"_max_{c}").alias("max_v"),
        )
        for c in cols
    ]
    return agg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# CDC compaction, map-typed columns, HAVING over big aggregates.
# ---------------------------------------------------------------------------


@register(
    "q73_latest_by_key",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           value AS last_value, epoch_us(ts) AS ts_us
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc=(
        "CDC / changelog compaction: latest record per key "
        "(row_number over ts DESC with event_id tiebreak). The "
        "upsert-materialization step of any incremental ingest; one "
        "hash shuffle on the key, per-partition sort, WindowGroupLimit "
        "keeps only rank-1 rows below the window."
    ),
)
def q73_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.unix_micros("ts").alias("ts_us"),
        )
    )


@register(
    "q74_map_functions",
    oracle="""
    SELECT 'k' AS key, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_v,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_v,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_v
    FROM events
    UNION ALL
    SELECT 'type_len', COUNT(*),
           CAST(SUM(len(event_type)) AS BIGINT),
           CAST(MIN(len(event_type)) AS BIGINT),
           CAST(MAX(len(event_type)) AS BIGINT)
    FROM events
    """,
    doc=(
        "Map-typed column surface: from_json into map<string,bigint>, "
        "map_concat with a computed entry, explode of map entries, "
        "aggregate per key. The semi-structured path when JSON keys "
        "are dynamic (vs q53's fixed-path get_json_object)."
    ),
)
def q74_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.map_concat(
            F.from_json("props", "map<string,bigint>"),
            F.create_map(
                F.lit("type_len"), F.length("event_type").cast("bigint")
            ),
        ).alias("m"),
    )
    entries = parsed.select(F.explode("m").alias("key", "v"))
    return entries.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@register(
    "q77_big_spenders_having",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    HAVING SUM(CAST(o.o_totalprice AS DECIMAL(30,6))) > 4000000
    ORDER BY total_spend DESC, c_custkey
    LIMIT 100
    """,
    doc=(
        "TPC-H Q18 shape (large-volume customers): fact-dim join, "
        "per-customer aggregate, HAVING on the decimal-exact sum, "
        "deterministic top-100. The customer side broadcasts; the "
        "HAVING filter runs post-agg so only qualifying groups reach "
        "the TakeOrderedAndProject."
    ),
)
def q77_big_spenders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.functions.numeric import _DEC

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast(_DEC)).alias("_spend_dec"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("_spend_dec") > 4000000)
    )
    return (
        agg.select(
            "c_custkey",
            "c_name",
            F.col("_spend_dec").cast("double").alias("total_spend"),
            "n_orders",
        )
        .orderBy(F.col("total_spend").desc(), "c_custkey")
        .limit(100)
    )


@register(
    "q81_winsorize",
    oracle="""
    WITH pct AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
           least(greatest(o.o_totalprice, p.p05), p.p95) AS w_price
    FROM orders o JOIN pct p USING (o_orderpriority)
    """,
    doc=(
        "Winsorization (outlier clamping): per-group p05/p95 computed "
        "once in a tiny aggregate, broadcast back onto the fact table, "
        "values clamped with least/greatest. The pre-normalization "
        "step before z-scoring (q63); the percentile table is "
        "group-count sized, so the join never shuffles the fact side."
    ),
)
def q81_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pct = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    joined = o.join(F.broadcast(pct), "o_orderpriority")
    return joined.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.least(
            F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95")
        ).alias("w_price"),
    )


@register(
    "q84_unpivot",
    oracle="""
    SELECT o_orderkey, metric, val
    FROM (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             CAST(o_custkey AS DOUBLE) AS custkey
      FROM orders
    ) UNPIVOT (val FOR metric IN (price, custkey))
    """,
    doc=(
        "UNPIVOT (wide -> long): numeric order columns melted into "
        "(metric, val) rows via DataFrame.unpivot — the inverse of "
        "q23's pivot; a zero-shuffle row-expanding projection "
        "(Catalyst Expand node), used to feed generic per-metric "
        "aggregations like q69's profiler."
    ),
)
def q84_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return o.unpivot("o_orderkey", ["price", "custkey"], "metric", "val")


@register(
    "q86_time_range_frame",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS roll_sum,
           COUNT(*) OVER w AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
    """,
    doc=(
        "Time-based RANGE frame: per-user rolling 6-hour sum/count — "
        "the moving-aggregate shape row-count frames (q11/q61) can't "
        "express when events are irregularly spaced. One shuffle on "
        "user_id; the frame sum routes through DECIMAL so the sliding "
        "accumulation is order-independent and exact on both engines."
    ),
)
def q86_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-6 * 3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .over(w)
        .cast("double")
        .alias("roll_sum"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


@register(
    "q88_stats_aggregates",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(20,6))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(20,6))
                 * CAST(l_quantity AS DECIMAL(20,6))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(20,6))
                 * CAST(l_extendedprice AS DECIMAL(20,6))) AS syy,
             SUM(CAST(l_quantity AS DECIMAL(20,6))
                 * CAST(l_extendedprice AS DECIMAL(20,6))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    -- mean in EXACT integer arithmetic (r16): the snap-groups fuzz
    -- knob proved round(double, 9) diverges between engines when the
    -- true quotient's decimal expansion terminates at digit 10 with a
    -- 5 AND the value is non-dyadic (163841/5120: Spark HALF_UP
    -- .000195313 vs DuckDB binary-double .000195312 — the q183
    -- class).  Quantities are non-negative, so HALF_UP at the 1e-9
    -- grid == (2*qty_nanos + n) // (2*n) over exact BIGINTs, then one
    -- shared double division.  stddev/corr stay double: their sqrt
    -- intermediates are irrational and cannot land on a boundary.
    SELECT l_returnflag, n,
           CAST((2 * CAST(sx * 1000000000 AS BIGINT) + n)
                // (2 * n) AS DOUBLE) / 1e9 AS mean_qty,
           round(sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n AS DOUBLE) * (n - 1))), 9) AS stddev_qty,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
             AS corr_qty_price
    FROM m
    """,
    doc=(
        "Statistical aggregates (mean/stddev/correlation) computed "
        "from decimal-exact moment sums, finished in double on the "
        "group row: order-independent (the running-variance forms "
        "built-in stddev/corr use are partition-order sensitive in "
        "the last ulp; outputs round to 9 dp because the final "
        "decimal->double cast is itself engine-rounded), single-pass, "
        "mergeable — the way to get "
        "bit-stable statistics at 100 TB. Built-in F.corr/F.stddev "
        "agree to ~1e-9 (tests/test_query_extras.py)."
    ),
)
def q88_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = "decimal(20,6)"
    x = F.col("l_quantity").cast(d)
    y = F.col("l_extendedprice").cast(d)
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_num_x = n * sxx - sx * sx
    var_num_y = n * syy - sy * sy
    # HALF_UP at 9 dp in exact integers (see the oracle note): sx is
    # an exact DECIMAL, so qty_nanos = sx*1e9 is an exact BIGINT
    # (bounded: total quantity * 1e9 << 2^63 at any realistic
    # per-flag grain); quantities are non-negative so `div` == the
    # HALF_UP numerator floor on both engines.
    m = m.withColumn("_qn", (F.col("sx") * 1000000000).cast("bigint"))
    return m.select(
        "l_returnflag",
        "n",
        (F.expr("(2 * _qn + n) div (2 * n)").cast("double") / F.lit(1e9))
        .alias("mean_qty"),
        F.round(F.sqrt(var_num_x / (n.cast("double") * (n - 1))), 9).alias(
            "stddev_qty"
        ),
        F.round(
            (n * sxy - sx * sy) / (F.sqrt(var_num_x) * F.sqrt(var_num_y)), 9
        ).alias("corr_qty_price"),
    )


@register(
    "q91_minmax_by",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderstatus,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn_min,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max
      FROM orders
    )
    SELECT o_orderpriority,
           MIN(CASE WHEN rn_min = 1 THEN o_orderkey END) AS cheapest_orderkey,
           MIN(CASE WHEN rn_max = 1 THEN o_orderkey END) AS priciest_orderkey,
           bool_or(o_orderstatus = 'F') AS any_finished,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bit_or(o_orderkey % 256) AS key_bits_or,
           bit_and(o_orderkey % 256) AS key_bits_and
    FROM r
    GROUP BY o_orderpriority
    """,
    doc=(
        "Ordered-argument and boolean/bitwise aggregates: min_by/max_by "
        "with a struct ordering key (unique o_orderkey tiebreak makes the "
        "answer engine-independent even under o_totalprice ties), "
        "bool_and/bool_or, bit_and/bit_or. All are single-pass mergeable "
        "aggregates (partial+final HashAggregate, no window, no sort) — "
        "min_by carries one candidate row per partition, which is the "
        "100 TB-safe way to answer 'the row that attains the extreme' "
        "without a self-join back onto the fact table. The oracle spells "
        "the same ordering out as row_number because DuckDB's arg_min "
        "cannot take a composite ordering key."
    ),
)
def q91_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    price_key = F.struct("o_totalprice", "o_orderkey")
    price_key_desc = F.struct("o_totalprice", "o_orderkey")
    return orders.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", price_key).alias("cheapest_orderkey"),
        F.max_by("o_orderkey", price_key_desc).alias("priciest_orderkey"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bit_or(F.col("o_orderkey") % 256).alias("key_bits_or"),
        F.bit_and(F.col("o_orderkey") % 256).alias("key_bits_and"),
    )


@register(
    "q93_timestamp_arithmetic",
    oracle="""
    SELECT event_id,
           ts + INTERVAL 90 MINUTE AS ts_plus_90m,
           ts - INTERVAL 3 DAY AS ts_minus_3d,
           CAST(last_day(ts) AS VARCHAR) AS month_end,
           CAST(isodow(ts) AS INT) AS iso_dow,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
    FROM events
    """,
    doc=(
        "Timestamp interval arithmetic surface: +/- INTERVAL, last_day, "
        "ISO day-of-week, epoch seconds. Zero-shuffle projection; every "
        "expression is a Catalyst built-in inside whole-stage codegen. "
        "Spark's weekday() is 0-based Monday (isodow - 1); epoch seconds "
        "are floor(unix_micros/1e6) vs floor(epoch(ts)) so sub-second "
        "event times truncate identically."
    ),
)
def q93_timestamp_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts")
    return ev.select(
        "event_id",
        (ts + F.expr("INTERVAL 90 MINUTES")).alias("ts_plus_90m"),
        (ts - F.expr("INTERVAL 3 DAYS")).alias("ts_minus_3d"),
        F.last_day(ts).cast("string").alias("month_end"),
        (F.weekday(ts) + F.lit(1)).cast("int").alias("iso_dow"),
        F.floor(F.unix_micros(ts) / F.lit(1000000.0)).cast("bigint").alias("epoch_s"),
    )


@register(
    "q94_nested_struct_topk",
    oracle="""
    WITH r AS (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer
    )
    SELECT c_nationkey, CAST(rnk AS INT) AS rnk, c_custkey, c_acctbal
    FROM r WHERE rnk <= 3
    """,
    doc=(
        "Nested-type surface: per-nation top-3 customers built as an "
        "array-of-struct column — collect_list(struct) → sort_array on "
        "the struct's lexicographic order (negated balance gives DESC, "
        "unique custkey breaks ties) → slice(3) → posexplode back to flat "
        "rows, one hash shuffle with a partial collect on the map side; "
        "the oracle states the same answer with a window row_number. "
        "Honest caveat: collect_list's accumulator holds the FULL group "
        "before the slice (group = one nation's customers here, bounded "
        "by the 25-nation dimension), so at 100 TB with unbounded "
        "groups prefer q10's WindowGroupLimit; the array-of-struct form "
        "is the one that matters when the nested column itself is the "
        "product (feature lists, session records)."
    ),
)
def q94_nested_struct_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    item = F.struct(
        (-F.col("c_acctbal")).alias("neg_bal"), F.col("c_custkey").alias("c_custkey")
    )
    g = cust.groupBy("c_nationkey").agg(
        F.slice(F.sort_array(F.collect_list(item)), 1, 3).alias("top3")
    )
    return g.select(
        "c_nationkey", F.posexplode("top3").alias("pos", "s")
    ).select(
        "c_nationkey",
        (F.col("pos") + 1).cast("int").alias("rnk"),
        F.col("s.c_custkey").alias("c_custkey"),
        (-F.col("s.neg_bal")).alias("c_acctbal"),
    )


_Q95_SQL = """
    SELECT s.s_name, COUNT(*) AS waiting_lines
    FROM lineitem l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
"""


@register(
    "q95_last_to_ship",
    oracle=_Q95_SQL,
    doc=(
        "TPC-H Q21 shape (suppliers who kept orders waiting): per "
        "lineitem, EXISTS another supplier on the same order (semi join) "
        "and NOT EXISTS a strictly later-shipping other supplier (anti "
        "join with an inequality) — the supplier whose shipment closed "
        "each multi-supplier order. Catalyst decorrelates both "
        "subqueries into joins on l_orderkey; the two self-join shuffles "
        "share the same hash partitioning as the probe side, so at "
        "100 TB bucketed-by-orderkey storage makes all three scans "
        "co-located (operators/relational.py bucketed-join pattern)."
    ),
)
def q95_last_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _Q95_SQL)


@register(
    "q96_percentile_disc",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag, MAX(n) AS n,
           MIN(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN l_quantity END) AS p25_disc,
           MIN(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN l_quantity END) AS p50_disc,
           MIN(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN l_quantity END) AS p75_disc,
           MIN(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN l_quantity END) AS p95_disc
    FROM r
    GROUP BY l_returnflag
    """,
    doc=(
        "Discrete (no-interpolation) percentiles: the value at ordinal "
        "ceil(p*n) in each group's sort order — always an actually "
        "occurring value, unlike q28's interpolated percentile. Both "
        "engines evaluate the identical ordinal formula, so tie order "
        "inside row_number cannot change the selected value (equal "
        "ranks hold equal quantities). One hash shuffle + per-partition "
        "sort; at 100 TB swap to approx_percentile (q55) — discrete "
        "exactness is what you pay the sort for."
    ),
)
def q96_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wn = Window.partitionBy("l_returnflag")
    r = li.select("l_returnflag", "l_quantity").select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    def disc(p: float, name: str):
        at = F.ceil(F.col("n") * F.lit(p)).cast("bigint")
        return F.min(F.when(F.col("rn") == at, F.col("l_quantity"))).alias(name)
    return r.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        disc(0.25, "p25_disc"),
        disc(0.50, "p50_disc"),
        disc(0.75, "p75_disc"),
        disc(0.95, "p95_disc"),
    )


@register(
    "q98_rich_but_quiet",
    oracle="""
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS s, COUNT(*) AS cnt
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_balance
    FROM customer c, pos
    WHERE CAST(c_acctbal AS DECIMAL(18,6)) * CAST(cnt AS DECIMAL(10,0)) > s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
    doc=(
        "TPC-H Q22 shape (rich-but-quiet customers): above-average "
        "account balance (uncorrelated scalar subquery) with no large "
        "order (anti join with an extra predicate). The average test is "
        "cross-multiplied — acctbal * count > sum in DECIMAL — so the "
        "boundary decision is exact rational arithmetic on both engines "
        "instead of a last-ulp double coin flip. The scalar aggregate "
        "broadcasts (one row); the anti join's orders side is pre-filtered "
        "by the pushed-down price predicate before it shuffles."
    ),
)
def q98_rich_but_quiet(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("s"),
        F.count(F.lit(1)).alias("cnt"),
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .filter(
            F.col("c_acctbal").cast("decimal(18,6)")
            * F.col("cnt").cast("decimal(10,0)")
            > F.col("s")
        )
    )
    big_orders = orders.filter(F.col("o_totalprice") > 400000)
    quiet = rich.join(big_orders, rich.c_custkey == big_orders.o_custkey, "left_anti")
    return quiet.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", "total_balance"),
    )


_Q99_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""


@register(
    "q99_lateral_topk",
    oracle=_Q99_SQL,
    doc=(
        "Correlated LATERAL subquery with ORDER BY + LIMIT (each "
        "customer's two priciest orders) — the per-row derived-table "
        "shape. Catalyst decorrelates the lateral into a window "
        "row_number <= 2 over a single orders shuffle (DomainJoin "
        "rewrite), so the 'run a subquery per row' surface costs one "
        "partitioned window, not N probes — exactly the q10 top-k plan "
        "reached from SQL that reads like a loop. Unique o_orderkey "
        "tiebreak keeps the LIMIT deterministic on both engines."
    ),
)
def q99_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _Q99_SQL)


@register(
    "q100_running_distinct",
    oracle="""
    WITH firsts AS (
      SELECT o_orderpriority, o_orderdate, o_orderkey,
             CASE WHEN row_number() OVER (
                    PARTITION BY o_orderpriority, o_custkey
                    ORDER BY o_orderdate, o_orderkey) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM orders
    ),
    cum AS (
      SELECT o_orderpriority, o_orderdate,
             SUM(is_first) OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS run
      FROM firsts
    )
    SELECT o_orderpriority, o_orderdate,
           CAST(MAX(run) AS BIGINT) AS distinct_customers_so_far
    FROM cum
    GROUP BY o_orderpriority, o_orderdate
    """,
    doc=(
        "Running COUNT(DISTINCT) over an ordered window — a frame SQL "
        "engines refuse directly — via the scalable two-window rewrite: "
        "flag each customer's first order (row_number = 1 over the "
        "(priority, customer) partition), then a running sum of flags "
        "in date order, aggregated to end-of-date values. State per "
        "window is one counter instead of a distinct-set, which is what "
        "makes the pattern viable at 100 TB (a true distinct-set frame "
        "would hold every key in memory per partition). Two hash "
        "shuffles, both on bounded keys."
    ),
)
def q100_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w_first = Window.partitionBy("o_orderpriority", "o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    firsts = orders.select(
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    w_run = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = firsts.select(
        "o_orderpriority",
        "o_orderdate",
        F.sum("is_first").over(w_run).alias("run"),
    )
    return cum.groupBy("o_orderpriority", "o_orderdate").agg(
        F.max("run").alias("distinct_customers_so_far")
    )


_Q101_SQL = """
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < DATE '2001-12-01'
    ),
    rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT CAST(months.m AS STRING) AS m, coalesce(rev.revenue, 0.0) AS revenue,
           coalesce(rev.n_orders, 0) AS n_orders
    FROM months LEFT JOIN rev ON months.m = rev.m
"""


@register(
    "q101_recursive_spine",
    oracle=_Q101_SQL,
    doc=(
        "Monthly calendar spine left-joined to monthly revenue so empty "
        "months surface as explicit zero rows — the gap-filling step "
        "every time-series report needs before window functions make "
        "sense. The spine is ONE sequence()+explode job (84 rows from a "
        "single literal row), not the 84 sequential one-row union steps "
        "a WITH RECURSIVE spine schedules — at sf0.1 that recursion cost "
        "~15 s of pure driver round-trips for constant-size output. The "
        "recursive-CTE surface itself stays covered: the DuckDB oracle "
        "runs exactly that SQL, and tests/test_query_extras.py asserts "
        "Spark 4's WITH RECURSIVE produces the identical spine."
    ),
)
def q101_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("m"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-12-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("m")
    )
    # rev is at most one row per month (bounded ~84 at any data scale),
    # so it broadcasts; months is the preserved side of the left join.
    return (
        months.join(F.broadcast(rev), "m", "left")
        .select(
            # DATE must not reach the driver-facing output: dataframe
            # fetches render dates differently per engine (date object
            # vs midnight datetime64); ISO strings are path-independent.
            F.col("m").cast("string").alias("m"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "q125_scd2_intervals",
    oracle="""
    SELECT user_id, event_id,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                AS BIGINT) AS valid_to_us,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current,
           value
    FROM events
    """,
    doc=(
        "SCD2 interval construction (the warehouse dimension-history "
        "pattern): each per-key change record gets [valid_from, valid_to) "
        "from its own and the NEXT record's event time via lead(), open "
        "intervals flagged is_current — turning an append-only change "
        "log into a point-in-time-joinable dimension. One keyed window "
        "(partition by user, per-partition sort), no self-join — the "
        "naive formulation joins the table to itself on 'next change'. "
        "Emitted as epoch micros on both engines (NTZ-safe)."
    ),
)
def q125_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
        "value",
    )


@register(
    "q127_funnel_steps",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ),
    flags AS (
      SELECT user_id,
             t_view IS NOT NULL AS viewed,
             (t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view)
               AS clicked_after_view,
             (t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view
              AND t_buy IS NOT NULL AND t_buy > t_click)
               AS bought_after_click
      FROM per_user
    )
    SELECT CAST(SUM(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT) AS step1_view,
           CAST(SUM(CASE WHEN clicked_after_view THEN 1 ELSE 0 END) AS BIGINT)
             AS step2_click,
           CAST(SUM(CASE WHEN bought_after_click THEN 1 ELSE 0 END) AS BIGINT)
             AS step3_purchase,
           COUNT(*) AS n_users
    FROM flags
    """,
    doc=(
        "Ordered funnel analysis (view -> click -> purchase): per-user "
        "first-occurrence times of each step as conditional MINs in ONE "
        "keyed aggregate, then strict-order flags and one global count — "
        "two shuffles total, never the self-join-per-step formulation "
        "(k-step funnel as k-way join re-shuffles the event log k "
        "times). Timestamps compare exactly (same parquet micros on "
        "both engines); counts are integers."
    ),
)
def q127_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))
    bought = clicked & F.col("t_buy").isNotNull() & (F.col("t_buy") > F.col("t_click"))
    return per_user.select(
        viewed.alias("viewed"), clicked.alias("clicked"), bought.alias("bought")
    ).agg(
        F.sum(F.when(F.col("viewed"), 1).otherwise(0)).alias("step1_view"),
        F.sum(F.when(F.col("clicked"), 1).otherwise(0)).alias("step2_click"),
        F.sum(F.when(F.col("bought"), 1).otherwise(0)).alias("step3_purchase"),
        F.count(F.lit(1)).alias("n_users"),
    )


@register(
    "q128_retention_cohorts",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(d) AS cohort FROM activity GROUP BY user_id
    )
    SELECT CAST(f.cohort AS VARCHAR) AS cohort,
           CAST(date_diff('day', f.cohort, a.d) AS INT) AS days_since,
           COUNT(*) AS active_users
    FROM activity a JOIN firsts f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc=(
        "Retention cohort matrix: users keyed by first-active day, "
        "counted on each subsequent active day — the standard growth-"
        "analytics triangle (daily grain; the test events span one "
        "month). distinct-ing (user, day) FIRST collapses the event log "
        "to at most users x days rows, so the cohort join and both "
        "aggregates run on the collapsed table, not the raw log; at "
        "100 TB that is the difference between joining billions of "
        "events and joining millions of user-days. Integer/date output."
    ),
)
def q128_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # activity is referenced twice (cohort derivation + the join);
    # cached, the raw event log is scanned once and both consumers read
    # the collapsed user-day table.
    activity = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct().cache()
    firsts = activity.groupBy("user_id").agg(F.min("d").alias("cohort"))
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.col("cohort").cast("string").alias("cohort"),
            F.datediff(F.col("d"), F.col("cohort")).cast("int").alias("days_since"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


# q129's per-user ceiling: a user whose event history would exceed
# this is dropped BEFORE the sequence accumulator ever sees it (the
# q80/cap_baskets discipline — the ordered sequence string is the
# product, so whale users cannot be kept in this form; the streaming
# twin's bounded state is the form that handles endless histories).
# Mirrored in the DuckDB oracle's HAVING and pinned by the sync test
# in tests/test_query_extras.py.  Non-binding on the driver corpora
# (max 99 events/user at sf0.1); the drop path is exercised by a
# synthetic whale user in the unit test.
MAX_USER_EVENTS = 10_000


@register(
    "q129_event_sequences",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
      -- per-user ceiling, mirrors the Spark side's mechanical whale drop
      HAVING COUNT(*) <= {MAX_USER_EVENTS}
    )
    SELECT user_id,
           seq,
           CAST(length(seq) AS INT) AS n_events,
           CAST((length(seq) - length(replace(seq, 'vcp', ''))) / 3 AS INT)
             AS n_view_click_buy
    FROM seqs
    """,
    doc=(
        "CEP-lite sequence analysis (the batch analogue of Flink CEP, "
        "which the reference's framework is known for but its jobs never "
        "use): each user's full event history collapses to an ordered "
        "initial-letter string in ONE keyed aggregate — sort_array over "
        "(ts, event_id, initial) structs, so the order is total and "
        "engine-independent — and pattern counting is literal substring "
        "arithmetic (no regex-dialect drift). Patterns over sequences "
        "become string ops on a per-user row: grep-able, joinable, "
        "O(|user's events|) memory, one shuffle — and that per-user "
        "memory is now MECHANICALLY bounded (r11): a count-only "
        "pre-aggregate drops whale users above MAX_USER_EVENTS by "
        "un-hinted anti-join BEFORE the sequence accumulator, oracle "
        "HAVING-mirrored, so no bot's history can build an unbounded "
        "string in one reducer. The streaming twin is "
        "applyInPandasWithState (streaming/stateful.py)."
    ),
)
def q129_event_sequences(
    spark: SparkSession, sf_dir: str, max_events: int = MAX_USER_EVENTS,
) -> DataFrame:
    """Only the default ``max_events`` (== MAX_USER_EVENTS) is
    oracle-verified — the registered oracle freezes the ceiling as a
    literal HAVING (sync-test-pinned); non-default callers are covered
    by the unit tests only.  The guard join is un-hinted: the whale
    set under a fixed ceiling grows with the user base, so the
    planner/AQE broadcasts only while it actually fits (the q80 r11
    contract), and the downstream groupBy("user_id") exchange absorbs
    the shuffled form's partitioning."""
    ev = load_table(spark, sf_dir, "events")
    whales = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_events)
        .select("user_id")
    )
    ev = ev.join(whales, "user_id", "left_anti")
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("ts"),
                        F.col("event_id"),
                        F.substring("event_type", 1, 1).alias("c"),
                    )
                )
            ),
            lambda s: s["c"],
        ),
        "",
    )
    out = ev.groupBy("user_id").agg(seq.alias("seq"))
    hits = (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit("vcp")))) / 3
    return out.select(
        "user_id",
        "seq",
        F.length("seq").cast("int").alias("n_events"),
        hits.cast("int").alias("n_view_click_buy"),
    )


@register(
    "q131_locf_gapfill",
    oracle="""
    SELECT user_id, event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS raw_value,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
    FROM events
    """,
    doc=(
        "Last-observation-carried-forward gap fill (the time-series "
        "repair every sensor/metrics pipeline needs): readings from "
        "'error' events are nulled out, then each row takes the most "
        "recent non-null value via last_value(... IGNORE NULLS) over a "
        "keyed running frame — one window per user, no self-join, no "
        "as-of lookup against the table itself. Users whose history "
        "starts with errors keep NULL (nothing to carry). The "
        "(ts, event_id) order key is total, so the fill is deterministic "
        "on both engines."
    ),
)
def q131_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    raw = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        raw.alias("raw_value"),
        F.last(raw, ignorenulls=True).over(w).alias("filled_value"),
    )


def _two_phase_rank(
    df: DataFrame, value_col: str, tiebreak: str, *,
    desc: bool = False, rank_name: str = "_rank", n_name: str = "_n",
) -> DataFrame:
    """EXACT global row-number over (value, tiebreak) without a global
    single-partition sort — the 100 TB-safe form of
    ``Window.orderBy(...)`` ranking (r17, VERDICT r16 #5; guide §2.5).

    Two phases: (1) one pass computes approx-quantile bin boundaries
    (plus the total row count); every row gets a bin = the number of
    boundaries strictly below (above, for ``desc``) its value — a pure
    function of the VALUE, so tied values always share a bin and bins
    are contiguous runs of the global order.  (2) per-bin exact
    ``row_number()`` (parallel across bins) plus the broadcast
    cumulative bin-count offset = the exact global position.  Boundary
    quality affects only bin BALANCE, never the result, so
    ``percentile_approx``'s approximation is invisible in the output.

    Bin count adapts to the session (``defaultParallelism``, capped at
    256 — the boundary-array probe is O(bins) per row); each bin is a
    spillable within-partition sort at scale instead of today's
    "Moving all data to a single partition".

    Assumes ``value_col`` is non-null when ``desc=True`` (ASC nulls
    sort first and land in bin 0 naturally; DESC nulls-last would need
    a dedicated null bin — no caller ranks a nullable metric).
    Output: ``df`` + exact bigint ``rank_name`` (1-based) + bigint
    ``n_name`` (total rows), both ready for closed-form ntile math.
    """
    from pyspark.sql import Window

    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext; modest default
        par = 64
    nb = max(2, min(int(par), 256))
    pcts = [i / nb for i in range(1, nb)]
    v = F.col(value_col)
    # accuracy=100 (vs the 10000 default): the sketch costs ~1/5th and
    # its ~1% quantile error moves only bin BALANCE, never the output
    # (measured r17: q132 two-phase 1.62 s -> 1.16 s at sf0.1)
    stats = F.broadcast(
        df.agg(
            F.percentile_approx(value_col, pcts, 100).alias("_bs"),
            F.count(F.lit(1)).alias(n_name),
        )
    )
    if desc:
        in_front = lambda b: b > v  # noqa: E731 — boundaries above come first
    else:
        in_front = lambda b: b < v  # noqa: E731
    pre = (
        df.crossJoin(stats)
        .withColumn("_bin", F.size(F.filter(F.col("_bs"), in_front)))
        .drop("_bs")
    )
    # explicit bin repartition: ENSURE_REQUIREMENTS exchanges under
    # the per-bin window get AQE-coalesced to 1 partition at small
    # inputs, serializing the very sort this helper parallelizes —
    # REPARTITION_BY_COL keeps bin-parallelism at every size
    # (interleaved A/B r17: q132 1.67 -> 1.08 s)
    binned = pre.repartition(F.col("_bin"))
    # bin counts come off the PRE-repartition frame: a grouped count
    # below the explicit exchange partial-aggregates map-side, so the
    # offsets branch shuffles <= nb rows per task instead of riding
    # the full-width REPARTITION_BY_COL exchange (guide §2.3
    # "aggregate before you shuffle").  Tradeoff: the two branches no
    # longer share the exchange, so an uncached base input is scanned
    # twice (a second full orders scan in q198; q196's rfm cache keeps
    # its scan single) — still the measured net win over shipping the
    # input through a second full-width exchange.  Re-unifying the
    # branches brings that exchange back; caching ``pre`` trades the
    # second scan for a cache fill.
    bincnt = pre.groupBy("_bin").agg(F.count(F.lit(1)).alias("_bc"))
    woff = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, -1)
    # the offsets window IS unpartitioned — over the bin-count table,
    # whose size is the bin cap (<= 256 rows), not the input
    offs = bincnt.select(
        "_bin", F.coalesce(F.sum("_bc").over(woff), F.lit(0)).alias("_off")
    )
    order = [F.desc(value_col) if desc else F.col(value_col), F.col(tiebreak)]
    wbin = Window.partitionBy("_bin").orderBy(*order)
    return (
        binned.join(F.broadcast(offs), "_bin")
        .withColumn(
            rank_name,
            (F.col("_off") + F.row_number().over(wbin)).cast("bigint"),
        )
        .drop("_bin", "_off")
    )


def _ntile_from_rank(rank_col: str, n_col: str, k: int):
    """Closed-form SQL-standard ntile(k) from an exact 1-based global
    rank and the total row count: the first ``n % k`` buckets take
    ``n div k + 1`` rows, the rest ``n div k`` — bit-identical to
    Spark's and DuckDB's NTILE over the same total order.  The ELSE
    branch divides by ``n div k``, which is 0 only when n < k — and
    then ``rank <= (n % k) * (n div k + 1)`` = ``rank <= n`` is true
    for every row, so CASE's lazy per-row evaluation never reaches the
    division (ANSI-safe)."""
    r, n = rank_col, n_col
    return F.expr(
        f"CAST(CASE WHEN {r} <= ({n} % {k}) * (({n} div {k}) + 1) "
        f"THEN ({r} - 1) div (({n} div {k}) + 1) + 1 "
        f"ELSE ({n} % {k}) + ({r} - ({n} % {k}) * (({n} div {k}) + 1) - 1) "
        f"div ({n} div {k}) + 1 END AS INT)"
    )


@register(
    "q132_ntile_deciles",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT CAST(decile AS INT) AS decile,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS decile_revenue
    FROM ranked
    GROUP BY decile
    """,
    doc=(
        "Equal-frequency bucketing into deciles — the quantile-bucket "
        "complement to q22's equal-width histogram. The (o_totalprice, "
        "o_orderkey) order key is total, so bucket boundaries are "
        "deterministic on both engines even across tied prices. r17: "
        "the oracle's global ntile(10) window is computed as the exact "
        "two-phase rank (approx-quantile bins -> parallel per-bin "
        "row_number + broadcast offsets, _two_phase_rank) fed through "
        "the closed-form ntile bucket formula — identical output with "
        "no single-partition sort of the orders-grain input at any "
        "scale (the r16 verdict's global-window burn-down)."
    ),
)
def q132_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ranked = _two_phase_rank(
        o.select("o_totalprice", "o_orderkey"), "o_totalprice", "o_orderkey"
    ).select(
        "o_totalprice", _ntile_from_rank("_rank", "_n", 10).alias("decile")
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("decile_revenue"),
    )


@register(
    "q133_grouping_id_labels",
    oracle="""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 AND GROUPING(l_linestatus) = 1
                THEN 'grand_total'
                WHEN GROUPING(l_linestatus) = 1 THEN 'per_flag'
                ELSE 'leaf' END AS level,
           CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END
             AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END
             AS linestatus,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc=(
        "grouping()/grouping_id labeling of ROLLUP output — the part of "
        "the grouping-sets family q13-q15 leave implicit: subtotal rows "
        "are distinguished from genuine NULL group keys by the grouping "
        "bitmask, not by the (ambiguous) NULL itself, and re-labeled "
        "'ALL'/'per_flag'/'grand_total'. Same single Expand + aggregate "
        "plan as q13."
    ),
)
def q133_grouping_id_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # grouping() is only legal inside the rollup aggregate — materialize
    # the bitmask columns there, label in a follow-up projection.
    agg = li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").alias("_g_flag"),
        F.grouping("l_linestatus").alias("_g_stat"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(30,6)"))
        .cast("double")
        .alias("total_qty"),
    )
    g_flag, g_stat = F.col("_g_flag"), F.col("_g_stat")
    level = (
        F.when((g_flag == 1) & (g_stat == 1), "grand_total")
        .when(g_stat == 1, "per_flag")
        .otherwise("leaf")
    )
    return agg.select(
        level.alias("level"),
        F.when(g_flag == 1, "ALL").otherwise(F.col("l_returnflag")).alias("returnflag"),
        F.when(g_stat == 1, "ALL").otherwise(F.col("l_linestatus")).alias("linestatus"),
        "n_lines",
        "total_qty",
    )


@register(
    "q149_sax_motifs",
    oracle="""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
      FROM events),
    w AS (
      SELECT user_id,
             list(vi) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS a
      FROM q),
    f AS (SELECT user_id, a FROM w WHERE len(a) = 8),
    s AS (
      SELECT user_id,
             a[1] + a[2] AS s1, a[3] + a[4] AS s2,
             a[5] + a[6] AS s3, a[7] + a[8] AS s4
      FROM f),
    sym AS (
      SELECT user_id,
             (CASE WHEN s1 < 3000 THEN 'a' WHEN s1 < 7000 THEN 'b'
                   WHEN s1 < 14000 THEN 'c' ELSE 'd' END) ||
             (CASE WHEN s2 < 3000 THEN 'a' WHEN s2 < 7000 THEN 'b'
                   WHEN s2 < 14000 THEN 'c' ELSE 'd' END) ||
             (CASE WHEN s3 < 3000 THEN 'a' WHEN s3 < 7000 THEN 'b'
                   WHEN s3 < 14000 THEN 'c' ELSE 'd' END) ||
             (CASE WHEN s4 < 3000 THEN 'a' WHEN s4 < 7000 THEN 'b'
                   WHEN s4 < 14000 THEN 'c' ELSE 'd' END) AS word
      FROM s)
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM sym GROUP BY word HAVING COUNT(*) >= 5
    """,
    doc=(
        "SAX time-series motif discovery (operators/timeseries.py): "
        "per-user sliding windows of 8 events (one keyed sort, frame-"
        "ordered collect_list), PAA into 4 integer segment SUMS (no "
        "mean division), fixed-breakpoint symbolization into 4-letter "
        "words, then motifs = words recurring >= 5 times - the SAX "
        "trick that turns quadratic subsequence similarity into ONE "
        "partial-aggregated word shuffle. Values integer-quantized "
        "(floor(x*100+0.5), IEEE-identical cross-engine) so the whole "
        "pipeline is bit-replayable in SQL."
    ),
)
def q149_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    return TS.sax_motifs(TS.sax_words(ev), min_count=5)


@register(
    "q150_sax_similarity_probe",
    oracle="""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
      FROM events),
    w AS (
      SELECT user_id, event_id AS pos,
             list(vi) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS a
      FROM q),
    f AS (SELECT user_id, pos, a FROM w WHERE len(a) = 8),
    s0 AS (
      SELECT user_id, pos,
             a[1] + a[2] AS s1, a[3] + a[4] AS s2,
             a[5] + a[6] AS s3, a[7] + a[8] AS s4
      FROM f),
    s AS (
      SELECT user_id, pos, s1, s2, s3, s4,
             (CASE WHEN s1 < 3000 THEN 'a' WHEN s1 < 7000 THEN 'b'
                   WHEN s1 < 14000 THEN 'c' ELSE 'd' END) ||
             (CASE WHEN s2 < 3000 THEN 'a' WHEN s2 < 7000 THEN 'b'
                   WHEN s2 < 14000 THEN 'c' ELSE 'd' END) ||
             (CASE WHEN s3 < 3000 THEN 'a' WHEN s3 < 7000 THEN 'b'
                   WHEN s3 < 14000 THEN 'c' ELSE 'd' END) ||
             (CASE WHEN s4 < 3000 THEN 'a' WHEN s4 < 7000 THEN 'b'
                   WHEN s4 < 14000 THEN 'c' ELSE 'd' END) AS word
      FROM s0),
    qr AS (SELECT * FROM s WHERE user_id = 1 ORDER BY pos LIMIT 1),
    c AS (
      SELECT s.user_id, s.pos,
             (s.s1 - qr.s1) * (s.s1 - qr.s1) + (s.s2 - qr.s2) * (s.s2 - qr.s2)
           + (s.s3 - qr.s3) * (s.s3 - qr.s3) + (s.s4 - qr.s4) * (s.s4 - qr.s4)
               AS dist2
      FROM s JOIN qr ON s.word = qr.word
      WHERE s.user_id <> qr.user_id OR s.pos <> qr.pos)
    SELECT user_id, pos, CAST(dist2 AS BIGINT) AS dist2, rn FROM (
      SELECT user_id, pos, dist2,
             ROW_NUMBER() OVER (ORDER BY dist2, user_id, pos) AS rn
      FROM c) t
    WHERE rn <= 10
    """,
    doc=(
        "Similarity search THROUGH the SAX index (operators/"
        "timeseries.py): the query window (user 1's earliest) probes "
        "only windows sharing its 4-letter word - the index prune "
        "that replaces a full subsequence scan - then an exact "
        "integer PAA distance ranks candidates, top-10 under a total "
        "order via sort+limit (TakeOrderedAndProject, never a global "
        "window). The 1-row query broadcasts; at 100 TB the word is "
        "the partition key so the probe is partition-pruned, the same "
        "candidates-then-verify shape as the LSH/IVF/PQ ANN family."
    ),
)
def q150_sax_similarity_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    wins = TS.sax_windows(ev).cache()
    qrow = wins.filter(F.col("user_id") == 1).orderBy("pos").limit(1)
    return TS.sax_similarity_probe(wins, qrow, k=10)


@register(
    "q152_mad_outliers",
    oracle="""
    WITH q AS (
      SELECT user_id, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
      FROM events),
    r1 AS (
      SELECT user_id, event_id, vi,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY vi, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM q),
    med AS (SELECT user_id, vi AS med FROM r1 WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT q.user_id, q.event_id, q.vi, m.med, abs(q.vi - m.med) AS d
      FROM q JOIN med m ON m.user_id = q.user_id),
    r2 AS (
      SELECT user_id, event_id, vi, med, d,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM dev),
    mad AS (SELECT user_id, d AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT d.user_id, MAX(d.med) AS med, MAX(a.mad) AS mad,
           CAST(SUM(CASE WHEN abs(d.vi - d.med) > 3 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           COUNT(*) AS n_events
    FROM dev d JOIN mad a ON a.user_id = d.user_id
    GROUP BY d.user_id
    """,
    doc=(
        "Robust per-user outlier detection via median absolute "
        "deviation: lower-median selected by explicit rank (integer-"
        "exact, engine-independent - never percentile functions whose "
        "even-count interpolation differs across engines), MAD as the "
        "lower-median of absolute deviations, outliers = |x - med| > "
        "3*MAD. Two keyed window sorts + two keyed joins, all on the "
        "user_id partitioning; values integer-quantized. The robust "
        "complement to the z-score (q63) and winsorize (q81) "
        "normalizers - MAD tolerates 50% contamination where "
        "mean/stddev break down."
    ),
)
def q152_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("vi"),
    )
    wv = Window.partitionBy("user_id").orderBy("vi", "event_id")
    wn = Window.partitionBy("user_id")
    r1 = q.select(
        "user_id", "event_id", "vi",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r1.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "user_id", F.col("vi").alias("med")
    )
    dev = q.join(med, "user_id").withColumn("d", F.abs(F.col("vi") - F.col("med")))
    wd = Window.partitionBy("user_id").orderBy("d", "event_id")
    r2 = dev.select(
        "user_id", "d",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = r2.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "user_id", F.col("d").alias("mad")
    )
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.abs(F.col("vi") - F.col("med")) > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "q153_bitmap_distinct_rollup",
    oracle="""
    SELECT l_returnflag AS grp, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS grp, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct
    FROM lineitem
    """,
    doc=(
        "EXACT mergeable distinct-count index via roaring-style "
        "bitmaps (bitmap_construct_agg / bitmap_or_agg / bitmap_"
        "count): int keys are segmented ((k-1) div 32768) and each "
        "(group, segment) holds a fixed-size bitmap - the per-"
        "partition index you persist at 100 TB; group counts sum "
        "bitmap_count over segments and the GLOBAL count just ORs "
        "bitmaps across groups before counting, never rescanning "
        "rows. Unlike HLL (q151) the result is exact, so the oracle "
        "hash-checks values, not bounds - the bitmap tier of the "
        "cardinality-index family (exact while keys are dense ints; "
        "HLL takes over for string/sparse keys)."
    ),
)
def q153_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # keys shift to 1-based: bitmap_bit_position is (k-1) mod 32768 and
    # silently drops non-positive keys (l_partkey starts at 0 here).
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        F.expr("l_partkey div 32768").alias("seg"),
        F.bitmap_bit_position(F.col("l_partkey") + 1).alias("p"),
    )
    bm = base.groupBy("grp", "seg").agg(F.bitmap_construct_agg("p").alias("bm"))
    bm = bm.cache()  # feeds the per-group rows and the global OR-merge
    per = (
        bm.select("grp", "seg", F.bitmap_count("bm").alias("c"))
        .groupBy("grp")
        .agg(F.sum("c").alias("n_distinct"))
    )
    glob = (
        bm.groupBy("seg")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("c"))
        .agg(F.sum("c").alias("n_distinct"))
        .select(F.lit("ALL").alias("grp"), "n_distinct")
    )
    return per.unionByName(glob)


@register(
    "q156_incremental_view_maintenance",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS min_ts_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY event_type
    """,
    doc=(
        "Incremental materialized-view maintenance: the per-type "
        "aggregate view is NOT recomputed from scratch - a base "
        "aggregate (event_id % 5 <> 0, standing in for the persisted "
        "view) and a delta-batch aggregate merge algebraically "
        "(counts add, decimal sums add, min/max take least/greatest, "
        "full-outer join + coalesce for groups new to either side). "
        "The oracle IS the from-scratch aggregate, so the driver "
        "hash-gates the mergeability of every column - the exactness "
        "rule (decimal-routed sums) is what makes merged == recomputed "
        "bit-for-bit. At 100 TB this is the nightly-view pattern: "
        "the delta is batch-sized, the base is never re-scanned."
    ),
)
def q156_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def part_agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("s"),
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
        )

    base = part_agg(ev.filter(F.col("event_id") % 5 != 0))
    delta = part_agg(ev.filter(F.col("event_id") % 5 == 0))
    b = base.select("event_type", *[F.col(c).alias(f"b_{c}") for c in ("n", "s", "mn", "mx")])
    d = delta.select("event_type", *[F.col(c).alias(f"d_{c}") for c in ("n", "s", "mn", "mx")])
    merged = b.join(d, "event_type", "full_outer")
    zero = F.lit(0).cast("decimal(30,6)")
    return merged.select(
        "event_type",
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n"),
        (F.coalesce("b_s", zero) + F.coalesce("d_s", zero))
        .cast("decimal(30,6)").cast("double").alias("sum_value"),
        F.unix_micros(F.least("b_mn", "d_mn")).alias("min_ts_us"),
        F.unix_micros(F.greatest("b_mx", "d_mx")).alias("max_ts_us"),
    )


@register(
    "q157_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT event_id, event_type, value FROM events WHERE event_id % 7 <> 0),
    v2 AS (
      SELECT event_id, event_type,
             value + (CASE WHEN event_id % 10 = 0 THEN 1.0 ELSE 0.0 END) AS value
      FROM events WHERE event_id % 3 <> 0),
    l AS (SELECT event_id,
                 md5(concat_ws(chr(1),
                     COALESCE(CAST(event_type AS VARCHAR), chr(0) || 'null'),
                     COALESCE(CAST(value AS VARCHAR), chr(0) || 'null'))) AS ld
          FROM v1),
    r AS (SELECT event_id,
                 md5(concat_ws(chr(1),
                     COALESCE(CAST(event_type AS VARCHAR), chr(0) || 'null'),
                     COALESCE(CAST(value AS VARCHAR), chr(0) || 'null'))) AS rd
          FROM v2)
    SELECT COALESCE(l.event_id, r.event_id) AS event_id,
           CASE WHEN l.ld IS NULL THEN 'added'
                WHEN r.rd IS NULL THEN 'removed'
                WHEN l.ld <> r.rd THEN 'changed' END AS status
    FROM l FULL OUTER JOIN r ON r.event_id = l.event_id
    WHERE (CASE WHEN l.ld IS NULL THEN 'added'
                WHEN r.rd IS NULL THEN 'removed'
                WHEN l.ld <> r.rd THEN 'changed' END) IS NOT NULL
    """,
    doc=(
        "Snapshot reconciliation (operators/relational.py "
        "diff_tables): two versions of the event log (id%7 vs id%3 "
        "retention, with a planted value mutation on id%10) diff to "
        "delta-sized (key, added|removed|changed) rows via ONE "
        "full-outer join of (key, content-digest) projections - the "
        "rows themselves never shuffle. Digest strings match cross-"
        "engine because both sides cast through the same string forms "
        "(double CAST VARCHAR repr verified identical; the driver "
        "hash-gate would catch any divergence). The data-platform "
        "audit op behind CDC validation and backfill verification."
    ),
)
def q157_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.relational import diff_tables

    ev = load_table(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 7 != 0).select("event_id", "event_type", "value")
    v2 = ev.filter(F.col("event_id") % 3 != 0).select(
        "event_id",
        "event_type",
        (
            F.col("value")
            + F.when(F.col("event_id") % 10 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("value"),
    )
    return diff_tables(v1, v2, ["event_id"], ["event_type", "value"])


@register(
    "q160_open_order_concurrency",
    oracle="""
    WITH iv AS (
      SELECT CAST(o.o_orderdate AS DATE) AS start_d,
             CAST(MAX(l.l_shipdate) AS DATE) AS end_d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    deltas AS (
      SELECT start_d AS day, CAST(1 AS BIGINT) AS delta FROM iv
      UNION ALL
      SELECT CAST(end_d + INTERVAL 1 DAY AS DATE), CAST(-1 AS BIGINT) FROM iv),
    daily AS (
      SELECT day, SUM(delta) AS delta FROM deltas GROUP BY day),
    conc AS (
      SELECT day,
             CAST(SUM(delta) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_orders
      FROM daily)
    SELECT CAST(day AS VARCHAR) AS day, open_orders FROM conc
    ORDER BY open_orders DESC, day LIMIT 10
    """,
    doc=(
        "Sweep-line interval concurrency: each order is open from "
        "o_orderdate until its last line ships; find the 10 days with "
        "the most simultaneously-open orders. The classic two-level "
        "sweep: intervals become +1/-1 boundary deltas, deltas are "
        "pre-aggregated BY DAY (the only full-data shuffle, and a "
        "partial-agg one), and only then does a running-sum window run "
        "over the distinct-day table - thousands of rows regardless of "
        "input scale, so the unpartitioned ORDER BY day window is NOT "
        "a scale hazard (same bounded-domain argument as q101's "
        "calendar spine). Top-10 via TakeOrderedAndProject."
    ),
)
def q160_open_order_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("end_ts"))
        .select(
            F.col("o_orderdate").cast("date").alias("start_d"),
            F.col("end_ts").cast("date").alias("end_d"),
        )
    )
    # both boundary projections read iv — cache so the orders⋈lineitem
    # interval build runs once, not once per union branch
    iv = iv.cache()
    deltas = iv.select(
        F.col("start_d").alias("day"), F.lit(1).cast("bigint").alias("delta")
    ).unionByName(
        iv.select(F.date_add("end_d", 1).alias("day"), F.lit(-1).cast("bigint").alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    conc = daily.select("day", F.sum("delta").over(w).cast("bigint").alias("open_orders"))
    return (
        conc.orderBy(F.desc("open_orders"), "day")
        .limit(10)
        # dates are pandas-lossy on the comparator fetch path; ship ISO strings
        .select(F.col("day").cast("string").alias("day"), "open_orders")
    )


@register(
    "q161_pareto_skyline",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size
    FROM part q
    WHERE NOT EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_retailprice <= q.p_retailprice AND p.p_size >= q.p_size
        AND (p.p_retailprice < q.p_retailprice OR p.p_size > q.p_size))
    """,
    doc=(
        "Pareto skyline (minimize price, maximize size): parts no "
        "other part dominates. The oracle states the quadratic "
        "NOT-EXISTS dominance spec; the Spark plan is the O(n log n) "
        "sort-based rewrite - collapse to one row per distinct price "
        "(max size), take the running max of size over strictly "
        "cheaper prices with a 1-PRECEDING row frame on that "
        "distinct-price table (bounded domain, so the global-order "
        "window is safe at scale - same argument as q160), and a part "
        "survives iff no strictly-cheaper price reaches its size and "
        "no same-price part strictly exceeds it. Dominance checks are "
        "exact double/int comparisons - no epsilon, bit-identical "
        "cross-engine."
    ),
)
def q161_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    g = part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    g2 = g.select(
        "p_retailprice", "gmax", F.max("gmax").over(w).alias("cheaper_max")
    )
    return (
        part.join(g2, "p_retailprice")
        .filter(
            (F.col("cheaper_max").isNull() | (F.col("cheaper_max") < F.col("p_size")))
            & (F.col("gmax") <= F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


@register(
    "q165_touch_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('click', 'view')),
    j AS (
      SELECT p.event_id AS pid, t.event_type AS t_type, t.ts AS t_ts,
             t.event_id AS t_id
      FROM p LEFT JOIN t ON t.user_id = p.user_id
        AND t.ts <= p.ts AND t.ts > p.ts - INTERVAL 7 DAY),
    ranked AS (
      SELECT pid, t_type,
             row_number() OVER (PARTITION BY pid
                                ORDER BY t_ts DESC NULLS LAST, t_id DESC NULLS LAST) AS rl,
             row_number() OVER (PARTITION BY pid
                                ORDER BY t_ts ASC NULLS LAST, t_id ASC NULLS LAST) AS rf
      FROM j),
    per AS (
      SELECT pid,
             COALESCE(MAX(CASE WHEN rl = 1 THEN t_type END), 'none') AS last_type,
             COALESCE(MAX(CASE WHEN rf = 1 THEN t_type END), 'none') AS first_type
      FROM ranked GROUP BY pid)
    SELECT 'last_touch' AS model, last_type AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM per GROUP BY 2
    UNION ALL
    SELECT 'first_touch', first_type, CAST(COUNT(*) AS BIGINT)
    FROM per GROUP BY 2
    """,
    doc=(
        "Marketing attribution: every purchase credits the click/view "
        "touch that last (and first) preceded it within a 7-day "
        "window, 'none' when the window is empty. The per-user range "
        "join is watermark-bounded (7 days) - the as-of pattern of "
        "q25, partition-prunable by day at 100 TB - and the arg_max/"
        "arg_min tie order (ts, event_id) is total, so both engines "
        "pick identical touches. Purchase-level credit collapses in "
        "one keyed aggregate; model rollups run on the tiny credited "
        "table."
    ),
)
def q165_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("u"), F.col("ts").alias("p_ts")
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("u"), F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"), F.col("event_type").alias("t_type"),
    )
    j = p.join(
        t,
        (p.u == t.u)
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
        "left",
    )
    ord_ = F.struct(F.col("t_ts"), F.col("t_id"))
    per = j.groupBy("pid").agg(
        F.coalesce(F.max_by("t_type", ord_), F.lit("none")).alias("last_type"),
        F.coalesce(F.min_by("t_type", ord_), F.lit("none")).alias("first_type"),
    )
    per = per.cache()  # tiny credited table feeds both model rollups
    last = per.groupBy(F.col("last_type").alias("touch_type")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("last_touch").alias("model"), "touch_type", "n")
    first = per.groupBy(F.col("first_type").alias("touch_type")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("first_touch").alias("model"), "touch_type", "n")
    return last.unionByName(first)


@register(
    "q166_ab_test_ztest",
    oracle="""
    WITH x AS (
      SELECT user_id % 2 AS variant, CAST(value AS DECIMAL(20,6)) AS v
      FROM events WHERE event_type = 'purchase'),
    m AS (
      SELECT COUNT(*) FILTER (variant = 0) AS n_a,
             COUNT(*) FILTER (variant = 1) AS n_b,
             SUM(v) FILTER (variant = 0) AS sa,
             SUM(v) FILTER (variant = 1) AS sb,
             SUM(v * v) FILTER (variant = 0) AS saa,
             SUM(v * v) FILTER (variant = 1) AS sbb
      FROM x)
    -- arm means in EXACT integer arithmetic (r16, the q88/q183
    -- class): values can be negative, so HALF_UP (away from zero) at
    -- the 1e-9 grid == sign(K) * ((2*|K| + n) // (2*n)) with
    -- K = sum * 1e9 an exact BIGINT.  z keeps the double form: its
    -- sqrt denominator is irrational, so it cannot land on a grid
    -- half boundary.
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(CAST(sign(CAST(sa * 1000000000 AS BIGINT)) AS BIGINT)
                * ((2 * abs(CAST(sa * 1000000000 AS BIGINT)) + n_a)
                   // (2 * n_a)) AS DOUBLE) / 1e9 AS mean_a,
           CAST(CAST(sign(CAST(sb * 1000000000 AS BIGINT)) AS BIGINT)
                * ((2 * abs(CAST(sb * 1000000000 AS BIGINT)) + n_b)
                   // (2 * n_b)) AS DOUBLE) / 1e9 AS mean_b,
           round((CAST(sb AS DOUBLE) / n_b - CAST(sa AS DOUBLE) / n_a)
             / sqrt(((n_a * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                       / (CAST(n_a AS DOUBLE) * (n_a - 1))) / n_a
                  + ((n_b * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                       / (CAST(n_b AS DOUBLE) * (n_b - 1))) / n_b), 9) AS z,
           abs((CAST(sb AS DOUBLE) / n_b - CAST(sa AS DOUBLE) / n_a)
             / sqrt(((n_a * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                       / (CAST(n_a AS DOUBLE) * (n_a - 1))) / n_a
                  + ((n_b * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                       / (CAST(n_b AS DOUBLE) * (n_b - 1))) / n_b)) > 1.96 AS significant
    FROM m
    """,
    doc=(
        "Two-sample A/B significance (Welch z over purchase values, "
        "variants split on user_id parity): the q88 decimal-exact "
        "moment pattern - one flat conditional aggregate (map-side "
        "combined, no shuffle beyond the 2-moment partial rows) "
        "carries n/sum/sum-of-squares per arm, then mean, pooled "
        "standard error, z and the |z|>1.96 verdict finish in double "
        "on the single result row, rounded to 9 dp where the final "
        "decimal->double cast is engine-rounded. Mergeable moments "
        "are how you run experiment readouts over 100 TB of raw "
        "exposure logs without a per-arm pass."
    ),
)
def q166_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(20,6)")
    is_a = (F.col("user_id") % 2 == 0)
    m = ev.filter(F.col("event_type") == "purchase").agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(~is_a, 1)).alias("n_b"),
        F.sum(F.when(is_a, v)).alias("sa"),
        F.sum(F.when(~is_a, v)).alias("sb"),
        F.sum(F.when(is_a, v * v)).alias("saa"),
        F.sum(F.when(~is_a, v * v)).alias("sbb"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    mean_a, mean_b = sa / n_a, sb / n_b
    var_a = (n_a * saa - sa * sa) / (n_a.cast("double") * (n_a - 1))
    var_b = (n_b * sbb - sb * sb) / (n_b.cast("double") * (n_b - 1))
    z = (mean_b - mean_a) / F.sqrt(var_a / n_a + var_b / n_b)
    # HALF_UP (away from zero) at 9 dp in exact integers — see the
    # oracle note; values can be negative, hence the sign/abs form.
    m = (m.withColumn("_ka", (F.col("sa") * 1000000000).cast("bigint"))
          .withColumn("_kb", (F.col("sb") * 1000000000).cast("bigint")))
    exact = ("cast(sign(_k{s}) as bigint) * "
             "((2 * abs(_k{s}) + n_{s}) div (2 * n_{s}))")
    return m.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        (F.expr(exact.format(s="a")).cast("double") / F.lit(1e9))
        .alias("mean_a"),
        (F.expr(exact.format(s="b")).cast("double") / F.lit(1e9))
        .alias("mean_b"),
        F.round(z, 9).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


@register(
    "q168_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, ts, event_id, value
      FROM events),
    rk AS (
      SELECT event_type, day, value,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM e)
    SELECT event_type, day,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM rk GROUP BY event_type, day
    """,
    doc=(
        "OHLC candlestick bars per (event_type, day): open/close are "
        "the first/last values in (ts, event_id) order - a total "
        "order, so both engines pick identical rows - and high/low "
        "are plain min/max (exact double comparisons, no arithmetic). "
        "One window + one aggregate, both partitioned by the bar key, "
        "so bars parallelize per key and per day at any scale - the "
        "standard resample-to-bars primitive for time-series "
        "feature pipelines."
    ),
)
def q168_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        "ts", "event_id", "value",
    )
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy("event_type", "day").agg(
        F.min_by("value", ord_).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q169_twap",
    oracle=f"""
    WITH e AS (
      SELECT event_type, value, epoch_us(ts) AS ts_us,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY epoch_us(ts), event_id) AS nxt_us
      FROM events),
    w AS (
      SELECT event_type,
             CAST(value AS DECIMAL(20,6)) * (nxt_us - ts_us) AS vw,
             nxt_us - ts_us AS dur
      FROM e WHERE nxt_us IS NOT NULL)
    SELECT event_type,
           {_R9('CAST(SUM(vw) * 1000000 AS HUGEINT)',
                'CAST(SUM(dur) AS HUGEINT) * 1000000')} AS twap,
           CAST(SUM(dur) AS BIGINT) AS total_us
    FROM w GROUP BY event_type
    """,
    doc=(
        "Time-weighted average value per event_type: each observation "
        "holds until the next one (lead over a per-key window), "
        "weighted by its holding duration in integer microseconds. "
        "Weighted sums route through DECIMAL(20,6) x BIGINT - exact, "
        "order-independent, mergeable - and only the final "
        "sum/sum division happens in double (rounded 9 dp), the q88 "
        "moment discipline applied to irregular time series. Window "
        "and aggregate both partition by event_type; no global sort."
    ),
)
def q169_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.unix_micros("ts"), F.col("event_id"))
    e = ev.select(
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("nxt_us"),
    ).filter(F.col("nxt_us").isNotNull())
    dur = F.col("nxt_us") - F.col("ts_us")
    return (
        e.select(
            "event_type",
            (F.col("value").cast("decimal(20,6)") * dur).alias("vw"),
            dur.alias("dur"),
        )
        .groupBy("event_type")
        .agg(F.sum("vw").alias("svw"), F.sum("dur").alias("sdur"))
        .select(
            "event_type",
            # twap = svw/sdur with svw an exact DECIMAL(·,6): scale
            # both sides by 1e6 to integers and round HALF_UP exactly
            # (r16 — the probed round(double, 9) divergence class).
            round9_exact("CAST(svw * 1000000 AS DECIMAL(38,0))",
                         "CAST(sdur AS DECIMAL(38,0)) * 1000000")
            .alias("twap"),
            F.col("sdur").cast("bigint").alias("total_us"),
        )
    )


@register(
    "q170_daily_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    r AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS anchor
      FROM d),
    s AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS streak
      FROM r GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(SUM(streak) AS BIGINT) AS n_active_days,
           CAST(MAX(streak) AS BIGINT) AS max_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM s GROUP BY user_id
    """,
    doc=(
        "Longest consecutive-day activity streak per user - the "
        "gaps-and-islands date variant (q143 sessionizes by "
        "inactivity gap; this islands by calendar day): day minus "
        "row_number is constant within a run of consecutive days, so "
        "streaks fall out of two per-user aggregates after a per-user "
        "rank window. Everything partitions by user_id - one shuffle "
        "for the distinct collapse, windows and aggregates reuse the "
        "same hash partitioning; all date/int arithmetic, "
        "bit-identical cross-engine."
    ),
)
def q170_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id", "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    s = r.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("streak"))
    return s.groupBy("user_id").agg(
        F.sum("streak").cast("bigint").alias("n_active_days"),
        F.max("streak").cast("bigint").alias("max_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


@register(
    "q171_benford_audit",
    # Benford expectations are inlined as shared 12-dp literals (NOT
    # engine log10 calls — libm log is not guaranteed identically
    # rounded across JVMs/C libraries).  Since r16 the literals are
    # carried as INTEGER picomils (p * 1e12), so n_expected and
    # frac_obs are exact rationals rounded HALF_UP in integer
    # arithmetic — the probed round(double, 9) divergence class
    # cannot reach them.
    oracle=f"""
    WITH digits(digit, pm) AS (VALUES
      (1, 301029995664), (2, 176091259056), (3, 124938736608),
      (4, 96910013008), (5, 79181246048), (6, 66946789631),
      (7, 57991946978), (8, 51152522447), (9, 45757490561)),
    o AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM o GROUP BY digit),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM o)
    SELECT d.digit, COALESCE(c.n_obs, 0) AS n_obs,
           {_R9('CAST(d.pm AS HUGEINT) * n.n_total', '1000000000000')}
             AS n_expected,
           {_R9('COALESCE(c.n_obs, 0)', 'n.n_total')} AS frac_obs
    FROM digits d LEFT JOIN c ON c.digit = d.digit, n
    """,
    doc=(
        "Benford's-law audit of order totals (the classic "
        "fraud/synthetic-data screen): leading-digit counts vs the "
        "log-distribution expectation. Expected probabilities are "
        "shared 12-dp literals rather than engine log10 calls - libm "
        "transcendentals are the one double op NOT guaranteed "
        "bit-identical across engines, the same reason the lattice "
        "distances in q167 stay integer. One conditional-count "
        "aggregate over a column-pruned scan (map-side combined), "
        "9-row broadcast of expectations; no cross-row double sums - "
        "per-digit rows only, so every emitted double is a single "
        "rounded op."
    ),
)
def q171_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer picomils (p * 1e12) — see the oracle note
    _BENFORD = {
        1: 301029995664, 2: 176091259056, 3: 124938736608,
        4: 96910013008, 5: 79181246048, 6: 66946789631,
        7: 57991946978, 8: 51152522447, 9: 45757490561,
    }
    spark_ = spark
    digits = spark_.createDataFrame(
        [(d, pm) for d, pm in _BENFORD.items()], "digit int, pm long"
    )
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    c = o.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    n = F.broadcast(o.agg(F.count(F.lit(1)).alias("n_total")))
    return (
        # digits is the PRESERVED side of the left join, so the 9-row
        # aggregated count table is the broadcastable build side
        digits
        .join(F.broadcast(c), "digit", "left")
        .na.fill({"n_obs": 0})
        .crossJoin(n)
        .select(
            "digit",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            round9_exact("CAST(pm AS DECIMAL(38,0)) * n_total",
                         "1000000000000").alias("n_expected"),
            round9_exact("n_obs", "n_total").alias("frac_obs"),
        )
    )


@register(
    "q172_dq_constraint_suite",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_checked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1) t)
             AS n_violations
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'discount_in_unit_range',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 1)
    UNION ALL
    SELECT 'quantity_positive',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_quantity <= 0)
    UNION ALL
    SELECT 'custkey_complete',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
    """,
    doc=(
        "Declarative data-quality constraint suite (the Deequ/"
        "dbt-test shape): primary-key uniqueness, two referential-"
        "integrity checks (orphan lineitems / orphan orders), range "
        "and completeness checks, emitted as one (check, n_checked, "
        "n_violations) report. SINGLE-PASS (r11, plan-budget audit: "
        "the per-check formulation scanned orders 7x and lineitem "
        "6x): each fact table collapses to key grain ONCE - orders "
        "by PK carrying the dup count, lineitem by FK carrying the "
        "range-violation counts as conditional sums, orders by "
        "custkey for the second FK - then every check is a null-"
        "pattern sum over two key-grain joins (full-outer PK/FK "
        "merge, left join onto the customer PK side). 13 scans -> 4, "
        "and the key-grain joins land on the groupBy's own hash "
        "partitioning; at 100 TB adding a constraint costs one more "
        "conditional sum, not another corpus pass."
    ),
)
def q172_dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    # One pass per fact table, collapsed to key grain with every
    # row-level predicate folded in as a conditional partial-agg sum.
    okey = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("oc"))
    likey = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("ln"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("bd"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bq"),
    )
    # Full-outer merge at key grain: orders-only rows have ln NULL,
    # lineitem-only rows (orphans) have o_orderkey NULL; sum() skips
    # nulls, so every orderkey-side check is one aggregate over this.
    merged = okey.join(
        likey, F.col("o_orderkey") == F.col("l_orderkey"), "full"
    )
    stats1 = merged.agg(
        F.sum("oc").alias("n_orders"),
        F.sum((F.col("oc") > 1).cast("long")).alias("pk_viol"),
        F.sum("ln").alias("n_li"),
        F.sum(F.when(F.col("o_orderkey").isNull(), F.col("ln"))).alias(
            "orphan_li"
        ),
        F.sum("bd").alias("bad_disc"),
        F.sum("bq").alias("bad_qty"),
    )
    # Custkey-grain side: NULL custkeys form their own group, fail the
    # customer match (matching the oracle's NOT EXISTS, where = NULL
    # is never true), and feed both the completeness and FK checks.
    cgrp = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("on2"))
    j2 = cgrp.join(cust.select("c_custkey"),
                   F.col("o_custkey") == F.col("c_custkey"), "left")
    stats2 = j2.agg(
        F.sum(F.when(F.col("c_custkey").isNull(), F.col("on2"))).alias(
            "orphan_o"
        ),
        F.sum(F.when(F.col("o_custkey").isNull(), F.col("on2"))).alias(
            "null_cust"
        ),
    )

    def chk(name, checked, viol):
        return F.struct(
            F.lit(name).alias("check_name"),
            F.coalesce(checked, F.lit(0)).cast("bigint").alias("n_checked"),
            F.coalesce(viol, F.lit(0)).cast("bigint").alias("n_violations"),
        )

    # Two 1-row stats sides -> 6 report rows by exploding a struct
    # array: zero per-check scans, zero per-check joins.
    wide = stats1.crossJoin(F.broadcast(stats2))
    return wide.select(
        F.explode(
            F.array(
                chk("orders_pk_unique", F.col("n_orders"), F.col("pk_viol")),
                chk("lineitem_fk_orders", F.col("n_li"), F.col("orphan_li")),
                chk("orders_fk_customer", F.col("n_orders"), F.col("orphan_o")),
                chk("discount_in_unit_range", F.col("n_li"), F.col("bad_disc")),
                chk("quantity_positive", F.col("n_li"), F.col("bad_qty")),
                chk("custkey_complete", F.col("n_orders"), F.col("null_cust")),
            )
        ).alias("c")
    ).select("c.check_name", "c.n_checked", "c.n_violations")


@register(
    "q173_zorder_rowgroup_stats",
    # Morton spreading is pure shift/AND/OR on int64 — the oracle
    # replays the identical bit arithmetic, which puts the z-order
    # clustering path (functions/zorder.py, previously property-tested
    # only) under the exact-hash gate.
    oracle="""
    WITH base AS (
      SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b FROM lineitem),
    sa AS (
      SELECT a, b,
             ((a | (a << 8)) & 16711935) AS xa, ((b | (b << 8)) & 16711935) AS xb
      FROM base),
    sb AS (
      SELECT a, b,
             ((xa | (xa << 4)) & 252645135) AS xa, ((xb | (xb << 4)) & 252645135) AS xb
      FROM sa),
    sc AS (
      SELECT a, b,
             ((xa | (xa << 2)) & 858993459) AS xa, ((xb | (xb << 2)) & 858993459) AS xb
      FROM sb),
    sd AS (
      SELECT a, b,
             ((xa | (xa << 1)) & 1431655765) AS xa, ((xb | (xb << 1)) & 1431655765) AS xb
      FROM sc),
    m AS (SELECT a, b, xa | (xb << 1) AS morton FROM sd)
    SELECT morton >> 10 AS rg, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(a) AS BIGINT) AS min_a, CAST(MAX(a) AS BIGINT) AS max_a,
           CAST(MIN(b) AS BIGINT) AS min_b, CAST(MAX(b) AS BIGINT) AS max_b
    FROM m GROUP BY 1
    """,
    doc=(
        "Z-order clustering under the oracle gate: every lineitem "
        "gets a Morton code interleaving (partkey, suppkey) "
        "mod 2^8 (functions/zorder.py, pure Catalyst bit arithmetic "
        "in whole-stage codegen), rows group into 64 fixed-width "
        "z-ranges (morton >> 10 - no global sort, unlike an ntile "
        "equi-depth layout), and the output is the per-rowgroup "
        "min/max footer-stats table on BOTH dimensions - exactly what "
        "a writer sorted by this key would give parquet, and why "
        "either-column filters prune row groups at 100 TB "
        "(tests/test_zorder.py holds the locality property proof). "
        "One partial-agg shuffle keyed by z-range."
    ),
)
def q173_zorder_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.functions.zorder import zorder2

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") % 256).alias("a"),
        (F.col("l_suppkey") % 256).alias("b"),
    )
    m = base.select("a", "b", zorder2(F.col("a"), F.col("b")).alias("morton"))
    return (
        m.groupBy(F.shiftright("morton", 10).alias("rg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("a").cast("bigint").alias("min_a"),
            F.max("a").cast("bigint").alias("max_a"),
            F.min("b").cast("bigint").alias("min_b"),
            F.max("b").cast("bigint").alias("max_b"),
        )
    )


@register(
    "q176_rolling_zscore_anomalies",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, CAST(value AS DECIMAL(20,6)) AS v,
             epoch_us(ts) AS ts_us
      FROM events),
    w AS (
      SELECT event_id, event_type, v,
             COUNT(*) OVER win AS n,
             SUM(v) OVER win AS sx,
             SUM(v * v) OVER win AS sxx
      FROM e
      WINDOW win AS (PARTITION BY event_type ORDER BY ts_us, event_id
                     ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)),
    z AS (
      SELECT event_id, event_type,
             round((CAST(v AS DOUBLE) - CAST(sx AS DOUBLE) / n)
               / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (n - 1))), 9) AS zscore
      FROM w WHERE n = 50)
    SELECT event_id, event_type, zscore, abs(zscore) > 3.0 AS is_anomaly
    FROM z
    """,
    doc=(
        "Rolling z-score anomaly detection: each value scored against "
        "the trailing-50 window of its event_type. The window carries "
        "DECIMAL moment sums (count/sum/sum-of-squares) - exact and "
        "order-independent, the q88 discipline inside a sliding frame "
        "- and mean/stddev/z finish in double per row (round 9). "
        "Partitioned by key, ordered by (ts_us, event_id) - total "
        "order, no global sort; warm-up rows (n<50) are excluded so "
        "every emitted score has a full window. The trailing-window "
        "moment pattern is how you stream anomaly scores over 100 TB "
        "of telemetry without a second pass."
    ),
)
def q176_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "event_type",
        F.col("value").cast("decimal(20,6)").alias("v"),
        F.unix_micros("ts").alias("ts_us"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-49, Window.currentRow)
    )
    w = e.select(
        "event_id", "event_type", "v",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("v").over(win).alias("sx"),
        F.sum(F.col("v") * F.col("v")).over(win).alias("sxx"),
    ).filter(F.col("n") == 50)
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    z = F.round(
        (F.col("v").cast("double") - sx / n)
        / F.sqrt((n * sxx - sx * sx) / (n.cast("double") * (n - 1))),
        9,
    )
    return w.select(
        "event_id", "event_type", z.alias("zscore"),
        (F.abs(z) > 3.0).alias("is_anomaly"),
    )


@register(
    "q177_cusum_changepoint",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
             CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS v6
      FROM events),
    m AS (
      SELECT event_type, CAST(SUM(v6) AS BIGINT) AS s6, COUNT(*) AS n
      FROM v GROUP BY event_type),
    c AS (
      SELECT e.event_type, e.event_id, e.ts_us, m.n,
             CAST(m.n AS DECIMAL(18,0))
               * CAST(SUM(e.v6) OVER win AS DECIMAL(19,0))
               - CAST(COUNT(*) OVER win AS DECIMAL(18,0))
                 * CAST(m.s6 AS DECIMAL(19,0)) AS num
      FROM v e JOIN m ON m.event_type = e.event_type
      WINDOW win AS (PARTITION BY e.event_type ORDER BY e.ts_us, e.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    rk AS (
      SELECT event_type, event_id, num, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(num) DESC, ts_us, event_id) AS rn
      FROM c)
    -- Peak rounding in EXACT integer arithmetic (r15, the q183
    -- boundary class): HALF-AWAY-FROM-ZERO of (num/n) at integer
    -- grid is sign * ((2*|num| + n) // (2*n)) — num is an exact
    -- DECIMAL(38,0) and n a positive count, so both engines compute
    -- the identical integer, then ONE shared double division by 1e6
    -- (the value grid is micro-units, so rounding num/n to integers
    -- IS rounding the peak to 6 dp).
    -- NB: DuckDB's // is INTEGER division only for integer operands
    -- (DECIMAL // falls back to float division), so abs(num) is cast
    -- to BIGINT first (|num| < 2^63 at any tested tier; a 10^19-row
    -- key would need the DECIMAL path).
    SELECT event_type, event_id AS change_event_id,
           CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END
                * ((2 * CAST(abs(num) AS BIGINT) + n) // (2 * n))
                AS DOUBLE) / 1e6 AS cusum_peak
    FROM rk WHERE rn = 1
    """,
    doc=(
        "CUSUM changepoint detection per event_type: the running sum "
        "of deviations from the series mean peaks (in absolute value) "
        "at the most likely level-shift point. Deviation accumulation "
        "is EXACT by cross-multiplication: cusum_i = rs_i - i*(s/n) is "
        "ranked as n*rs_i - i*s over integer micro-units (value scaled "
        "x1e6 to BIGINT, products in DECIMAL(37,0), difference in "
        "DECIMAL(38,0)) - no division before the argmax, so |cusum| "
        "comparisons and the tie order (abs DESC, ts, id) are engine-"
        "identical at any scale (a DECIMAL-vs-DOUBLE mean quotient "
        "would let near-tied peaks pick different rows). Only the "
        "final reported peak divides through double, after the argmax. "
        "Per-key windows + a WindowGroupLimit argmax; the per-key "
        "(sum, count) attaches by broadcast from a 5-row aggregate."
    ),
)
def q177_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value").cast("decimal(20,6)") * 1000000).cast("bigint").alias("v6"),
    )
    m = v.groupBy("event_type").agg(
        F.sum("v6").alias("s6"), F.count(F.lit(1)).alias("n")
    )
    e = v.join(F.broadcast(m), "event_type")
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = e.select(
        "event_type", "event_id", "ts_us", "n",
        (
            F.col("n").cast("decimal(18,0)")
            * F.sum("v6").over(win).cast("decimal(19,0)")
            - F.count(F.lit(1)).over(win).cast("decimal(18,0)")
            * F.col("s6").cast("decimal(19,0)")
        ).alias("num"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("num")).desc(), "ts_us", "event_id"
    )
    return (
        c.select(
            "event_type", "event_id", "num", "n",
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("event_id").alias("change_event_id"),
            # exact half-away-from-zero at the micro grid — see the
            # oracle note (q183 boundary class); `div` truncates but
            # operands are made non-negative first, so it equals floor
            (
                F.when(F.col("num") < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr("(2 * abs(num) + n) div (2 * n)").cast("bigint")
            ).cast("double").alias("_peak_int"),
        )
        .select(
            "event_type", "change_event_id",
            (F.col("_peak_int") / F.lit(1e6)).alias("cusum_peak"),
        )
    )


@register(
    "q178_autocorrelation",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(value AS DECIMAL(20,6)) AS v,
             epoch_us(ts) AS ts_us, event_id
      FROM events),
    l AS (
      SELECT event_type, v,
             lead(v, 1) OVER win AS v1,
             lead(v, 2) OVER win AS v2,
             lead(v, 3) OVER win AS v3
      FROM e
      WINDOW win AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
    k AS (
      SELECT event_type, CAST(lag AS INTEGER) AS lag, v,
             CASE lag WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vk
      FROM l CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) t),
    p AS (SELECT * FROM k WHERE vk IS NOT NULL),
    m AS (
      SELECT event_type, lag, COUNT(*) AS n,
             SUM(v) AS sx, SUM(vk) AS sy,
             SUM(v * v) AS sxx, SUM(vk * vk) AS syy, SUM(v * vk) AS sxy
      FROM p GROUP BY event_type, lag)
    SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
             AS acf
    FROM m
    """,
    doc=(
        "Lag-1/2/3 autocorrelation per event_type: lead() windows "
        "build the lagged pairs in one pass (per-key partitioned, "
        "total (ts, id) order), a 3-row lag spine expands them, and "
        "each (key, lag) cell reduces to DECIMAL-exact Pearson "
        "moments finished in double (round 9) - the q88 moment "
        "discipline again, so the ACF is order-independent and "
        "mergeable across partitions. Seasonality/memory diagnostics "
        "over 100 TB of telemetry cost one window pass + one "
        "partial-agg shuffle this way."
    ),
)
def q178_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    v = F.col("value").cast("decimal(20,6)")
    l = ev.select(
        "event_type", v.alias("v"),
        F.lead(v, 1).over(win).alias("v1"),
        F.lead(v, 2).over(win).alias("v2"),
        F.lead(v, 3).over(win).alias("v3"),
    )
    lag = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("lag")
    k = l.select("event_type", "v", "v1", "v2", "v3", lag).select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        "v",
        F.when(F.col("lag") == 1, F.col("v1"))
        .when(F.col("lag") == 2, F.col("v2"))
        .otherwise(F.col("v3"))
        .alias("vk"),
    ).filter(F.col("vk").isNotNull())
    m = k.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum("vk").alias("sy"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.sum(F.col("vk") * F.col("vk")).alias("syy"),
        F.sum(F.col("v") * F.col("vk")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        "event_type", "lag", n.cast("bigint").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            9,
        ).alias("acf"),
    )


@register(
    "q179_contingency_table",
    oracle=f"""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    cell AS (
      SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY seg, pri),
    rt AS (SELECT seg, SUM(n) AS nr FROM cell GROUP BY seg),
    ct AS (SELECT pri, SUM(n) AS nc FROM cell GROUP BY pri),
    tot AS (SELECT SUM(n) AS nt FROM cell)
    SELECT cell.seg, cell.pri, cell.n,
           {_R9('CAST(rt.nr AS HUGEINT) * ct.nc', 'tot.nt')} AS n_expected,
           {_R9('(CAST(cell.n AS HUGEINT) * tot.nt '
                ' - CAST(rt.nr AS HUGEINT) * ct.nc) '
                '* (CAST(cell.n AS HUGEINT) * tot.nt '
                '   - CAST(rt.nr AS HUGEINT) * ct.nc)',
                'CAST(tot.nt AS HUGEINT) * rt.nr * ct.nc')} AS chi2_cell
    FROM cell JOIN rt USING (seg) JOIN ct USING (pri), tot
    """,
    doc=(
        "Contingency-table independence analysis (market segment x "
        "order priority): observed cell counts vs the independence "
        "expectation nr*nc/N, plus each cell's chi-square "
        "contribution. One fact-side aggregate (customer attaches by "
        "broadcast), then margins and expectations all derive from "
        "the TINY cell table - 25 rows regardless of input scale - so "
        "the statistical finish costs nothing at 100 TB. Expected "
        "counts are exact-integer products divided once in double "
        "(round 9); per-cell rows only, no cross-row double sums "
        "(the q171 discipline)."
    ),
)
def q179_contingency_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
    )
    cell = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("n"))
    cell = cell.cache()  # 25 rows; feeds margins + totals + output
    rt = cell.groupBy("seg").agg(F.sum("n").alias("nr"))
    ct = cell.groupBy("pri").agg(F.sum("n").alias("nc"))
    tot = cell.agg(F.sum("n").alias("nt"))
    # Exact rational rounding (r16): n_expected = nr*nc/nt and
    # chi2_cell = (n*nt - nr*nc)^2 / (nt*nr*nc) — both HALF_UP over
    # DECIMAL(38,0) integers (the probed round(double, 9) class).
    dev = ("(CAST(n AS DECIMAL(38,0)) * nt "
           "- CAST(nr AS DECIMAL(38,0)) * nc)")
    return (
        cell.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "pri")
        .crossJoin(F.broadcast(tot))
        .select(
            "seg", "pri", F.col("n").cast("bigint").alias("n"),
            round9_exact("CAST(nr AS DECIMAL(38,0)) * nc", "nt")
            .alias("n_expected"),
            round9_exact(f"{dev} * {dev}",
                         "CAST(nt AS DECIMAL(38,0)) * nr * nc")
            .alias("chi2_cell"),
        )
    )


@register(
    "q180_mom_revenue_growth",
    oracle=f"""
    WITH r AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS rev
      FROM orders GROUP BY 1),
    g AS (
      SELECT CAST(month AS VARCHAR) AS month, rev,
             lag(rev) OVER (ORDER BY month) AS prev
      FROM r)
    SELECT month, round(CAST(rev AS DOUBLE), 2) AS revenue,
           {_R9('CAST((rev - prev) * 100 AS HUGEINT)',
                'CAST(prev * 100 AS HUGEINT)')} AS mom_growth
    FROM g WHERE prev IS NOT NULL
    """,
    doc=(
        "Month-over-month revenue growth: monthly DECIMAL-exact "
        "revenue, then lag() and a percent delta. The only full-data "
        "work is the month partial aggregate; the growth window runs "
        "over the distinct-month table (dozens of rows - the q160 "
        "bounded-domain argument makes the unpartitioned ORDER BY "
        "month window safe at any input scale). The growth ratio "
        "divides the exact decimal sums in double, round 9."
    ),
)
def q180_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    r = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("rev"))
    w = Window.orderBy("month")
    g = r.select(
        F.col("month").cast("string").alias("month"),
        F.col("rev").alias("rev"),
        F.lag("rev").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    # Exact rational rounding (r16): the growth ratio is
    # cents/cents — HALF_UP over integers, not round(double, 9).
    return g.select(
        "month",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        round9_exact("CAST((rev - prev) * 100 AS DECIMAL(38,0))",
                     "CAST(prev * 100 AS DECIMAL(38,0))")
        .alias("mom_growth"),
    )


@register(
    "q181_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events),
    t AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT src, SUM(n) AS n_src FROM t GROUP BY src)
    SELECT t.src, t.dst, t.n,
           {p9} AS p
    FROM t JOIN m USING (src)
    """.format(p9=_R9('t.n', 'm.n_src')),
    doc=(
        "First-order Markov transition matrix over per-user event "
        "streams (the clickstream model behind next-action prediction "
        "and funnel leak analysis): one lead() pass partitioned by "
        "user builds consecutive pairs, a partial-agg shuffle counts "
        "the 25 (src, dst) cells, and transition probabilities divide "
        "exact counts in double (round 9) with the margins attached "
        "from the tiny per-src aggregate. The window never crosses "
        "users, so sessions parallelize perfectly at 100 TB; the "
        "transition matrix is |types|^2 rows regardless of scale."
    ),
)
def q181_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    t = s.groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = t.cache()  # 25 cells; feeds margins + output
    m = t.groupBy("src").agg(F.sum("n").alias("n_src"))
    return (
        t.join(F.broadcast(m), "src")
        .select(
            "src", "dst", F.col("n").cast("bigint").alias("n"),
            # exact rational rounding (r16, the q88/q183 class)
            round9_exact("n", "n_src").alias("p"),
        )
    )


@register(
    "q182_top_user_journeys",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events),
    j AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY rn), '>') AS journey
      FROM r WHERE rn <= 3 GROUP BY user_id)
    SELECT journey, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM j GROUP BY journey
    ORDER BY n_users DESC, journey LIMIT 20
    """,
    doc=(
        "Top user journeys: each user's first three events collapse "
        "to an ordered path string and the 20 most common paths rank "
        "out - the Sankey/flow primitive of product analytics. The "
        "rank window partitions by user (rn <= 3 prunes to three rows "
        "per user BEFORE the path aggregate), the ordered collect "
        "sorts by the rank inside each tiny group (never a global "
        "sort), and the top-20 is TakeOrderedAndProject over the "
        "bounded path-vocabulary table (at most |types|^3 = 125 "
        "distinct journeys at any scale)."
    ),
)
def q182_top_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    r = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    j = r.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("journey")
    )
    return (
        j.groupBy("journey")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "journey")
        .limit(20)
    )


@register(
    "q183_cohort_ltv_triangle",
    oracle="""
    WITH first_o AS (
      SELECT o_custkey,
             MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort
      FROM orders GROUP BY o_custkey),
    sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM first_o GROUP BY cohort),
    rev AS (
      SELECT f.cohort,
             (12 * (year(o.o_orderdate) - year(f.cohort))
              + (month(o.o_orderdate) - month(f.cohort))) AS months_since,
             SUM(CAST(o.o_totalprice AS DECIMAL(20,2))) AS rev
      FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort, months_since,
             SUM(rev) OVER (PARTITION BY cohort ORDER BY months_since
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      FROM rev)
    -- LTV rounding in EXACT integer arithmetic (r15): round(double, 6)
    -- diverged between engines when the true quotient terminates
    -- exactly on the half boundary (fuzz seed 44: 33453.8015625 ->
    -- Spark HALF_UP .801563 vs DuckDB binary-double round .801562).
    -- HALF_UP at the 1e-6 grid == (2*rev_micros + users) DIV
    -- (2*users) for non-negative operands — exact BIGINTs on both
    -- engines, then ONE shared double division by 1e6.
    SELECT CAST(cohort AS VARCHAR) AS cohort,
           CAST(months_since AS INTEGER) AS months_since,
           sz.cohort_users,
           CAST((2 * CAST(cum_rev * 1000000 AS BIGINT) + sz.cohort_users)
                // (2 * sz.cohort_users) AS DOUBLE) / 1e6 AS ltv_per_user
    FROM cum JOIN sz USING (cohort)
    WHERE months_since <= 12
    """,
    doc=(
        "Cohort LTV triangle: customers cohort by first-order month, "
        "and each (cohort, months-since) cell reports cumulative "
        "revenue per cohort user - the standard lifetime-value "
        "readout. Revenue accumulates as exact DECIMAL sums; the "
        "running window partitions by cohort over the bounded "
        "months-since domain (<= 80 rows per cohort - the q160 "
        "argument), so the only corpus-scale work is the first-order "
        "collapse and one (cohort, month) partial aggregate; cohort "
        "sizes attach from a broadcast-sized table and LTV is rounded "
        "HALF_UP at 6 dp in exact integer arithmetic (the double "
        "round diverges between engines on half-boundary quotients)."
    ),
)
def q183_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    first_o = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate").cast("date")).alias("cohort")
    )
    first_o = first_o.cache()  # feeds cohort sizes + the revenue join
    sz = first_o.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    rev = (
        orders.join(first_o, "o_custkey")
        .groupBy(
            "cohort",
            (
                F.lit(12) * (F.year("o_orderdate") - F.year("cohort"))
                + (F.month("o_orderdate") - F.month("cohort"))
            ).alias("months_since"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort", "months_since", F.sum("rev").over(w).alias("cum_rev")
    ).filter(F.col("months_since") <= 12)
    # HALF_UP at 6 dp in exact integers — see the oracle note: the
    # double round diverges between engines when the true quotient
    # terminates exactly on the half boundary.  cum_rev is an exact
    # DECIMAL, so rev_micros is an exact BIGINT (bounded: per-cell
    # revenue * 1e6 << 2^63 at any realistic cohort-month grain);
    # `div` is Spark's integral division (== floor here: operands
    # are non-negative), the DuckDB twin is `//`.
    staged = cum.join(F.broadcast(sz), "cohort").select(
        F.col("cohort").cast("string").alias("cohort"),
        F.col("months_since").cast("int").alias("months_since"),
        F.col("cohort_users").cast("bigint").alias("cohort_users"),
        (F.col("cum_rev") * 1000000).cast("bigint").alias("_rev_micros"),
    )
    return staged.select(
        "cohort", "months_since", "cohort_users",
        (F.expr("(2 * _rev_micros + cohort_users) div (2 * cohort_users)")
         .cast("double") / F.lit(1e6)).alias("ltv_per_user"),
    )


@register(
    "q184_fifo_allocation",
    oracle="""
    WITH d AS (
      SELECT l_partkey AS p, CAST(l_quantity AS DECIMAL(20,2)) AS q,
             SUM(CAST(l_quantity AS DECIMAL(20,2))) OVER win AS hi
      FROM lineitem WHERE l_linestatus = 'O'
      WINDOW win AS (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
      SELECT l_partkey AS p, CAST(l_quantity AS DECIMAL(20,2)) AS q,
             SUM(CAST(l_quantity AS DECIMAL(20,2))) OVER win AS hi
      FROM lineitem WHERE l_linestatus = 'F'
      WINDOW win AS (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    m AS (
      SELECT d.p,
             least(d.hi, s.hi) - greatest(d.hi - d.q, s.hi - s.q) AS alloc
      FROM d JOIN s ON s.p = d.p
        AND d.hi - d.q < s.hi AND s.hi - s.q < d.hi),
    agg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n_matches,
             CAST(SUM(alloc) AS DOUBLE) AS allocated
      FROM m GROUP BY p)
    SELECT p AS partkey, n_matches, allocated
    FROM agg ORDER BY allocated DESC, partkey LIMIT 20
    """,
    doc=(
        "FIFO lot allocation - the inventory-matching shape (match "
        "open demand lines against filled supply lots per part, "
        "oldest first). The relational FIFO trick: each side gets a "
        "cumulative-quantity interval [hi - q, hi) from a per-part "
        "ordered running DECIMAL sum, and a demand line consumes "
        "exactly the supply lots whose intervals overlap - so the "
        "match is an EQUI-join on the part key plus a range filter, "
        "never a procedural loop, and per-part fan-out is linear in "
        "line count (each interval overlaps its neighbors, not the "
        "whole lot list). Quantities stay decimal-exact through the "
        "least/greatest allocation arithmetic; orders are total "
        "((shipdate, orderkey, linenumber)); top-20 via "
        "TakeOrderedAndProject."
    ),
)
def q184_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    win = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = F.col("l_quantity").cast("decimal(20,2)")

    def side(status, hi, qn):
        return (
            li.filter(F.col("l_linestatus") == status)
            .select(
                F.col("l_partkey").alias("p"), q.alias(qn),
                F.sum(q).over(win).alias(hi),
                "l_shipdate", "l_orderkey", "l_linenumber",
            )
            .select("p", qn, hi)
        )

    d = side("O", "d_hi", "d_q")
    s = side("F", "s_hi", "s_q")
    m = d.join(
        s,
        (d.p == s.p)
        & (F.col("d_hi") - F.col("d_q") < F.col("s_hi"))
        & (F.col("s_hi") - F.col("s_q") < F.col("d_hi")),
    ).select(
        d.p.alias("partkey"),
        (
            F.least(F.col("d_hi"), F.col("s_hi"))
            - F.greatest(F.col("d_hi") - F.col("d_q"), F.col("s_hi") - F.col("s_q"))
        ).alias("alloc"),
    )
    return (
        m.groupBy("partkey")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("alloc").cast("double").alias("allocated"),
        )
        .orderBy(F.desc("allocated"), "partkey")
        .limit(20)
    )


@register(
    "q185_interevent_latency",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                ORDER BY epoch_us(ts), event_id) AS gap_us
      FROM events),
    p AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
    r AS (
      SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type ORDER BY gap_us, event_type) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM p)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END) AS BIGINT) AS p90_us,
           CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_us END) AS BIGINT) AS p99_us
    FROM r GROUP BY event_type
    """,
    doc=(
        "Inter-event waiting-time distribution per event_type: lag() "
        "gaps in integer microseconds, then DISCRETE p50/p90/p99 "
        "selected at exact ceil(q*n) ordinals via rank (the q96/q152 "
        "rule - never percentile interpolation, whose midpoint "
        "semantics diverge across engines; integer ordinal selection "
        "is bit-identical). Both windows partition by the series key; "
        "the ordinal arithmetic (qn + q) // unit = ceil(q*n) stays in "
        "exact integers. Latency SLO readouts over 100 TB of event "
        "logs are this exact two-window shape."
    ),
)
def q185_interevent_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wlag = Window.partitionBy("event_type").orderBy(F.unix_micros("ts"), F.col("event_id"))
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wlag)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_us", "event_type")
    wn = Window.partitionBy("event_type")
    r = g.select(
        "event_type", "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    n, rn = F.col("n"), F.col("rn")

    def at(expr_num):
        return F.max(F.when(rn == expr_num, F.col("gap_us"))).cast("bigint")

    return r.groupBy("event_type").agg(
        F.max(n).cast("bigint").alias("n_gaps"),
        at(F.floor((n + 1) / 2)).alias("p50_us"),
        at(F.floor((F.lit(9) * n + 9) / 10)).alias("p90_us"),
        at(F.floor((F.lit(99) * n + 99) / 100)).alias("p99_us"),
    )


@register(
    "q186_weighted_median",
    oracle="""
    WITH w AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg,
             CAST(o.o_totalprice AS DECIMAL(20,2)) AS price,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey) AS wt
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    r AS (
      SELECT seg, price, wt,
             SUM(wt) OVER (PARTITION BY seg ORDER BY price, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY seg) AS tw
      FROM w WHERE wt > 0),
    med AS (
      SELECT seg, price,
             row_number() OVER (PARTITION BY seg ORDER BY cw, price) AS rn
      FROM r WHERE 2 * cw >= tw)
    SELECT seg, CAST(price AS DOUBLE) AS weighted_median_price
    FROM med WHERE rn = 1
    """,
    doc=(
        "Exact weighted (lower) median order price per market "
        "segment, weighted by line count: the smallest price whose "
        "cumulative weight reaches half the segment total. The "
        "crossing test is the integer cross-multiplication 2*cw >= tw "
        "- no fractions, no interpolation, bit-identical - over a "
        "per-segment cumulative-weight window with a total (price, "
        "orderkey) order. Weights come from a per-order line count "
        "(keyed aggregate, planner-chosen join). Weighted quantiles "
        "are the curation primitive behind token-budget selection "
        "thresholds (q83) done exactly. r17: the crossing PRICE is a "
        "pure function of the (seg, price) weight marginal — the "
        "cumulative weight is non-decreasing in price, so the oracle's "
        "first crossing ROW (price, orderkey order) always lands inside "
        "the first crossing price group — so the order-grain windows "
        "collapse to a marginal aggregate whose running weight is the "
        "exact two-phase parallel prefix sum (approx-quantile bins -> "
        "per-(seg, bin) running sums + broadcast cumulative bin-total "
        "offsets, the q189 machinery) finished by min(price). The bare "
        "5-value segment partition never sorts order-scale rows in 5 "
        "tasks at any input size."
    ),
)
def q186_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    # (seg, price) weight marginal — the smallest price whose cumulative
    # weight reaches half the segment total IS the oracle's crossing
    # row's price (rows with equal price are contiguous in the oracle's
    # (price, orderkey) order, so the first row with 2*cw >= tw lies in
    # the first price group with 2*cum(price) >= tw).  The per-order
    # line count summed over a (seg, price) group is just the group's
    # lineitem-row count, so the marginal comes straight off the
    # lineitem-orders join with ONE aggregate (no per-order wt
    # pre-aggregate; orders with no lines vanish in the inner join
    # exactly as the oracle's wt > 0 filter drops them).  Cached
    # in-query: the boundary stats pass, the crossing-bin pass and the
    # final in-bin pass all re-read this one aggregate (one fact scan).
    m = (
        li.select(F.col("l_orderkey").alias("o_orderkey"))
        .join(
            orders.join(
                F.broadcast(cust), orders.o_custkey == cust.c_custkey
            ).select(
                "o_orderkey",
                F.col("c_mktsegment").alias("seg"),
                F.col("o_totalprice").cast("decimal(20,2)").alias("price"),
            ),
            "o_orderkey",
        )
        .groupBy("seg", "price")
        .agg(F.count(F.lit(1)).alias("swt"))
        .cache()
    )
    # Exact two-phase parallel prefix sum of swt in price order per
    # segment (r17, VERDICT r16 #6; guide §2.5): distinct prices grow
    # with the order book, so a bare 5-value seg partition would
    # serialize the marginal.  Bins come from one approx-quantile pass
    # (a pure function of the VALUE — tied prices share a bin, bins
    # are contiguous runs of the per-seg price order); the per-
    # (seg, bin) totals collapse to a <= 5*nb-row table whose windows
    # give exclusive offsets, segment totals, and the CROSSING BIN —
    # the only bin whose rows the final window must order.  The final
    # pass filters the marginal to crossing bins by a <= 5-row
    # broadcast, so the exact running sum sorts one bin per segment,
    # never the marginal.
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext; modest default
        par = 64
    nb = max(2, min(int(par), 256))
    pcts = [i / nb for i in range(1, nb)]
    # accuracy=100: boundary error moves only bin BALANCE, never the
    # output (see _two_phase_rank)
    stats = F.broadcast(
        m.agg(F.percentile_approx("price", pcts, 100).alias("_bs"))
    )
    to_bin = F.size(F.filter(F.col("_bs"), lambda b: b < F.col("price")))
    woff = (
        Window.partitionBy("seg").orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # per-(seg, bin) totals: bounded by the bin cap, not the input
    bt = (
        m.crossJoin(stats)
        .groupBy("seg", to_bin.alias("_bin"))
        .agg(F.sum("swt").alias("_bc"))
        .select(
            "seg", "_bin", "_bc",
            F.coalesce(F.sum("_bc").over(woff), F.lit(0)).alias("_off"),
            F.sum("_bc").over(Window.partitionBy("seg")).alias("_tw"),
        )
    )
    # crossing bin = first bin whose through-total reaches half: rows
    # before it sum to < tw/2, so the crossing price lies inside it
    crossing = bt.filter(
        F.lit(2) * (F.col("_off") + F.col("_bc")) >= F.col("_tw")
    ).groupBy("seg").agg(
        F.min("_bin").alias("_bin"),
        F.min_by(F.col("_off"), F.col("_bin")).alias("_off"),
        F.min("_tw").alias("_tw"),
    )
    # prices are distinct per (seg, price) marginal row, so a ROWS
    # running frame is exact; explicit repartition keeps the (tiny)
    # crossing bins parallel under AQE (see _two_phase_rank)
    wbin = (
        Window.partitionBy("seg", "_bin").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        m.crossJoin(stats)
        .withColumn("_bin", to_bin)
        .drop("_bs")
        .join(F.broadcast(crossing), ["seg", "_bin"])
        .repartition(F.col("seg"), F.col("_bin"))
        .withColumn("_cum", F.col("_off") + F.sum("swt").over(wbin))
        .filter(F.lit(2) * F.col("_cum") >= F.col("_tw"))
        .groupBy("seg")
        .agg(F.min("price").cast("double").alias("weighted_median_price"))
    )


@register(
    "q187_percent_of_parent",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(20,2))) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2),
    tot AS (
      SELECT region, nation, rev,
             SUM(rev) OVER (PARTITION BY region) AS region_rev,
             SUM(rev) OVER () AS global_rev
      FROM rev)
    SELECT region, nation, CAST(rev AS DOUBLE) AS revenue,
           {a} AS pct_of_region,
           {b} AS pct_of_global
    FROM tot
    """.format(a=_R9('CAST(rev * 100 AS HUGEINT)',
                        'CAST(region_rev * 100 AS HUGEINT)'),
                  b=_R9('CAST(rev * 100 AS HUGEINT)',
                        'CAST(global_rev * 100 AS HUGEINT)')),
    doc=(
        "Hierarchical percent-of-parent: nation revenue as a share of "
        "its region and of the world (the drill-down share readout "
        "q89's flat ratio_to_report doesn't give). One fact aggregate "
        "to the 25-row nation grain - dims attach by broadcast - then "
        "both parent totals are windows OVER THE AGGREGATE, so the "
        "unpartitioned global-total window reads 25 rows at any input "
        "scale (q160's bounded-domain rule). Revenue sums stay "
        "DECIMAL-exact; shares divide the exact sums in double "
        "(round 9)."
    ),
)
def q187_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("rev"))
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    tot = rev.select(
        "region", "nation", "rev",
        F.sum("rev").over(wr).alias("region_rev"),
        F.sum("rev").over(wg).alias("global_rev"),
    )
    # exact rational rounding (r16): shares are cents/cents
    return tot.select(
        "region", "nation",
        F.col("rev").cast("double").alias("revenue"),
        round9_exact("CAST(rev * 100 AS DECIMAL(38,0))",
                     "CAST(region_rev * 100 AS DECIMAL(38,0))")
        .alias("pct_of_region"),
        round9_exact("CAST(rev * 100 AS DECIMAL(38,0))",
                     "CAST(global_rev * 100 AS DECIMAL(38,0))")
        .alias("pct_of_global"),
    )


@register(
    "q188_ks_two_sample",
    oracle="""
    WITH x AS (
      SELECT n_chars AS v,
             CASE WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 0 ELSE 1 END AS g
      FROM documents),
    n AS (
      SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n2
      FROM x),
    pv AS (
      SELECT v,
             SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c2
      FROM x GROUP BY v),
    cum AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS f1,
             SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS f2
      FROM pv),
    d AS (
      SELECT CAST(MAX(abs(f1 * n.n2 - f2 * n.n1)) AS BIGINT) AS ks_num
      FROM cum, n)
    SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2, d.ks_num,
           {k9} AS ks_stat,
           CAST(d.ks_num AS DOUBLE) / (CAST(n.n1 AS DOUBLE) * n.n2)
             > 1.36 * sqrt((n.n1 + CAST(n.n2 AS DOUBLE)) / (CAST(n.n1 AS DOUBLE) * n.n2))
             AS drift_detected
    FROM d, n
    """.format(k9=_R9('d.ks_num', 'CAST(n.n1 AS HUGEINT) * n.n2')),
    doc=(
        "Two-sample Kolmogorov-Smirnov drift test between source "
        "groups on document length - the nonparametric "
        "distribution-shift detector (data-drift monitoring without "
        "assuming a distribution, and without transcendentals: the "
        "supremum CDF gap max|F1-F2| is computed as the INTEGER "
        "cross-product max|c1*n2 - c2*n1|, so the statistic's "
        "numerator is exact and engine-identical; only the final "
        "normalization and the 1.36*sqrt critical-value compare run "
        "in double). Per-value counts collapse first (the bounded "
        "length domain), cumulative CDFs run over that small table "
        "(q160 argument), one integer max finishes it."
    ),
)
def q188_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    g = F.when(F.substring("source", 4, 10).cast("int") < 10, 0).otherwise(1)
    x = docs.select(F.col("n_chars").alias("v"), g.alias("g"))
    x = x.cache()  # feeds group sizes + per-value counts
    n = F.broadcast(
        x.agg(
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n2"),
        )
    )
    pv = x.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pv.select(F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2"))
    d = cum.crossJoin(n).agg(
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")))
        .cast("bigint")
        .alias("ks_num")
    )
    n1d = F.col("n1").cast("double")
    stat = F.col("ks_num").cast("double") / (n1d * F.col("n2"))
    crit = F.lit(1.36) * F.sqrt((F.col("n1") + F.col("n2").cast("double")) / (n1d * F.col("n2")))
    return (
        F.broadcast(d)
        .crossJoin(n)
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "ks_num",
            # exact rational rounding (r16); the drift compare keeps
            # the raw double form — its sqrt rhs is irrational, so the
            # boolean cannot sit on a representable boundary.
            round9_exact("ks_num", "CAST(n1 AS DECIMAL(38,0)) * n2")
            .alias("ks_stat"),
            (stat > crit).alias("drift_detected"),
        )
    )


@register(
    "q189_spearman_rank_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS flag,
             CAST((CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                   AS DECIMAL(20,1))
               + (COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)
                 / CAST(2 AS DECIMAL(2,1))) AS DECIMAL(20,1)) AS rx,
             CAST((CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                   AS DECIMAL(20,1))
               + (COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1)
                 / CAST(2 AS DECIMAL(2,1))) AS DECIMAL(20,1)) AS ry
      FROM lineitem),
    m AS (
      SELECT flag, COUNT(*) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
      FROM r GROUP BY flag)
    SELECT flag, CAST(n AS BIGINT) AS n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
             AS spearman
    FROM m
    """,
    doc=(
        "Spearman rank correlation (quantity vs price per returnflag) "
        "- the outlier-robust monotonic-association measure. Average "
        "ranks for ties come from rank() + (tie_count - 1)/2 kept as "
        "EXACT DECIMAL(20,1) halves (ties make average ranks .5-"
        "valued; float ranks would break the exact moment sums), then "
        "the q88 decimal-moment Pearson runs on the ranks and "
        "finishes in double (round 9). The ranks are computed on "
        "GROUPED value tables, never on fact rows (r08): a window "
        "partitioned by a 3-value flag puts the whole fact table into "
        "3 sort tasks - the one window shape the repo otherwise bans. "
        "One scan builds the joint (flag, qty, price) count table "
        "(map-side combined, cached in-query - the q188 discipline); "
        "running counts ride on it. r17 (VERDICT r16 #4): the qty "
        "domain is CONSTANT (TPC-H quantities are 1..50), so its "
        "running count is a window over a <=150-row marginal, "
        "broadcast back; the price domain GROWS with the part catalog, "
        "so its running count is the exact two-phase parallel prefix "
        "sum on the joint table (approx-quantile bins -> per-(flag, "
        "bin) RANGE running sums, parallel across bins, + broadcast "
        "cumulative bin-total offsets - no per-flag single-task sort "
        "at any scale). Every moment sum is a "
        "count-weighted sum over the joint table: sum(c*rx*ry) == "
        "sum over rows of rx*ry exactly, in the same exact decimals."
    ),
)
def q189_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")

    # ONE corpus pass: joint (flag, qty, price) counts, cached in-query
    # (the q188 discipline): both marginals, the boundary stats pass
    # and the rank join-back all re-read this one aggregate, so the
    # fact table is still scanned exactly once.
    jt = li.groupBy(
        F.col("l_returnflag").alias("flag"), "l_quantity", "l_extendedprice"
    ).agg(F.count(F.lit(1)).alias("c")).cache()

    def avg_rank(cum, ties):
        # tie-averaged rank from an inclusive weighted running count:
        # competition rank = cum - ties + 1; + (ties - 1)/2 in the
        # exact decimal(20,1) halves of the row-level rank() +
        # (tie_count - 1)/2 form.  Same long inputs and same decimal
        # expression tree as the r08 joint-window arithmetic, so the
        # ranks are bit-identical.
        return (
            (cum - ties + 1).cast("decimal(20,1)")
            + (ties - 1) / F.lit(2).cast("decimal(2,1)")
        ).cast("decimal(20,1)")

    # Quantity marginal: the qty domain is a CONSTANT (1..50 — it does
    # not grow with the corpus), so its running count is a bounded
    # <=150-row window, broadcast back to the joint table.  Values are
    # distinct per (flag, qty) row, so a ROWS running frame replaces
    # the r08 RANGE frame (ties collapsed by the groupBy).
    wq = (
        Window.partitionBy("flag").orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qm = (
        jt.groupBy("flag", "l_quantity").agg(F.sum("c").alias("cq"))
        .select(
            "flag", "l_quantity",
            avg_rank(F.sum("cq").over(wq), F.col("cq")).alias("rx"),
        )
    )

    # Price running count: the price domain GROWS with the part
    # catalog, so it is the exact two-phase parallel prefix sum (r17,
    # VERDICT r16 #4) computed straight on the joint table — no
    # marginal materialization, no join-back: approx-quantile bins ->
    # per-(flag, bin) RANGE running sums (parallel across bins — a bin
    # is a pure function of the VALUE, so tied prices never split and
    # bins are contiguous runs of the per-flag price order) +
    # broadcast cumulative bin-total offsets.  No per-flag single-task
    # sort of the joint table at any scale.
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext; modest default
        par = 64
    nb = max(2, min(int(par), 256))
    pcts = [i / nb for i in range(1, nb)]
    # accuracy=100: boundary error moves only bin BALANCE, never the
    # output (see _two_phase_rank)
    stats = F.broadcast(
        jt.agg(F.percentile_approx("l_extendedprice", pcts, 100).alias("_bs"))
    )
    v = F.col("l_extendedprice")
    to_bin = F.size(F.filter(F.col("_bs"), lambda b: b < v))
    # offsets: per-flag cumulative bin totals — a partial-aggregated
    # collapse of the joint table to <= 3*nb rows, then a window over
    # THAT bounded table, broadcast back
    woff = (
        Window.partitionBy("flag").orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        jt.crossJoin(stats)
        .groupBy("flag", to_bin.alias("_bin"))
        .agg(F.sum("c").alias("_bc"))
        .select(
            "flag", "_bin",
            F.coalesce(F.sum("_bc").over(woff), F.lit(0)).alias("_off"),
        )
    )
    # in-bin RANGE running count over the joint rows (all price ties
    # share a bin, so the frame spans exactly the rows the r08 global
    # RANGE frame spanned), kept parallel by an explicit bin
    # repartition (AQE coalesces ENSURE_REQUIREMENTS exchanges to 1
    # partition at small inputs — see _two_phase_rank)
    wbin = Window.partitionBy("flag", "_bin").orderBy("l_extendedprice")
    cum = F.col("_off") + F.sum("c").over(
        wbin.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ties = F.sum("c").over(
        wbin.rangeBetween(Window.currentRow, Window.currentRow)
    )
    r = (
        jt.crossJoin(stats)
        .withColumn("_bin", to_bin)
        .drop("_bs")
        .join(F.broadcast(qm), ["flag", "l_quantity"])
        .join(F.broadcast(offs), ["flag", "_bin"])
        .repartition(F.col("flag"), F.col("_bin"))
        .withColumn("ry", avg_rank(cum, ties))
    )
    c = F.col("c")
    m = r.groupBy("flag").agg(
        F.sum(c).cast("bigint").alias("n"),
        F.sum(c * F.col("rx")).alias("sx"),
        F.sum(c * F.col("ry")).alias("sy"),
        F.sum(c * (F.col("rx") * F.col("rx"))).alias("sxx"),
        F.sum(c * (F.col("ry") * F.col("ry"))).alias("syy"),
        F.sum(c * (F.col("rx") * F.col("ry"))).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        "flag", n.cast("bigint").alias("n"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            9,
        ).alias("spearman"),
    )


@register(
    "q190_fuzzy_string_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey AS k, c_name AS nm, substring(c_name, 1, 16) AS blk
      FROM customer),
    -- hot-block cap, mirrors the Spark side's mechanical guard
    cw AS (
      SELECT c.k, c.nm, c.blk FROM c
      JOIN (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 1000) g
      USING (blk)),
    pairs AS (
      SELECT a.k AS custkey_a, b.k AS custkey_b,
             CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      FROM cw a JOIN cw b ON b.blk = a.blk AND a.k < b.k)
    SELECT custkey_a, custkey_b, dist FROM pairs WHERE dist <= 1
    """,
    doc=(
        "Fuzzy string (similarity) join: customer-name pairs within "
        "edit distance 1, the record-linkage primitive Spark has no "
        "built-in operator for. Composed as blocking -> equi-join -> "
        "verify: a prefix block key collapses the candidate space "
        "from O(n^2) to per-block C(b,2) (the q-gram/prefix-filter "
        "family - at 100 TB the block key is length + first q-gram), "
        "and blocks larger than 1000 members are dropped MECHANICALLY "
        "before the self-join (queries_graph.cap_baskets, mirrored in "
        "the oracle's HAVING <= 1000 - no degenerate prefix can fan "
        "out quadratically), "
        "then the exact levenshtein() verify runs only inside blocks. "
        "Identical edit-distance semantics in DuckDB makes the whole "
        "join hash-replayable. No cross join anywhere in the plan. "
        "The Spark verify runs the DP only on the post-block TAILS: "
        "blk equality guarantees a common prefix of len(blk) chars, "
        "and stripping a common prefix provably preserves Levenshtein "
        "distance (the standard trim reduction), so lev(nm_a, nm_b) = "
        "lev(tail_a, tail_b) — an O(|tail|^2) check instead of "
        "O(|name|^2) per pair, the dominant cost at C(block,2) pairs."
    ),
)
def q190_fuzzy_string_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.queries_graph import cap_baskets

    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_custkey").alias("k"),
        # tail = everything past the 16-char block prefix; empty for
        # names <= 16 chars (then blk IS the whole name and equality
        # of blk implies equality of the strings, dist 0).
        F.col("c_name").alias("nm"),
        F.substring("c_name", 1, 16).alias("blk"),
        F.expr("substring(c_name, 17)").alias("tl"),
    )
    # Hot-block guard, mechanical (cap_baskets, oracle-mirrored): a
    # degenerate shared prefix would otherwise fan C(block,2) pairs
    # out of one key.  Cached — both self-join sides read it.
    c = cap_baskets(c, "blk", max_basket=1000).cache()
    a = c.select(F.col("k").alias("custkey_a"), F.col("tl").alias("tl_a"), "blk")
    b = c.select(F.col("k").alias("custkey_b"), F.col("tl").alias("tl_b"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .select(
            "custkey_a", "custkey_b",
            F.levenshtein("tl_a", "tl_b").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
    )


@register(
    "q191_linear_interpolation",
    oracle="""
    WITH obs AS (
      SELECT event_type, epoch_us(ts) AS t_us, event_id,
             CAST(value AS DOUBLE) AS v, 0 AS grid_last
      FROM events),
    bounds AS (
      SELECT event_type,
             ((MIN(t_us) + 3599999999) // 3600000000) * 3600000000 AS t0,
             (MAX(t_us) // 3600000000) * 3600000000 AS t1
      FROM obs GROUP BY event_type),
    grid AS (
      SELECT event_type, unnest(generate_series(t0, t1, 3600000000)) AS t_us,
             CAST(NULL AS BIGINT) AS event_id,
             CAST(NULL AS DOUBLE) AS v, 1 AS grid_last
      FROM bounds WHERE t0 <= t1),
    u AS (
      SELECT * FROM obs UNION ALL SELECT * FROM grid),
    f AS (
      SELECT event_type, t_us, grid_last,
             last_value(v IGNORE NULLS) OVER w_prev AS vp,
             last_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER w_prev AS tp,
             first_value(v IGNORE NULLS) OVER w_next AS vn,
             first_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER w_next AS tn
      FROM u
      WINDOW
        w_prev AS (PARTITION BY event_type
                   ORDER BY t_us, grid_last, event_id NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type
                   ORDER BY t_us, grid_last, event_id NULLS LAST
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, t_us AS grid_us,
           CASE WHEN tn = tp THEN round(vp, 9)
                ELSE {i9} END
             AS interp_value
    FROM f
    WHERE grid_last = 1 AND vp IS NOT NULL AND vn IS NOT NULL
    """.format(i9=_R9(
        'CAST(CAST(vp AS DECIMAL(20,3)) * 1000 AS HUGEINT) * (tn - tp)'
        ' + (CAST(CAST(vn AS DECIMAL(20,3)) * 1000 AS HUGEINT)'
        '    - CAST(CAST(vp AS DECIMAL(20,3)) * 1000 AS HUGEINT))'
        '   * (t_us - tp)',
        'CAST(tn - tp AS HUGEINT) * 1000')),
    doc=(
        "Linear-interpolation resampling of an irregular series onto "
        "an hourly grid (the step LOCF/q131 can't do: values BETWEEN "
        "observations). Union the observations with the per-key grid "
        "points, then one window pass per direction - last IGNORE "
        "NULLS looking back, and the SAME running frame over the "
        "REVERSED order looking forward (Spark's unbounded-following "
        "frame rescans to partition end per row, O(n^2); the reverse "
        "running frame covers the identical current..following row "
        "set in O(n) - 43s -> 1.2s at sf0.1) - gives each grid point "
        "its bracketing observations with NO range join (a grid x "
        "segments theta-join would be O(grid*n) without an interval "
        "index; the union+window is the asof.py trick twice). Tie "
        "order (t, "
        "obs-before-grid, event_id) is total, so an observation "
        "exactly on a grid point resolves to itself (factor 0). "
        "Interp arithmetic is one shared double expression over exact "
        "integer micros - engine-identical."
    ),
)
def q191_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    step = 3_600_000_000
    obs = ev.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.col("value").cast("double").alias("v"),
        F.lit(0).alias("grid_last"),
    )
    bounds = obs.groupBy("event_type").agg(
        (((F.min("t_us") + (step - 1)) / step).cast("bigint") * step).alias("t0"),
        ((F.max("t_us") / step).cast("bigint") * step).alias("t1"),
    )
    grid = (
        bounds.filter(F.col("t0") <= F.col("t1"))
        .select(
            "event_type",
            F.explode(F.sequence("t0", "t1", F.lit(step))).alias("t_us"),
        )
        .select(
            "event_type", "t_us",
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("double").alias("v"),
            F.lit(1).alias("grid_last"),
        )
    )
    u = obs.unionByName(grid)
    # Both directions as RUNNING frames: Spark's unbounded-FOLLOWING
    # frame with first(ignorenulls) rescans current-row→partition-end
    # per row (O(n²) per key — measured 43 s vs 3 s at sf0.1); the
    # reverse-ordered running last() is the same row set
    # (current..following) in O(n).
    fwd = [F.col("t_us"), F.col("grid_last"), F.col("event_id").asc_nulls_last()]
    rev = [
        F.col("t_us").desc(),
        F.col("grid_last").desc(),
        F.col("event_id").desc_nulls_first(),
    ]
    wp = (
        Window.partitionBy("event_type").orderBy(*fwd)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type").orderBy(*rev)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t_obs = F.when(F.col("v").isNotNull(), F.col("t_us"))
    f = u.select(
        "event_type", "t_us", "grid_last",
        F.last("v", ignorenulls=True).over(wp).alias("vp"),
        F.last(t_obs, ignorenulls=True).over(wp).alias("tp"),
        F.last("v", ignorenulls=True).over(wn).alias("vn"),
        F.last(t_obs, ignorenulls=True).over(wn).alias("tn"),
    )
    return (
        f.filter(
            (F.col("grid_last") == 1)
            & F.col("vp").isNotNull()
            & F.col("vn").isNotNull()
        )
        .select(
            "event_type",
            F.col("t_us").alias("grid_us"),
            # exact rational rounding (r16): the interpolation is
            # [vp_m*(tn-tp) + (vn_m-vp_m)*(t-tp)] / [1000*(tn-tp)]
            # over integer millis/micros — and second-grid gaps make
            # the denominator 2-5-rich, so the 9-dp half boundary is
            # genuinely reachable here (the q88/q183 class).
            F.when(
                F.col("tn") == F.col("tp"), F.round(F.col("vp"), 9)
            ).otherwise(round9_exact(
                "CAST(CAST(vp AS DECIMAL(20,3)) * 1000 AS DECIMAL(38,0))"
                " * (tn - tp)"
                " + (CAST(CAST(vn AS DECIMAL(20,3)) * 1000 AS DECIMAL(38,0))"
                "    - CAST(CAST(vp AS DECIMAL(20,3)) * 1000"
                "           AS DECIMAL(38,0)))"
                "   * (t_us - tp)",
                "CAST(tn - tp AS DECIMAL(38,0)) * 1000",
            )).alias("interp_value"),
        )
    )


@register(
    "q193_deterministic_sample",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY md5(CAST(o_orderkey AS VARCHAR)),
                                         o_orderkey) AS rn
      FROM orders)
    SELECT o_orderpriority, o_orderkey, CAST(rn AS INTEGER) AS rn
    FROM r WHERE rn <= 5
    """,
    doc=(
        "Deterministic per-group sampling: 5 orders per priority by "
        "md5-hash rank - the reproducible alternative to RAND() "
        "sampling (same rows on every run, every engine, any "
        "partitioning; append-stable for rows that stay). A hash "
        "order is a uniform order, so this IS a uniform sample, and "
        "WindowGroupLimit pushes the per-group limit below the "
        "shuffle - no global sort, no driver collect. The md5 rank "
        "replays exactly in DuckDB (fixed-width lowercase hex)."
    ),
)
def q193_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        orders.select(
            "o_orderpriority", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", F.col("rn").cast("int").alias("rn"))
    )


@register(
    "q194_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2),
    r AS (
      SELECT l_returnflag, qty, n,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, qty) AS rn
      FROM c)
    SELECT l_returnflag, qty AS mode_qty, n AS mode_count FROM r WHERE rn = 1
    """,
    doc=(
        "Deterministic per-group mode (most frequent value, smallest "
        "value on ties). Built-in mode() is tie-nondeterministic in "
        "both engines, so the operator is count-aggregate + argmax "
        "window with a TOTAL tie order (n DESC, value) - exact, "
        "engine-identical, and two shuffles (value count, then "
        "WindowGroupLimit argmax over group-count-sized input)."
    ),
)
def q194_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("qty")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), "qty")
    return (
        c.select("l_returnflag", "qty", "n", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("qty").alias("mode_qty"),
            F.col("n").alias("mode_count"),
        )
    )


@register(
    "q196_rfm_segmentation",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
    rfm AS (
      SELECT o.o_custkey AS custkey,
             date_diff('day', MAX(CAST(o.o_orderdate AS DATE)), mx.d0) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,2))) * 100 AS BIGINT)
               AS monetary_cents
      FROM orders o, mx GROUP BY o.o_custkey, mx.d0),
    scored AS (
      SELECT custkey, recency_days, frequency, monetary_cents,
             ntile(5) OVER (ORDER BY recency_days, custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, custkey) AS m_score
      FROM rfm)
    SELECT CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS sum_monetary_cents
    FROM scored GROUP BY 1, 2, 3
    """,
    doc=(
        "RFM customer segmentation (recency / frequency / monetary "
        "quintiles) - the classic BI cohorting operator: one orders "
        "aggregate per customer, three ntile(5) windows with TOTAL "
        "tie orders (metric, custkey - bare ntile over ties is "
        "engine-nondeterministic), then the segment-level rollup. "
        "ENTIRELY integer: monetary is exact cents via DECIMAL(20,2) "
        "and the segment metric is the exact cents SUM - an "
        "avg-of-double here is magnitude ~1e11, where 6 decimals "
        "exceed IEEE double's 17 significant digits and partial-"
        "aggregation order flips the rounded value (caught by the "
        "sf0.1 sweep); callers divide client-side. r17: the three "
        "ntile(5) windows are computed as ONE exact two-phase rank "
        "over the MELTED (metric, value) table — desc metrics negate "
        "(exact for ints), one approx-quantile boundary pass grouped "
        "by metric, one bin-count pass, one row_number window "
        "partitioned by (metric, bin) — identical quintiles via the "
        "closed-form ntile bucket math with no single-partition sort "
        "of the customer-grain table at any scale; the melt chains on "
        "an in-query cache of the per-customer aggregate (the q160 "
        "iv.cache() pattern) so orders is scanned once."
    ),
)
def q196_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    mx = F.broadcast(
        orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("d0"))
    )
    rfm = (
        orders.crossJoin(mx)
        .groupBy("o_custkey", "d0")
        .agg(
            F.datediff(F.first("d0"), F.max(F.col("o_orderdate").cast("date")))
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            (F.sum(F.col("o_totalprice").cast("decimal(20,2)")) * 100)
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "recency_days", "frequency", "monetary_cents",
        )
    )
    # ONE exact two-phase rank over the MELTED (metric, value) table
    # instead of three independent global-window sorts: metric 1 =
    # recency asc, 2/3 = frequency/monetary desc via integer negation
    # (exact; every metric is a non-null bigint-safe int).  Each rank
    # is per-(metric, bin) — parallel across bins at any scale — and
    # the cache keeps the orders scan single (the melt + boundary agg
    # + bin counts + the monetary carrier all re-read the 1-exchange
    # customer aggregate).  Ntile comes from the exact global rank via
    # the closed-form bucket math (_ntile_from_rank).
    rfm = rfm.cache()
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext; modest default
        par = 64
    nb = max(2, min(int(par), 256))
    pcts = [i / nb for i in range(1, nb)]
    melted = rfm.select(
        "custkey",
        F.expr(
            "stack(3, 1, CAST(recency_days AS BIGINT), "
            "2, -CAST(frequency AS BIGINT), "
            "3, -monetary_cents) AS (_m, _v)"
        ),
    )
    # ONE 1-row stats pass straight off the cached rfm — all three
    # boundary arrays + n in a single aggregate, no melted groupBy
    # shuffle.  accuracy=100: boundary error moves only bin balance,
    # never output.
    stats = rfm.agg(
        F.percentile_approx(F.col("recency_days").cast("bigint"), pcts, 100)
        .alias("_bs1"),
        F.percentile_approx(-F.col("frequency").cast("bigint"), pcts, 100)
        .alias("_bs2"),
        F.percentile_approx(-F.col("monetary_cents"), pcts, 100).alias("_bs3"),
        F.count(F.lit(1)).alias("_n"),
    )
    v = F.col("_v")
    bs = (
        F.when(F.col("_m") == 1, F.col("_bs1"))
        .when(F.col("_m") == 2, F.col("_bs2"))
        .otherwise(F.col("_bs3"))
    )
    pre = (
        melted.crossJoin(F.broadcast(stats))
        .withColumn("_bin", F.size(F.filter(bs, lambda b: b < v)))
        .drop("_bs1", "_bs2", "_bs3")
    )
    # REPARTITION_BY_COL keeps the per-(metric, bin) window parallel
    # (AQE coalesces ENSURE_REQUIREMENTS exchanges to 1 partition at
    # small inputs — see _two_phase_rank)
    binned = pre.repartition(F.col("_m"), F.col("_bin"))
    # bin counts off the PRE-repartition frame: partial-aggregated
    # map-side below the explicit exchange (<= 3*nb rows shuffled)
    # instead of riding the full melted frame through it (guide §2.3)
    bincnt = pre.groupBy("_m", "_bin").agg(F.count(F.lit(1)).alias("_bc"))
    # offsets window: partitioned by metric, over the bin-count table
    # (<= 3 * 256 rows), never the input
    woff = (
        Window.partitionBy("_m").orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bincnt.select(
        "_m", "_bin",
        F.coalesce(F.sum("_bc").over(woff), F.lit(0)).alias("_off"),
    )
    wbin = Window.partitionBy("_m", "_bin").orderBy("_v", "custkey")
    ranked = (
        binned.join(F.broadcast(offs), ["_m", "_bin"])
        .withColumn(
            "_rank", (F.col("_off") + F.row_number().over(wbin)).cast("bigint")
        )
    )
    # no join back to rfm: the metric-3 melted value IS -monetary_cents,
    # so the per-customer regroup recovers it for free (one shuffle saved)
    scored = (
        ranked.select(
            "custkey", "_m", "_v", _ntile_from_rank("_rank", "_n", 5).alias("_s")
        )
        .groupBy("custkey")
        .agg(
            F.max(F.when(F.col("_m") == 1, F.col("_s"))).alias("r_score"),
            F.max(F.when(F.col("_m") == 2, F.col("_s"))).alias("f_score"),
            F.max(F.when(F.col("_m") == 3, F.col("_s"))).alias("m_score"),
            F.max(F.when(F.col("_m") == 3, -F.col("_v"))).alias("monetary_cents"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").cast("bigint").alias("sum_monetary_cents"),
    ).select(
        F.col("r_score").cast("int"), F.col("f_score").cast("int"),
        F.col("m_score").cast("int"), "n_customers", "sum_monetary_cents",
    )


@register(
    "q198_pps_systematic_sample",
    oracle="""
    WITH w AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS w_cents
      FROM orders),
    c AS (
      SELECT o_orderkey, w_cents,
             SUM(w_cents) OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)),
                                         o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum_hi
      FROM w),
    tot AS (SELECT SUM(w_cents) AS big_w FROM w),
    p AS (
      SELECT o_orderkey, w_cents,
             (2000 * cum_hi + big_w - 1) // (2 * big_w)
               - (2000 * (cum_hi - w_cents) + big_w - 1) // (2 * big_w)
               AS picks
      FROM c, tot)
    SELECT o_orderkey, w_cents, CAST(picks AS BIGINT) AS picks
    FROM p WHERE picks >= 1
    """,
    doc=(
        "Weighted sampling: systematic PPS (probability proportional "
        "to size) - k=1000 evenly spaced pointers p_j=(2j+1)W/2k over "
        "the cumulative-weight line in a deterministic md5-shuffled "
        "order; a row is drawn once per pointer inside its weight "
        "interval (heavy rows can draw >1 - the textbook PPS-with-"
        "replacement contract). ENTIRELY integer: weights are exact "
        "cents via DECIMAL(12,2), the pointer count per interval is "
        "the closed form floor((2k*cum+W-1)/2W) differenced at the "
        "interval ends - no ln/pow race keys (Efraimidis-Spirakis "
        "needs u^(1/w), transcendental = cross-engine hash risk), no "
        "doubles anywhere, so the sample is bit-reproducible on any "
        "engine. r17: the cumulative sum is the promised two-level "
        "prefix sum — rows bin by the TOP BITS of the first 15 hex "
        "chars of the md5 sort key (fixed-width lowercase hex "
        "compares identically as string and as number, so the prefix "
        "value is a monotone coarsening of the order and bins are "
        "contiguous runs; md5 is uniform, so fixed-width bins are "
        "balanced with no boundary pass), exact per-bin running sums "
        "in parallel, plus broadcast cumulative bin-total offsets — "
        "no single-partition sort of orders at any scale, and the "
        "grand total W rides along from the <=256-row bin-total "
        "table. At 100 TB also promote the products to DECIMAL(38,0) "
        "(2k*W exceeds int64 near W~5e15); the pointer algebra is "
        "unchanged. Complements q193 (uniform per-group) with the "
        "weight-aware draw a quality-weighted corpus mix needs."
    ),
)
def q198_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    k2 = 2000  # 2k, k = 1000 pointers
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext; modest default
        par = 64
    kb = max(1, min(int(par).bit_length() - 1, 8))  # 2^kb bins, <= 256
    pre = orders.select(
        "o_orderkey",
        F.md5(F.col("o_orderkey").cast("string")).alias("_h"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("w_cents"),
    ).withColumn(
        # first 15 hex chars as a 60-bit int: a monotone coarsening of
        # the (_h, o_orderkey) sort key, so its top kb bits are
        # contiguous runs of the global order and ties never split;
        # md5 is uniform, so these FIXED-WIDTH bins are balanced
        # without any boundary pass (vs q132's data-dependent values,
        # which need the approx-quantile phase)
        "_bin",
        F.shiftright(
            F.conv(F.substring("_h", 1, 15), 16, 10).cast("bigint"), 60 - kb
        ),
    )
    # REPARTITION_BY_COL keeps the per-bin running-sum window parallel
    # (AQE coalesces ENSURE_REQUIREMENTS exchanges to 1 partition at
    # small inputs — see _two_phase_rank)
    binned = pre.repartition(F.col("_bin"))
    # bin totals off the PRE-repartition frame: partial-aggregated
    # map-side below the explicit exchange (<= 2^kb rows shuffled)
    # instead of riding the full orders projection through it
    # (guide §2.3 "aggregate before you shuffle")
    bintot = pre.groupBy("_bin").agg(F.sum("w_cents").alias("_bt"))
    # the offsets windows ARE unpartitioned — over the bin-total table,
    # whose size is the bin cap (<= 256 rows), not the input; the
    # all-rows frame also yields the grand total W with no extra pass
    woff = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = bintot.select(
        "_bin",
        F.coalesce(F.sum("_bt").over(woff), F.lit(0)).alias("_off"),
        F.sum("_bt").over(wall).alias("big_w"),
    )
    wbin = (
        Window.partitionBy("_bin")
        .orderBy("_h", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = binned.join(F.broadcast(offs), "_bin").select(
        "o_orderkey", "w_cents", "big_w",
        (F.col("_off") + F.sum("w_cents").over(wbin)).alias("cum_hi"),
    )
    g_hi = F.expr(f"({k2} * cum_hi + big_w - 1) div (2 * big_w)")
    g_lo = F.expr(f"({k2} * (cum_hi - w_cents) + big_w - 1) div (2 * big_w)")
    return (
        c.select("o_orderkey", "w_cents", (g_hi - g_lo).alias("picks"))
        .filter(F.col("picks") >= 1)
    )


@register(
    "q199_k_anonymity_ladder",
    oracle="""
    WITH q AS (
      SELECT c_custkey, c_nationkey AS nat, c_mktsegment AS seg,
             CAST(floor(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT) AS b0,
             CAST(floor(CAST(c_acctbal AS DECIMAL(12,2)) / 4000) AS BIGINT) AS b1
      FROM customer),
    n0 AS (SELECT nat, seg, b0, COUNT(*) AS n FROM q GROUP BY 1, 2, 3),
    n1 AS (SELECT nat, seg, b1, COUNT(*) AS n FROM q GROUP BY 1, 2, 3),
    n2 AS (SELECT nat, seg, COUNT(*) AS n FROM q GROUP BY 1, 2),
    lv AS (
      SELECT q.c_custkey,
             CASE WHEN n0.n >= 10 THEN 0 WHEN n1.n >= 10 THEN 1
                  WHEN n2.n >= 10 THEN 2 ELSE 3 END AS level,
             CASE WHEN n0.n >= 10
                    THEN CAST(q.nat AS VARCHAR) || '|' || q.seg || '|' ||
                         CAST(q.b0 AS VARCHAR)
                  WHEN n1.n >= 10
                    THEN CAST(q.nat AS VARCHAR) || '|' || q.seg || '|~' ||
                         CAST(q.b1 AS VARCHAR)
                  WHEN n2.n >= 10
                    THEN CAST(q.nat AS VARCHAR) || '|' || q.seg || '|*'
                  ELSE NULL END AS cls
      FROM q
      JOIN n0 ON n0.nat = q.nat AND n0.seg = q.seg AND n0.b0 = q.b0
      JOIN n1 ON n1.nat = q.nat AND n1.seg = q.seg AND n1.b1 = q.b1
      JOIN n2 ON n2.nat = q.nat AND n2.seg = q.seg)
    SELECT level,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(DISTINCT cls) AS BIGINT) AS n_classes
    FROM lv GROUP BY level
    """,
    doc=(
        "k-anonymity audit with a local-recoding generalization "
        "ladder (k=10) - the privacy gate a training-data release "
        "pipeline runs over quasi-identifiers (nation, segment, "
        "account-balance bucket): each record publishes at the "
        "FINEST generalization level whose equivalence class reaches "
        "k (L0 $1000 buckets -> L1 $4000 buckets -> L2 balance "
        "suppressed -> else fully suppressed), reporting records and "
        "distinct classes per level. ONE grouped count on the finest "
        "QI key (the only fact shuffle, cached at its domain-bounded "
        "grain); the coarser levels ROLL UP from it (r11 - the "
        "buckets nest, floor(bal/4000) = floor(b0/4) by the nested-"
        "floor identity, so the rollups shuffle the count table, not "
        "the fact) and all three join back per record - the lattice "
        "walk is CASE over pre-joined counts, never an iterative "
        "per-record loop; bucket ids come from exact DECIMAL cents "
        "so the floor is engine-identical (floor of a double "
        "quotient near a bucket edge is not). At 100 TB the count "
        "tables are orders smaller than the fact and broadcast; "
        "finer ladders just add rollup levels."
    ),
)
def q199_k_anonymity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal").cast("decimal(12,2)") / 1000)
        .cast("bigint")
        .alias("b0"),
        F.floor(F.col("c_acctbal").cast("decimal(12,2)") / 4000)
        .cast("bigint")
        .alias("b1"),
    )
    # The finest QI count table is cached — domain-bounded grain
    # (nation × segment × $1000-bucket, the cache-grain rule's
    # "distinct vocab" class) with THREE consumers below.
    n0 = (
        q.groupBy("nat", "seg", "b0")
        .agg(F.count(F.lit(1)).alias("n0"))
        .cache()
    )
    # Coarser ladder levels ROLL UP from the finest count table rather
    # than re-aggregating the fact (r11, plan-budget audit: 2 fewer
    # fact scans + shuffles — the rollups shuffle the bounded QI-count
    # table instead).  Exact because the buckets nest: b1 =
    # floor(bal/4000) = floor(b0/4) by the nested-floor identity
    # floor(floor(x/m)/n) = floor(x/(m*n)), valid for negatives too.
    n1 = (
        n0.groupBy("nat", "seg", F.floor(F.col("b0") / 4).alias("b1"))
        .agg(F.sum("n0").alias("n1"))
    )
    n2 = n0.groupBy("nat", "seg").agg(F.sum("n0").alias("n2"))
    nat_s = F.col("nat").cast("string")
    lv = (
        q.join(F.broadcast(n0), ["nat", "seg", "b0"])
        .join(F.broadcast(n1), ["nat", "seg", "b1"])
        .join(F.broadcast(n2), ["nat", "seg"])
        .select(
            "c_custkey",
            F.when(F.col("n0") >= 10, F.lit(0))
            .when(F.col("n1") >= 10, F.lit(1))
            .when(F.col("n2") >= 10, F.lit(2))
            .otherwise(F.lit(3))
            .alias("level"),
            F.when(
                F.col("n0") >= 10,
                F.concat_ws("|", nat_s, F.col("seg"), F.col("b0").cast("string")),
            )
            .when(
                F.col("n1") >= 10,
                F.concat(nat_s, F.lit("|"), F.col("seg"), F.lit("|~"),
                         F.col("b1").cast("string")),
            )
            .when(
                F.col("n2") >= 10,
                F.concat(nat_s, F.lit("|"), F.col("seg"), F.lit("|*")),
            )
            .alias("cls"),
        )
    )
    return lv.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("cls").alias("n_classes"),
    )


@register(
    "q201_merge_upsert",
    oracle="""
    WITH t AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
      FROM customer),
    s AS (
      SELECT o_custkey AS k,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
               % 100000 - 50000 AS delta
      FROM orders GROUP BY o_custkey),
    src AS (
      SELECT k, delta FROM s
      UNION ALL
      SELECT k + 1000000000 AS k, ABS(delta) AS delta FROM s WHERE k % 7 = 0),
    m AS (
      SELECT COALESCE(t.k, src.k) AS custkey,
             CASE WHEN t.k IS NULL THEN 'insert'
                  WHEN src.k IS NULL THEN 'keep'
                  WHEN src.delta > 40000 THEN 'delete'
                  ELSE 'update' END AS action,
             CASE WHEN t.k IS NULL THEN src.delta
                  WHEN src.k IS NULL THEN t.bal
                  ELSE t.bal + src.delta END AS bal,
             COALESCE(t.seg, 'NEW') AS seg
      FROM t FULL OUTER JOIN src ON src.k = t.k)
    SELECT action, seg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN action = 'delete' THEN 0 ELSE bal END) AS BIGINT)
             AS surviving_bal_cents,
           CAST(MIN(custkey) AS BIGINT) AS min_key,
           CAST(MAX(custkey) AS BIGINT) AS max_key
    FROM m GROUP BY action, seg
    """,
    doc=(
        "Batch MERGE / upsert semantics (UPDATE on match, INSERT on "
        "no-match, conditional DELETE) - the warehouse MERGE INTO "
        "statement, which OSS Spark-on-parquet has no SQL verb for, "
        "expressed Spark-first as ONE full-outer join + CASE action "
        "routing (the same plan Delta/Iceberg MERGE lowers to): "
        "target = customers, source = per-customer order deltas plus "
        "a key-shifted insert stream, matched rows with delta above "
        "the threshold deleted. Everything integer cents (DECIMAL "
        "cast, bigint modulus) so the merged balances hash exactly; "
        "output is the per-(action, segment) audit a MERGE emits as "
        "its operation metrics, with surviving balance mass proving "
        "row-level arithmetic. Scale: the join shuffles both sides "
        "by key once - same cost as the update itself; at 100 TB the "
        "source side is usually orders smaller and hash-partitions "
        "against bucketed target files, and the anti-join 'keep' arm "
        "never rewrites untouched partitions (dynamic partition "
        "overwrite)."
    ),
)
def q201_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    t = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("bal"),
    )
    # customer-grain aggregate feeds BOTH union arms — cache it so
    # orders is scanned once, not once per arm.
    s = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            % 100000
            - 50000
        ).alias("delta")
    ).cache()
    src = s.unionByName(
        s.filter(F.col("k") % 7 == 0).select(
            (F.col("k") + 1000000000).alias("k"), F.abs("delta").alias("delta")
        )
    )
    tk, sk = t["k"], src["k"]
    m = t.join(src, tk == sk, "full_outer").select(
        F.coalesce(tk, sk).alias("custkey"),
        F.when(tk.isNull(), F.lit("insert"))
        .when(sk.isNull(), F.lit("keep"))
        .when(F.col("delta") > 40000, F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("action"),
        F.when(tk.isNull(), F.col("delta"))
        .when(sk.isNull(), F.col("bal"))
        .otherwise(F.col("bal") + F.col("delta"))
        .alias("bal"),
        F.coalesce(F.col("seg"), F.lit("NEW")).alias("seg"),
    )
    return m.groupBy("action", "seg").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("action") == "delete", 0).otherwise(F.col("bal")))
        .cast("bigint")
        .alias("surviving_bal_cents"),
        F.min("custkey").alias("min_key"),
        F.max("custkey").alias("max_key"),
    )


@register(
    "q203_rolling_mau",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    mx AS (SELECT MAX(CAST(ts AS DATE)) AS md FROM events),
    contrib AS (
      SELECT a.user_id, a.d + CAST(o AS INTEGER) AS target
      FROM act a, unnest(range(0, 7)) AS t(o), mx
      WHERE a.d + CAST(o AS INTEGER) <= mx.md),
    mau AS (
      SELECT target, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM contrib GROUP BY target),
    evd AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY d),
    rev AS (
      SELECT e.d + CAST(o AS INTEGER) AS target,
             CAST(SUM(e.n) AS BIGINT) AS n_events_7d
      FROM evd e, unnest(range(0, 7)) AS t(o), mx
      WHERE e.d + CAST(o AS INTEGER) <= mx.md GROUP BY 1)
    SELECT CAST(m.target AS VARCHAR) AS day, m.mau, r.n_events_7d
    FROM mau m JOIN rev r ON r.target = m.target
    """,
    doc=(
        "Exact 7-day rolling MAU (distinct active users per trailing "
        "window) + rolling event volume - the product-analytics "
        "headline metric, and the operator where the naive "
        "formulation dies at scale: a per-day RANGE window cannot do "
        "COUNT(DISTINCT), and re-scanning a 7-day slice per day reads "
        "the fact 7 times. The scale recipe: collapse to the "
        "(user, day) activity grain FIRST (map-side-combinable "
        "distinct - the only corpus-sized shuffle), then each "
        "activity row contributes to exactly 7 target days via a "
        "BOUNDED explode, and the per-target distinct count runs "
        "over window-sized groups. Fan-out is 7x the activity grain "
        "(users x days), never 7x raw events. Rolling event totals "
        "ride the same explode on the per-day count table (tiny). "
        "The q151 HLL sketch index is this operator's mergeable "
        "approximate form; day emitted as STRING (the DATE fetch-path "
        "rule)."
    ),
)
def q203_rolling_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    o = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o")
    # r11 (plan-budget audit): events is scanned exactly TWICE (the
    # two irreducible grains — distinct activity and per-day volume);
    # the old max-date bound cost two more fact scans plus two
    # nested-loop cross-joins.  The bound now rides a global window
    # over the per-day count table (days-sized, single partition by
    # construction — same cardinality the broadcast carried), and the
    # MAU side needs no bound at all: its only over-the-edge targets
    # (the ≤6 days past the last event day) are discarded by the final
    # inner join against the bounded rev side, so the filter was
    # redundant work at fact-activity grain.
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    mau = (
        act.select("user_id", "d", o)
        .select("user_id", F.date_add("d", F.col("o")).alias("target"))
        .groupBy("target")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    evd = ev.groupBy(F.to_date("ts").alias("d")).agg(F.count(F.lit(1)).alias("n"))
    rev = (
        evd.withColumn("md", F.max("d").over(Window.partitionBy()))
        .select("d", "n", "md", o)
        .select(F.date_add("d", F.col("o")).alias("target"), "n", "md")
        .filter(F.col("target") <= F.col("md"))
        .groupBy("target")
        .agg(F.sum("n").alias("n_events_7d"))
    )
    return mau.join(rev, "target").select(
        F.col("target").cast("string").alias("day"),
        "mau",
        F.col("n_events_7d").cast("bigint"),
    )


# Shared polygon literals for q204 (10^6 lattice, same coordinate
# space as q167's md5 point positions): a triangle, a convex quad,
# and a concave 5-gon.  Single source of truth — the Spark frame and
# the DuckDB VALUES list are both generated from this dict.
_Q204_POLYS: dict[int, list[tuple[int, int]]] = {
    1: [(100_000, 100_000), (400_000, 120_000), (250_000, 450_000)],
    2: [(500_000, 500_000), (900_000, 520_000), (880_000, 900_000),
        (520_000, 880_000)],
    3: [(50_000, 600_000), (300_000, 620_000), (120_000, 700_000),
        (280_000, 850_000), (60_000, 870_000)],
}

_Q204_VALUES = ", ".join(
    "({}, [{}])".format(
        pid, ", ".join("{{'x': {}, 'y': {}}}".format(x, y) for x, y in vs)
    )
    for pid, vs in _Q204_POLYS.items()
)


@register(
    "q204_point_in_polygon",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey,
             ('0x' || substr(md5('lat|' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS px,
             ('0x' || substr(md5('lon|' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS py
      FROM customer),
    polys AS (SELECT * FROM (VALUES {_Q204_VALUES}) AS p(pid, poly)),
    tested AS (
      SELECT pts.c_custkey, polys.pid,
             list_sum(list_transform(range(1, len(poly) + 1), i ->
               CASE WHEN ((poly[i].y > py) <> (poly[(i % len(poly)) + 1].y > py))
                     AND (CASE WHEN poly[(i % len(poly)) + 1].y > poly[i].y
                          THEN (px - poly[i].x)
                                 * (poly[(i % len(poly)) + 1].y - poly[i].y)
                               - (poly[(i % len(poly)) + 1].x - poly[i].x)
                                 * (py - poly[i].y) < 0
                          ELSE (px - poly[i].x)
                                 * (poly[(i % len(poly)) + 1].y - poly[i].y)
                               - (poly[(i % len(poly)) + 1].x - poly[i].x)
                                 * (py - poly[i].y) > 0 END)
                    THEN 1 ELSE 0 END)) AS crossings
      FROM pts, polys)
    SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_inside,
           CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           CAST(MAX(c_custkey) AS BIGINT) AS max_cust
    FROM tested WHERE crossings % 2 = 1
    GROUP BY pid
    """,
    doc=(
        "Point-in-polygon containment join (ray casting) - the "
        "spatial-join family's polygon member beside q167's radius "
        "join: customers on the md5 lattice tested against three "
        "literal polygons (concave included - bounding boxes and "
        "convexity shortcuts don't survive real geofences). The "
        "crossing test is ENTIRELY int64: the x-intersection compare "
        "is cross-multiplied by the edge's dy with the sign handled "
        "by CASE, so no division, no floats, no epsilon - identical "
        "on every engine, any boundary semantics moot. Per point the "
        "HOF edge fold runs in whole-stage codegen; polygons "
        "broadcast (they always fit - a geofence table is KBs), so "
        "the plan is scan -> broadcast nested loop over |polys| -> "
        "partial-agg count: no shuffle of the point set at all. At "
        "100 TB with many polygons, q167's grid cells prune "
        "candidates first (cell id from the polygon bbox), then this "
        "exact test runs per surviving pair - the standard "
        "filter-refine decomposition."
    ),
)
def q204_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.dedup import _md5_h60

    cust = load_table(spark, sf_dir, "customer")

    def coord(tag, key):
        return _md5_h60(F.md5(F.concat(F.lit(tag), key.cast("string")))) % 1_000_000

    pts = cust.select(
        "c_custkey",
        coord("lat|", F.col("c_custkey")).alias("px"),
        coord("lon|", F.col("c_custkey")).alias("py"),
    )
    polys = F.broadcast(
        cust.sparkSession.createDataFrame(
            [(pid, vs) for pid, vs in _Q204_POLYS.items()],
            "pid int, poly array<struct<x:bigint,y:bigint>>",
        )
    )
    n = F.size("poly")
    px, py = F.col("px"), F.col("py")

    def edge_crossing(i):
        vi = F.element_at("poly", i)
        vj = F.element_at("poly", (i % n) + 1)
        dy = vj["y"] - vi["y"]
        num = (px - vi["x"]) * dy - (vj["x"] - vi["x"]) * (py - vi["y"])
        straddle = (vi["y"] > py) != (vj["y"] > py)
        cross = straddle & (
            ((dy > 0) & (num < 0)) | ((dy < 0) & (num > 0))
        )
        return F.when(cross, F.lit(1)).otherwise(F.lit(0))

    crossings = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + edge_crossing(i),
    )
    return (
        pts.crossJoin(polys)
        .select("c_custkey", "pid", crossings.alias("crossings"))
        .filter(F.col("crossings") % 2 == 1)
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_inside"),
            F.min("c_custkey").alias("min_cust"),
            F.max("c_custkey").alias("max_cust"),
        )
    )


@register(
    "q205_clamped_running_stock",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CASE WHEN event_type IN ('click', 'view', 'signup')
                  THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                  ELSE -CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
             END AS delta
      FROM events),
    mx AS (SELECT user_id, MAX(rn) AS mrn FROM ev GROUP BY user_id),
    rec AS (
      SELECT user_id, rn,
             GREATEST(0, delta) AS s,
             CASE WHEN delta < 0 THEN 1 ELSE 0 END AS clamps,
             GREATEST(0, delta) AS peak
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             GREATEST(0, r.s + e.delta),
             r.clamps + CASE WHEN r.s + e.delta < 0 THEN 1 ELSE 0 END,
             GREATEST(r.peak, GREATEST(0, r.s + e.delta))
      FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
    SELECT r.user_id,
           CAST(r.s AS BIGINT) AS final_stock_cents,
           CAST(r.peak AS BIGINT) AS peak_stock_cents,
           CAST(r.clamps AS BIGINT) AS n_clamps
    FROM rec r JOIN mx ON mx.user_id = r.user_id AND mx.mrn = r.rn
    """,
    doc=(
        "Clamped running total (inventory floor-at-zero): "
        "s_i = max(0, s_{i-1} + delta_i) per user over the event "
        "stream. The clamp looks like it defeats window frames (each "
        "prefix depends on every earlier clamp decision; running-sum-"
        "then-greatest is wrong the moment any prefix dips below "
        "zero) — but the zero-floor fold has a closed form over "
        "prefix sums, s_i = P_i - min(0, min_{j<=i} P_j), so the "
        "registered plan is pure whole-stage-codegen window frames: "
        "one shuffle by key, one sort, no Python (operators/"
        "grouped.py clamped_running_stock_window, with the derivation "
        "in its docstring). The sequential applyInPandas fold — the "
        "escape-hatch shape for recurrences with NO such identity, "
        "e.g. two-sided clamps — is kept as the literal-definition "
        "twin and asserted equivalent in tests/test_query_extras.py; "
        "the DuckDB oracle replays the recursion as a RECURSIVE CTE, "
        "a third independent derivation under the same exact hash. "
        "Deltas are exact integer cents (DECIMAL cast); clicks/views/"
        "signups stock up, purchases/errors draw down. At 100 TB the "
        "window plan partitions by key and sorts within partitions - "
        "no per-group materialization at all."
    ),
)
def q205_clamped_running_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.grouped import (
        clamped_running_stock_window,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.when(
            F.col("event_type").isin("click", "view", "signup"),
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"),
        )
        .otherwise(-(F.col("value").cast("decimal(12,2)") * 100).cast("bigint"))
        .alias("delta"),
    )
    return clamped_running_stock_window(ev)

