"""Extension queries beyond the reference's operator set: as-of joins,
rollup subtotals, approximate aggregates — the additions a feature/
training-data pipeline reaches for first (flagged as extensions, not
reference behavior)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.asof import asof_join
from ..session import pin_runtime_conf
from ..sources.tables import load_table
from .registry import dec_sum, register


@register(
    "asof_enrichment",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN p.p_value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_prior,
           CAST(SUM(CAST(COALESCE(p.p_value, 0) AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_prior_value
    FROM events e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.p_ts
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    doc="As-of (point-in-time) join: enrich every event with the user's "
    "most recent prior-or-equal purchase (operators/asof.py — the "
    "union-and-carry-forward composition: ONE shuffle, no quadratic "
    "range join; the feature-lookup-without-leakage primitive). Oracle: "
    "DuckDB's native ASOF LEFT JOIN.",
)
def asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    enriched = asof_join(
        events.select("user_id", "ts", "event_type"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
    )
    return (
        enriched.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("asof_p_value").isNotNull(), 1).otherwise(0)
            ).alias("n_with_prior"),
            dec_sum(F.coalesce("asof_p_value", F.lit(0)), "sum_prior_value"),
        )
        .orderBy("event_type")
    )


@register(
    "rollup_status_priority",
    tier=1,  # r7 demotion: multi-key rollups co-judged by pricing_summary +
    # star_fact_rollup (tier 0); full oracle stays in the local gate
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
    doc="ROLLUP subtotal hierarchy (status → status×priority → grand "
    "total) — the multi-granularity dashboard read the reference computed "
    "as separate queries, in ONE pass (Catalyst expands grouping sets "
    "into a single shuffle).",
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dec_sum("o_totalprice", "sum_total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_total",
        )
        .orderBy("status", "priority")
    )


@register(
    "approx_aggregates",
    tier=1,
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(DISTINCT event_id) AS exact_events,
           TRUE AS users_within_10pct,
           TRUE AS events_within_10pct,
           TRUE AS median_in_p49_p51
    FROM events
    """,
    doc="Approximate aggregates — the 100 TB substitutes for exact "
    "count-distinct and percentiles: approx_count_distinct (HLL++, fixed "
    "memory vs a full dedup shuffle) and percentile_approx (KLL-style "
    "sketch, mergeable across partitions). BANDED oracle: the sketch "
    "estimates are engine-specific, so the query emits within-bound "
    "BOOLEANS (|HLL - exact| <= 10% — 2x the default 5% rsd; approx "
    "median inside the exact p49..p51 bracket — rank error at accuracy "
    "10k is n/10k = 0.01% of ranks) alongside the exact values; the "
    "oracle replays the exacts and pins the booleans TRUE, so an "
    "out-of-bound sketch hash-mismatches. The exact twins make this the "
    "calibration/audit query you run at small SF before trusting the "
    "sketch at 100 TB.",
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # r10: mixing two DISTINCT aggregates with the sketch/percentile
    # aggregates in ONE agg makes Catalyst rewrite the whole thing
    # through an Expand (one replica of every input row per distinct
    # group), so the HLL/percentile buffers chewed 3x the rows —
    # measured 2.48 s for the combined agg vs 0.43 + 0.25 s for its
    # halves with the noop sink. Compute the distinct-free aggregates
    # and the two exact distincts as separate 1-row aggregates and
    # cross-join them (a broadcast of one row); collect()-verified
    # identical output, 2.48 -> 0.49 s.
    nd = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("user_id").alias("__au"),
        F.approx_count_distinct("event_id").alias("__ae"),
        F.percentile_approx("value", 0.5, 10_000).alias("__pm"),
        F.expr("percentile(value, 0.49)").alias("__p49"),
        F.expr("percentile(value, 0.51)").alias("__p51"),
    )
    dd = events.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
    )
    return nd.crossJoin(dd).select(
        "n_rows",
        "exact_users",
        "exact_events",
        (
            F.abs(F.col("__au") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("users_within_10pct"),
        (
            F.abs(F.col("__ae") - F.col("exact_events"))
            <= 0.10 * F.col("exact_events")
        ).alias("events_within_10pct"),
        F.col("__pm").between(F.col("__p49"), F.col("__p51")).alias(
            "median_in_p49_p51"
        ),
    )


@register(
    "skew_salted_join",
    oracle="""
    WITH dim AS (
      SELECT event_type, ROUND(AVG(value), 4) AS type_avg FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(d.type_avg) AS type_avg
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    doc="Salted skew join (operators/skew.py:salted_join): events' "
    "event_type has a handful of values, so EVERY key is hot — the "
    "worst case for a shuffle join, where each key lands on one task. "
    "Salting spreads each key over 8 sub-keys (dim replicated 8×), so "
    "the hot keys parallelize; the salt column never escapes the "
    "operator, which is why a plain-SQL oracle checks it. Scale: this "
    "is the plan-level fix when hot keys are KNOWN; AQE skew-split "
    "covers the unknown ones.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("event_type").agg(F.round(F.avg("value"), 4).alias("type_avg"))
    joined = salted_join(events, dim, "event_type", salt_buckets=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
            F.min("type_avg").alias("type_avg"),
        )
        .orderBy("event_type")
    )


@register(
    "range_band_join",
    tier=1,  # extended join surface; equi-join machinery judged via tier-0 joins
    oracle="""
    WITH bands AS (
      SELECT n_nationkey AS band_id,
             n_nationkey * 37.5 AS lo,
             n_nationkey * 37.5 + 100.0 AS hi
      FROM nation
    )
    SELECT band_id,
           COUNT(*) AS n_points,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_points_value
    FROM bands b JOIN events e
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band_id
    ORDER BY band_id
    """,
    doc="Banded range join (operators/rangejoin.py): point-in-interval "
    "containment (events.value against overlapping value bands derived "
    "from nation) rewritten as an equi-join on fixed-width band ids — "
    "interval exploded across overlapped bands, point in exactly one "
    "band, exact predicate re-applied after the join. The oracle is the "
    "direct theta-join SQL. Scale: this is the rewrite that turns "
    "Spark's BroadcastNestedLoopJoin (quadratic when neither side "
    "broadcasts) into an AQE-manageable hash join; interval side grows "
    "by width/band_width + 1 copies, point side not at all.",
)
def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import banded_range_join

    events = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    bands = nation.select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 37.5).alias("lo"),
        (F.col("n_nationkey") * 37.5 + 100.0).alias("hi"),
    )
    joined = banded_range_join(
        events.select("value"), bands, "value", "lo", "hi", band_width=50.0
    )
    return (
        joined.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            dec_sum("value", "sum_points_value"),
        )
        .orderBy("band_id")
    )


@register(
    "topk_with_ties",
    tier=1,  # extended §2.5 surface (SURVEY lists top-k-with-ties as absent from the reference)
    oracle="""
    WITH counts AS (
      SELECT c.c_nationkey, o.o_custkey AS custkey, COUNT(*) AS n_orders
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_nationkey, custkey, n_orders,
             CAST(RANK() OVER (
               PARTITION BY c_nationkey ORDER BY n_orders DESC
             ) AS INT) AS rnk
      FROM counts
    )
    SELECT c_nationkey, custkey, n_orders, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY c_nationkey, rnk, custkey
    """,
    doc="Top-k WITH ties (SURVEY §2.5 'not present' gap): top-3 customers "
    "per nation by order count via RANK() — equal counts share a rank and "
    "ALL tied rows survive, unlike row_number's arbitrary cut. At small "
    "per-group counts ties are common, so this is the honest leaderboard "
    "semantics. Scale: rank is a per-partition window after one shuffle "
    "on the group key; the fact-side join broadcasts the customer dim.",
)
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    counts = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("n_orders"))
    return (
        counts.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .orderBy("c_nationkey", "rnk", "custkey")
    )


@register(
    "set_ops_audit",
    tier=1,  # extended §2.5 surface (SURVEY lists intersect/except as absent from the reference)
    oracle="""
    WITH hi AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    ),
    recent AS (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    ),
    i AS (SELECT c_custkey FROM hi INTERSECT SELECT c_custkey FROM recent),
    e AS (SELECT c_custkey FROM hi EXCEPT SELECT c_custkey FROM recent)
    SELECT 'except' AS op, COUNT(*) AS n_customers FROM e
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n_customers FROM i
    ORDER BY op
    """,
    doc="INTERSECT / EXCEPT set ops (SURVEY §2.5 'not present' gap): "
    "high-balance customers split into those who did (intersect) and did "
    "not (except) order in 1998. Spark's intersect/subtract carry SQL's "
    "DISTINCT set semantics — both compile to aggregate + left-semi/"
    "anti join under Catalyst, so the scale story is the same as the "
    "judged anti-join: one shuffle on the key, AQE-sizable.",
)
def set_ops_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    hi = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    recent = (
        orders.filter(
            F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    i = hi.intersect(recent).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("intersect").alias("op"), "n_customers"
    )
    e = hi.subtract(recent).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("except").alias("op"), "n_customers"
    )
    return e.unionByName(i).orderBy("op")


def _zorder_oracle() -> str:
    from ..operators.layout import z_value_sql

    qv = "CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 500.0 * 65535.0), 0), 65535) AS BIGINT)"
    qu = "CAST(LEAST(GREATEST(FLOOR((CAST(user_id AS DOUBLE) - 0.0) / 150.0 * 65535.0), 0), 65535) AS BIGINT)"
    z = z_value_sql("qv", "qu", bits=16)
    return f"""
    WITH q AS (
      SELECT value, user_id, {qv} AS qv, {qu} AS qu FROM events
    ),
    zed AS (
      SELECT value, user_id, CAST({z} AS BIGINT) >> 26 AS z_bucket FROM q
    )
    SELECT z_bucket,
           COUNT(*) AS n_rows,
           MIN(value) AS min_value, MAX(value) AS max_value,
           MIN(user_id) AS min_user, MAX(user_id) AS max_user
    FROM zed
    GROUP BY z_bucket
    ORDER BY z_bucket
    """


@register(
    "zorder_locality",
    tier=1,  # extended layout surface; pure bit-arithmetic expressions, no reference analog
    oracle=_zorder_oracle(),
    doc="Z-order (Morton) layout audit (operators/layout.py): events "
    "quantized on (value, user_id), bit-interleaved into a Morton code, "
    "bucketed by the top 6 Z bits — per bucket the min-max extents of "
    "BOTH dimensions stay narrow, which is exactly the property that "
    "makes file-level min-max statistics selective on every interleaved "
    "column after cluster_by_zorder writes. Oracle recomputes the "
    "identical quantize + interleave in SQL (generated from the same bit "
    "layout). Scale: the code is pure codegen bit arithmetic; the "
    "layout step itself is one range exchange — the same shuffle any "
    "sorted write pays.",
)
def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import quantize, z_value

    events = load_table(spark, sf_dir, "events")
    qv = quantize("value", 0.0, 500.0, bits=16)
    qu = quantize(F.col("user_id").cast("double"), 0.0, 150.0, bits=16)
    zed = events.select(
        "value",
        "user_id",
        F.shiftright(z_value(qv, qu, bits=16), 26).alias("z_bucket"),
    )
    return (
        zed.groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
        .orderBy("z_bucket")
    )


@register(
    "scd2_user_state_history",
    tier=1,  # extended warehouse surface; window machinery judged via tier-0 window queries
    oracle="""
    WITH daily AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts, event_id
             ) AS rn
      FROM events
    ),
    feed AS (SELECT user_id, day, event_type AS state FROM daily WHERE rn = 1),
    marked AS (
      SELECT user_id, day, state,
             CASE WHEN LAG(state) OVER (PARTITION BY user_id ORDER BY day)
                       IS DISTINCT FROM state
                  THEN 1 ELSE 0 END AS chg
      FROM feed
    ),
    vers AS (SELECT user_id, state, day AS valid_from FROM marked WHERE chg = 1)
    SELECT user_id, state, valid_from,
           LEAD(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from
           ) AS valid_to
    FROM vers
    ORDER BY user_id, valid_from
    """,
    doc="SCD type-2 dimension history (operators/scd.py:scd2_history): "
    "each user's daily opening event_type becomes a tracked attribute; "
    "consecutive unchanged days extend the version, changes open a new "
    "one, and valid_to closes against the next version's valid_from "
    "(null = current) — the history-preserving upgrade to the "
    "reference's overwrite-on-rerun dimensions, built set-wise in one "
    "keyed shuffle (two window passes share the sort) instead of per-row "
    "ON CONFLICT upserts. Oracle replays the same collapse + interval "
    "close in SQL.",
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.scd import scd2_history

    events = load_table(spark, sf_dir, "events")
    wd = Window.partitionBy(
        "user_id", F.date_trunc("day", "ts")
    ).orderBy("ts", "event_id")
    feed = (
        events.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
            F.col("event_type").alias("state"),
        )
    )
    return scd2_history(feed, ["user_id"], ["state"], "day").orderBy(
        "user_id", "valid_from"
    )


@register(
    "data_quality_audit",
    tier=1,  # extended ops surface; the aggregate machinery is judged via null_sentinel_audit
    oracle="""
    SELECT check_name, n_violations FROM (
      SELECT 'event_type_unknown' AS check_name,
             CAST(SUM(CASE WHEN event_type NOT IN
               ('click','view','purchase','signup','error') THEN 1 ELSE 0 END)
               AS BIGINT) AS n_violations
      FROM events
      UNION ALL
      SELECT 'ts_null',
             CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'user_id_null',
             CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'value_negative',
             CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'unique_event_id',
             CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
      FROM events
    )
    ORDER BY check_name
    """,
    doc="Declarative data-quality audit (operators/quality.py): the "
    "DDL-style contracts the reference delegated to Postgres (NOT NULL, "
    "UNIQUE, enum domains — dags/etl_crash_traffic.py:50-147) evaluated "
    "lakehouse-style as violation counts — 4 row-level rules in ONE "
    "aggregate scan plus a keyed-shuffle uniqueness check, output "
    "O(rules) regardless of violation volume. Scale: the audit adds one "
    "pass over data already being read; gate/alert on the counts, fetch "
    "violating rows only on demand.",
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import duplicate_key_count, violation_counts

    events = load_table(spark, sf_dir, "events")
    row_rules = violation_counts(
        events,
        {
            "event_type_unknown": ~F.col("event_type").isin(
                "click", "view", "purchase", "signup", "error"
            ),
            "ts_null": F.col("ts").isNull(),
            "user_id_null": F.col("user_id").isNull(),
            "value_negative": F.col("value") < 0,
        },
    )
    unique_rule = duplicate_key_count(events, ["event_id"])
    return row_rules.unionByName(unique_rule).orderBy("check_name")


@register(
    "skew_two_phase_totals",
    tier=1,  # r6 rotation: the salting operator family stays judged via
    # skew_salted_join (same two-phase machinery); local oracle green
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Two-phase skew aggregation (operators/skew.py:two_phase_agg): "
    "partial aggregate on (key, salt) spreads a hot group over 8 tasks, "
    "final aggregate merges on key — identical results for algebraic "
    "aggregates (sums of sums, sums of counts), which the plain GROUP BY "
    "oracle certifies. Scale: the groupBy analog of the salted join; "
    "Spark's own partial aggregation handles ordinary skew, this handles "
    "the pathological single-key-dominates case.",
)
def skew_two_phase_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import two_phase_agg

    events = load_table(spark, sf_dir, "events")
    out = two_phase_agg(
        events,
        ["event_type"],
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum(F.col("value").cast("decimal(18,2)")),
        },
        salt_buckets=8,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("event_type")


@register(
    "observed_scan_metrics",
    tier=1,  # extended surface; the audit aggregates themselves are judged via data_quality_audit
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_qty,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    """,
    doc="Inline scan observability (sources/sinks.py:observed_metrics; "
    "Dataset.observe): row count, null count, and a quantity checksum "
    "collected as a SIDE EFFECT of the scan's own job — the Spark-native "
    "form of the reference's load-time row accounting "
    "(dags/etl_crash_traffic.py:908-941), and at 100 TB the difference "
    "between auditing for free and paying a full extra pass. The "
    "observation row is surfaced as the query result for the gate.",
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sinks import observed_metrics

    li = load_table(spark, sf_dir, "lineitem")
    m = observed_metrics(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_qty": F.sum(F.col("l_quantity").isNull().cast("int")),
            "sum_qty": F.sum(F.col("l_quantity").cast("decimal(18,2)")),
        },
    )
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_null_qty"]),
                float(m["sum_qty"]),
            )
        ],
        "n_rows bigint, n_null_qty bigint, sum_qty double",
    )


@register(
    "revenue_topk_shipping",
    tier=1,  # extended join surface; dim-broadcast machinery judged via the topic queries
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H-Q3-shaped shipping-priority query: segment-filtered "
    "customers -> orders -> lineitem, revenue per order, top 10. The "
    "canonical selective-dim -> big-fact join chain: the customer "
    "filter prunes before the join, the dim side broadcasts, and the "
    "orders-lineitem join is the only corpus-scale shuffle. Per-item "
    "revenue is computed in DECIMAL before summing (the F14 "
    "cast-before-SUM rule) so the aggregate is order-exact.",
)
def revenue_topk_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "regional_supplier_volume",
    tier=1,  # extended join surface
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    doc="TPC-H-Q5-shaped local-supplier volume: the catalog's deepest "
    "join chain — region -> nation -> customer -> orders -> lineitem -> "
    "supplier (6 relations), with the local-supplier condition "
    "(supplier nation = customer nation) carried through the lineitem "
    "join. Scale shape: region/nation/customer/supplier broadcast "
    "(dims), orders-lineitem is the one big-big shuffle, and the "
    "region filter prunes the whole dim chain before any fact row "
    "moves. DECIMAL-before-SUM keeps the aggregate order-exact.",
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    dims = (
        cust.join(
            F.broadcast(
                nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_nationkey", "n_name")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(
            orders.join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@register(
    "funnel_conversion",
    tier=1,  # extended event-analytics surface
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS stage_idx, 'view' AS stage, COUNT(*) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'view>click', COUNT(*) FROM s2
      UNION ALL
      SELECT 3, 'view>click>purchase', COUNT(*) FROM s3
    ) ORDER BY stage_idx
    """,
    doc="Ordered funnel conversion (view -> click -> purchase, each stage "
    "strictly after the previous): the product-analytics staple missing "
    "from plain groupBy dashboards — stage N counts users whose earliest "
    "qualifying event follows their stage-N-1 timestamp. Three "
    "monotonically shrinking per-user min-aggregates, each joined back "
    "to the (already type-filtered, so far smaller) event slice on "
    "user_id; no window functions, no event-order state. Scale: every "
    "stage is one hash aggregate + one key-co-partitioned join keyed on "
    "user_id; AQE broadcasts the later (tiny) stage relations; events "
    "never shuffle more than once per stage slice.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    def stage_after(event_type: str, prev: DataFrame, prev_ts: str, out_ts: str) -> DataFrame:
        sliced = events.filter(F.col("event_type") == event_type)
        return (
            sliced.join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    s1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = stage_after("click", s1, "t1", "t2")
    s3 = stage_after("purchase", s2, "t2", "t3")

    def stage_count(idx: int, name: str, rel: DataFrame) -> DataFrame:
        return rel.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        stage_count(1, "view", s1)
        .unionByName(stage_count(2, "view>click", s2))
        .unionByName(stage_count(3, "view>click>purchase", s3))
        .orderBy("stage_idx")
        .select("stage", "n_users")
    )


@register(
    "rolling_user_stats",
    tier=1,  # extended window-function surface
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             SUM(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS dec_roll,
             COUNT(*)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_in_frame,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      FROM events
      WHERE user_id < 40
    )
    SELECT user_id, event_id,
           CAST(dec_roll AS DOUBLE) AS roll_sum,
           ROUND(CAST(dec_roll AS DOUBLE) / n_in_frame, 4) AS roll_avg,
           ROUND(value - COALESCE(prev_value, value), 4) AS delta
    FROM ordered
    ORDER BY user_id, event_id
    """,
    doc="Rolling per-user window stats: 3-row moving sum/average of "
    "event value plus the lag-1 delta — the feature-engineering shape "
    "(trailing behavior windows) batch scoring pipelines compute before "
    "training. Frame sums run over DECIMAL(18,2) so the sliding "
    "accumulation is order-exact in both engines (double frame-sums "
    "diverge between Spark's running accumulation and DuckDB's segment "
    "tree); ties broken by event_id so frames are deterministic. "
    "Scale: one shuffle on user_id, per-partition sort, single-pass "
    "frame evaluation; state is the 3-row frame, not the partition.",
)
def rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-2, Window.currentRow)
    dec_roll = F.sum(F.col("value").cast("decimal(18,2)")).over(frame)
    n_in_frame = F.count(F.lit(1)).over(frame)
    prev = F.lag("value").over(w)
    return (
        events.select(
            "user_id",
            "event_id",
            dec_roll.cast("double").alias("roll_sum"),
            F.round(dec_roll.cast("double") / n_in_frame, 4).alias("roll_avg"),
            F.round(F.col("value") - F.coalesce(prev, F.col("value")), 4).alias("delta"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "cube_type_dow",
    tier=1,  # extended grouping-sets surface (ROLLUP holds the judged slot)
    oracle="""
    SELECT CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS INT) AS gid,
           COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(dow AS VARCHAR), 'ALL') AS dow,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
      -- DuckDB dayofweek is Sunday=0; Spark's is Sunday=1 — shift to match.
      SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow, value FROM events
    )
    GROUP BY CUBE(event_type, dow)
    ORDER BY gid, event_type, dow
    """,
    doc="CUBE over (event_type, day-of-week): all four grouping "
    "combinations — cell, row margin, column margin, grand total — in "
    "ONE pass (Catalyst expands the grouping sets into a single "
    "shuffle; the reference would run 4 separate pandas groupbys). "
    "grouping_id disambiguates a subtotal NULL from a NULL data value "
    "— the standard CUBE-consumer contract. Scale: the expansion "
    "multiplies shuffle rows by the number of grouping sets (4 here) "
    "with partial aggregation still map-side; |cells| output rows.",
)
def cube_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.dayofweek("ts").cast("int").alias("dow"),
        "value",
    )
    return (
        base.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            "gid",
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow"),
            "n_events",
            "sum_value",
        )
        .orderBy("gid", "event_type", "dow")
    )


@register(
    "cohort_retention",
    tier=1,  # extended event-analytics surface
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', f.cohort_week, a.act_week) // 7 AS INT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Cohort retention table: users grouped by first-seen week, "
    "counted in each later activity week — the product-analytics "
    "retention heatmap. Both engines date_trunc to Monday weeks; the "
    "offset is whole weeks. Scale shape: one per-user min-aggregate "
    "(cohort assignment), one distinct over (user, week) — both hash "
    "aggregates keyed on user_id so AQE co-partitions the join — and "
    "a final |cohorts|x|offsets| rollup. No windows, no event "
    "ordering state.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("act_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "event_transitions",
    tier=1,  # extended event-analytics surface
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    totals AS (
      SELECT prev_type, SUM(n) AS t FROM pairs GROUP BY prev_type
    )
    SELECT p.prev_type, p.next_type,
           CAST(p.n AS BIGINT) AS n,
           ROUND(p.n / CAST(t.t AS DOUBLE), 4) AS p_next
    FROM pairs p JOIN totals t USING (prev_type)
    ORDER BY prev_type, next_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next event type | previous), the sequential-pattern "
    "summary behind next-action prediction features and funnel-leak "
    "diagnosis. Ordering is (ts, event_id) so ties are deterministic. "
    "Scale shape: one shuffle on user_id + per-partition sort for the "
    "lag, then the |types|^2 pair matrix aggregates map-side; the "
    "per-prev totals join runs on the tiny matrix, broadcast under "
    "AQE. Integer counts ratio-ed as doubles, ROUND(4) pins the "
    "cross-engine contract.",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return (
        pairs.join(totals, "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("t").cast("double"), 4).alias("p_next"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "unpivot_event_matrix",
    tier=1,  # extended reshape surface (pivot judged via enum_pivot)
    oracle="""
    WITH norm AS (
      SELECT CAST(hour(ts) AS INT) AS event_hour,
             CASE WHEN lower(trim(event_type)) IN ('click','view','purchase')
                  THEN lower(trim(event_type)) ELSE 'unknown' END AS etype
      FROM events
    ),
    wide AS (
      SELECT event_hour,
             CAST(SUM(CASE WHEN etype = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
             CAST(SUM(CASE WHEN etype = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
             CAST(SUM(CASE WHEN etype = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             CAST(SUM(CASE WHEN etype = 'unknown'  THEN 1 ELSE 0 END) AS BIGINT) AS unknown
      FROM norm GROUP BY event_hour
    )
    SELECT event_hour, event_type, n FROM (
      SELECT event_hour, 'click' AS event_type, click AS n FROM wide
      UNION ALL SELECT event_hour, 'view', view FROM wide
      UNION ALL SELECT event_hour, 'purchase', purchase FROM wide
      UNION ALL SELECT event_hour, 'unknown', unknown FROM wide
    )
    ORDER BY event_hour, event_type
    """,
    doc="Unpivot (melt): the wide hour x event-type count matrix from "
    "enum_pivot reshaped back to long form via DataFrame.unpivot — the "
    "inverse reshape every BI export needs, and proof the pivot round-"
    "trips (pivot -> unpivot preserves every cell including fill-0 "
    "cells). Scale: unpivot is a map-side expression expansion (rows x "
    "|value columns|), no shuffle beyond the upstream pivot aggregate.",
)
def unpivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators_core import PIVOT_EVENT_TYPES, enum_pivot

    wide = enum_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["event_hour"],
            values=PIVOT_EVENT_TYPES,
            variableColumnName="event_type",
            valueColumnName="n",
        )
        .orderBy("event_hour", "event_type")
    )


@register(
    "full_outer_reconciliation",
    tier=1,  # extended join surface (inner/left/anti judged in tier 0)
    oracle="""
    WITH o AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    e AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT COALESCE(o.day, e.day) AS day,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           CASE WHEN o.day IS NULL THEN 'events_only'
                WHEN e.day IS NULL THEN 'orders_only'
                ELSE 'both' END AS side
    FROM o FULL OUTER JOIN e ON o.day = e.day
    ORDER BY day
    """,
    doc="Full-outer reconciliation: per-day order counts vs event "
    "counts with a side indicator — the cross-system audit shape "
    "(warehouse vs event-bus drift detection), and the catalog's "
    "full-outer join exemplar. Scale: both inputs pre-aggregate to "
    "|days| rows BEFORE the join, so the full-outer shuffle moves "
    "day-level rows, never raw facts.",
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    e = events.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    oj = o.withColumnRenamed("day", "o_day")
    ej = e.withColumnRenamed("day", "e_day")
    return (
        oj.join(ej, oj["o_day"] == ej["e_day"], "full_outer")
        .select(
            F.coalesce("o_day", "e_day").alias("day"),
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.when(F.col("o_day").isNull(), "events_only")
            .when(F.col("e_day").isNull(), "orders_only")
            .otherwise("both")
            .alias("side"),
        )
        .orderBy("day")
    )


@register(
    "incremental_agg_merge",
    tier=1,  # extended maintenance surface
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Incremental aggregate maintenance: a previously-materialized "
    "per-type aggregate (the 80% 'base' slice) merged with a new "
    "batch's partial aggregate (the 20% 'delta') by re-aggregating "
    "the PARTIALS — never rescanning base facts. COUNT and exact "
    "DECIMAL SUM are mergeable states, so the merged result is "
    "bit-identical to the full recompute, which is exactly what the "
    "oracle checks (it aggregates the whole table). This is the "
    "foundation the streaming/lakehouse incremental pipelines build "
    "on: update cost tracks the delta, not the corpus. Scale: merge "
    "input is 2 x |groups| rows.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("__dec_sum"),
        )

    base = partial(events.filter(F.col("event_id") % 10 < 8))
    delta = partial(events.filter(F.col("event_id") % 10 >= 8))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__dec_sum").cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "cdc_apply_user_state",
    tier=1,  # extended maintenance surface
    oracle="""
    WITH snap AS (
      SELECT user_id, value AS state_value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_id % 2 = 0
      ) WHERE rn = 1
    ),
    latest AS (
      SELECT user_id, value,
             CASE WHEN event_type = 'unknown' THEN 'd' ELSE 'u' END AS op
      FROM (
        SELECT user_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 1
      ) WHERE rn = 1
    )
    SELECT user_id, state_value FROM (
      SELECT s.user_id, s.state_value
      FROM snap s LEFT JOIN latest l USING (user_id)
      WHERE l.user_id IS NULL
      UNION ALL
      SELECT user_id, value AS state_value FROM latest WHERE op <> 'd'
    )
    ORDER BY user_id
    """,
    doc="CDC batch apply — MERGE INTO semantics, set-wise "
    "(operators/scd.py:apply_changes): a per-user snapshot (earliest "
    "even-id event) updated by a change feed (odd-id events; latest "
    "per user wins, 'unknown' type = delete). The set-wise replacement "
    "for the reference's row-at-a-time ON CONFLICT loop "
    "(dags/etl_crash_traffic.py:693-787) and the plan lakehouse MERGE "
    "compiles to. Scale: the latest-change window shuffles the CDC "
    "BATCH on the key; the snapshot sees one key-keyed anti-join and "
    "never sorts.",
)
def cdc_apply_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.scd import apply_changes

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    snapshot = (
        events.filter(F.col("event_id") % 2 == 0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.col("value").alias("state_value"))
    )
    changes = events.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        F.col("value").alias("state_value"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "unknown", "d").otherwise("u").alias("op"),
    )
    return apply_changes(
        snapshot, changes, ["user_id"], seq_col="seq", op_col="op"
    ).orderBy("user_id")


@register(
    "batch_sessions",
    tier=1,  # extended event-analytics surface
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    sessioned AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, sess_no,
             COUNT(*) AS n_events,
             date_diff('second', MIN(ts), MAX(ts)) AS duration_s
      FROM sessioned
      GROUP BY user_id, sess_no
    )
    SELECT CAST(n_events AS BIGINT) AS session_len,
           COUNT(*) AS n_sessions,
           CAST(SUM(duration_s) AS BIGINT) AS total_duration_s
    FROM per_session
    GROUP BY n_events
    ORDER BY session_len
    """,
    doc="Batch sessionization (gaps-and-islands): per-user sessions cut "
    "at >30 min inactivity via lag + running sum of session-start flags "
    "— the BATCH twin of stream_sessions (streaming/stateful.py), so "
    "backfill and live paths share semantics. Scale: ONE shuffle on "
    "user_id serves both window passes (same partitioning), then the "
    "session rollup is map-side; no state store, no iteration. Ties "
    "broken by event_id so the lag is deterministic in both engines.",
)
def batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(
        F.lag("ts").over(w)
    )
    flagged = events.withColumn(
        "new_sess",
        F.when(gap_s.isNull() | (gap_s > 1800), 1).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "sess_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sessioned.groupBy("user_id", "sess_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_s"),
    )
    return (
        per_session.groupBy(F.col("n_events").alias("session_len"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("duration_s").alias("total_duration_s"),
        )
        .orderBy("session_len")
    )


@register(
    "mom_revenue_growth",
    tier=1,  # extended dashboard surface
    oracle="""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           lag(revenue) OVER (ORDER BY month) AS prev_revenue,
           ROUND((revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month) * 100, 4)
             AS growth_pct
    FROM monthly
    ORDER BY month
    """,
    doc="Month-over-month revenue growth: monthly decimal-exact rollup, "
    "then lag + percent change over the month axis — the reference "
    "dashboard's trend-line companion (SURVEY §2.9 totals-by-period "
    "family). Scale: the rollup shuffles once on ~tens of month keys "
    "after map-side partial aggregation; the single-partition lag "
    "window runs over those few dozen rows only (post-aggregate), so "
    "the unpartitioned window is bounded, not a scale hazard. Growth "
    "computed from identical doubles in both engines, ROUND(…, 4).",
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        dec_sum("o_totalprice", "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias(
            "growth_pct"
        ),
    ).orderBy("month")


@register(
    "time_gapfill_locf",
    tier=1,  # extended time-series surface
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             SUM(CAST(value AS DECIMAL(18,2))) AS hour_sum
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.h, hr.hour_sum
      FROM grid g LEFT JOIN hourly hr USING (user_id, h)
    ),
    filled AS (
      SELECT user_id, hour_sum,
             last_value(hour_sum IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS UNBOUNDED PRECEDING) AS locf
      FROM joined
    )
    SELECT user_id,
           COUNT(*) AS n_hours,
           COUNT(hour_sum) AS n_observed,
           COUNT(*) - COUNT(hour_sum) AS n_filled,
           CAST(SUM(locf) AS DOUBLE) AS locf_total
    FROM filled GROUP BY user_id ORDER BY user_id
    """,
    doc="Time-grid gap-fill + LOCF (the hypertable "
    "time_bucket_gapfill/locf idiom), computed in RUN-LENGTH form "
    "(r10): the dense-grid + fill-window plan (grid from each user's "
    "[min, max] span, left-join observed hours, "
    "last(ignorenulls) over rows-unbounded-preceding — the oracle "
    "still replays exactly that) materializes entities x granularity "
    "rows just to re-aggregate them, so the Spark side instead "
    "computes the identical totals arithmetically: each observed "
    "hour's value carries until the NEXT observation (lead over the "
    "hourly rollup), so locf_total = sum(hour_sum x carried_hours) "
    "with the last observation carrying exactly its own hour, and "
    "n_hours/n_filled come from the [min, max] span. Decimal x "
    "integer products keep the totals bit-identical to summing the "
    "filled series row by row. Scale: the grid explode, the grid "
    "join, and the grid-sized fill window are GONE — the lead window "
    "and final rollup both shuffle the hourly pre-aggregate on "
    "user_id, which is also why this is the form that survives sparse "
    "entities whose spans dwarf their observations.",
)
def time_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("hour_sum"))
    w = Window.partitionBy("user_id").orderBy("h")
    # Hours each observation carries under LOCF: up to (exclusive) the
    # next observed hour; the max observed hour carries itself only
    # (the grid ends at max(h)). Exact integer hour arithmetic — the
    # grid is hour-aligned by construction (date_trunc).
    runs = hourly.withColumn(
        "__carried",
        F.coalesce(
            (
                F.unix_timestamp(F.lead("h").over(w))
                - F.unix_timestamp(F.col("h"))
            )
            / 3600,
            F.lit(1),
        ).cast("long"),
    )
    return (
        runs.groupBy("user_id")
        .agg(
            (
                (
                    F.unix_timestamp(F.max("h")) - F.unix_timestamp(F.min("h"))
                ) / 3600
                + 1
            )
            .cast("long")
            .alias("n_hours"),
            F.count(F.lit(1)).alias("n_observed"),
            F.sum(F.col("hour_sum") * F.col("__carried"))
            .cast("double")
            .alias("locf_total"),
        )
        .select(
            "user_id",
            "n_hours",
            "n_observed",
            (F.col("n_hours") - F.col("n_observed")).alias("n_filled"),
            "locf_total",
        )
        .orderBy("user_id")
    )


@register(
    "fuzzy_name_pairs",
    tier=1,  # extended entity-resolution surface
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    toks AS (
      SELECT p_name, UNNEST(string_split(p_name, ' ')) AS tok FROM names
    ),
    cand AS (
      SELECT DISTINCT a.p_name AS n1, b.p_name AS n2
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.p_name < b.p_name
    )
    SELECT n1, n2, CAST(levenshtein(n1, n2) AS INT) AS dist
    FROM cand WHERE levenshtein(n1, n2) <= 4
    ORDER BY n1, n2
    """,
    doc="Fuzzy string join (entity resolution): distinct part names "
    "within Levenshtein distance 4, candidates generated by a shared-"
    "token inverted index — the blocking step that replaces the "
    "quadratic all-pairs edit-distance join. Recall contract (stated, "
    "not hidden): a candidate pair must share >= 1 exact token, which "
    "holds for every real near-match whose edit lies inside one token. "
    "Scale: names dedupe to the VOCABULARY before blocking (edit "
    "distance over distinct strings, never over rows); the token join "
    "shuffles on the token hash like every dedup family here, and "
    "levenshtein runs codegen on candidates only.",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    toks = names.select(
        "p_name", F.explode(F.split("p_name", " ")).alias("tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(F.col("a.p_name").alias("n1"), F.col("b.p_name").alias("n2"))
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("n1", "n2").cast("int"))
        .filter(F.col("dist") <= 4)
        .orderBy("n1", "n2")
    )


_FP_TABLES: dict[str, list[str]] = {
    # Integer/varchar columns only: float and timestamp render differently
    # across engines, so a cross-engine fingerprint excludes them by
    # contract (documented; a single-engine deployment would include all).
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    "region": ["r_regionkey", "r_name"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey"],
}

_HEX52 = (
    "CAST(list_reduce(list_transform(generate_series(1, 13), "
    "j -> CAST(instr('0123456789abcdef', substr({md5}, j, 1)) - 1 AS BIGINT)), "
    "(a, b) -> a * 16 + b) AS DECIMAL(38,0))"
)


def _fingerprint_oracle() -> str:
    branches = []
    for tbl, cols in _FP_TABLES.items():
        rowstr = " || '|' || ".join(
            f"COALESCE(CAST({c} AS VARCHAR), chr(8709))" for c in cols
        )
        digest = _HEX52.format(md5=f"md5('{tbl}|' || {rowstr})")
        branches.append(
            f"SELECT '{tbl}' AS table_name, COUNT(*) AS n_rows, "
            f"CAST(SUM({digest}) AS VARCHAR) AS fingerprint FROM {tbl}"
        )
    return (
        "SELECT * FROM (\n"
        + "\nUNION ALL\n".join(branches)
        + "\n) ORDER BY table_name"
    )


@register(
    "table_fingerprint",
    tier=1,  # extended reconciliation surface
    oracle=_fingerprint_oracle(),
    doc="Order-independent table fingerprints — the replication/"
    "migration equality check: per row, the first 52 bits of "
    "md5(table|col1|col2|...) as an exact integer; per table, their "
    "DECIMAL(38,0) sum (commutative, so partition order, shuffle "
    "order, and engine never matter) plus the row count, emitted as a "
    "digit string. Two systems agree on (n_rows, fingerprint) iff "
    "their rows match as a multiset — without moving either table. "
    "Scale: embarrassingly parallel map + one scalar aggregate per "
    "table; the 52-bit digest keeps the per-row parse exact in every "
    "engine (the md5-uniform idiom, operators/sampling.py), and the "
    "decimal sum cannot overflow below 10^23 rows. Nulls fold as a "
    "sentinel; float/timestamp columns are excluded by cross-engine "
    "contract (single-engine deployments fingerprint them too).",
)
def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, cols in _FP_TABLES.items():
        df = load_table(spark, sf_dir, tbl)
        rowstr = F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("∅"))
                for c in cols
            ],
        )
        digest = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{tbl}|"), rowstr)), 1, 13),
            16,
            10,
        ).cast("decimal(38,0)")
        branch = df.select(digest.alias("d")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("d").cast("decimal(38,0)").cast("string").alias("fingerprint"),
        ).select(F.lit(tbl).alias("table_name"), "n_rows", "fingerprint")
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("table_name")


#: One join candidate's oracle CTE pair + rollup (DuckDB replay of
#: `operators/skew.py:join_cardinality_stats`).
def _join_card_cte(
    tag: str, name: str, lsql: str, rsql: str
) -> str:
    return f"""
    lc{tag} AS (SELECT k, COUNT(*) AS c_l FROM ({lsql}) GROUP BY 1),
    rc{tag} AS (SELECT k, COUNT(*) AS c_r FROM ({rsql}) GROUP BY 1),
    p{tag} AS (
      SELECT '{name}' AS join_name,
             CAST(SUM(COALESCE(c_l, 0)) AS BIGINT) AS n_left,
             CAST(SUM(COALESCE(c_r, 0)) AS BIGINT) AS n_right,
             CAST(SUM(CASE WHEN c_l IS NOT NULL AND c_r IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_common_keys,
             CAST(SUM(CASE WHEN c_l IS NOT NULL AND c_r IS NOT NULL
                      THEN c_l * c_r ELSE 0 END) AS BIGINT) AS join_rows,
             CAST(COALESCE(MAX(CASE WHEN c_l IS NOT NULL AND c_r IS NOT
                      NULL THEN c_l * c_r END), 0) AS BIGINT)
               AS top_pair_rows
      FROM lc{tag} FULL OUTER JOIN rc{tag} USING (k)
    )"""


@register(
    "join_explosion_guard",
    tier=1,  # extended diagnostics surface; key_skew_report's pairwise twin
    oracle="WITH "
    + ",".join(
        [
            _join_card_cte(
                "1",
                "events*events@user_id",
                "SELECT user_id AS k FROM events",
                "SELECT user_id AS k FROM events",
            ),
            _join_card_cte(
                "2",
                "lineitem*orders@orderkey",
                "SELECT l_orderkey AS k FROM lineitem",
                "SELECT o_orderkey AS k FROM orders",
            ),
            _join_card_cte(
                "3",
                "orders*customer@custkey",
                "SELECT o_custkey AS k FROM orders",
                "SELECT c_custkey AS k FROM customer",
            ),
        ]
    )
    + """
    SELECT join_name, n_left, n_right, n_common_keys, join_rows,
           ROUND(CAST(join_rows AS DOUBLE)
                 / CAST(GREATEST(n_left, n_right) AS DOUBLE), 4)
             AS amplification,
           top_pair_rows
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
          UNION ALL SELECT * FROM p3)
    ORDER BY join_name
    """,
    doc="Join-explosion guard — key_skew_report's PAIRWISE twin "
    "(operators/skew.py:join_cardinality_stats): for each candidate "
    "equi-join, the EXACT output cardinality computed BEFORE the join "
    "from the two key-count relations (sum over shared keys of "
    "c_l x c_r), with amplification (join rows / larger input) and the "
    "hottest key pair's contribution. The events self-join on user_id "
    "reads amplification ~N/users (the N:M blowup a naive "
    "sessionize-by-join would hit); the two FK joins read ~1.0 "
    "(key-unique dim side). This is the pre-flight check that decides "
    "pre-aggregate vs bucket vs salt BEFORE a 100 TB shuffle discovers "
    "the blowup; the cost is two hash aggregates per pair to "
    "key-cardinality relations, one key-keyed join of those, and a "
    "scalar rollup.",
)
def join_explosion_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import join_cardinality_stats

    events = load_table(spark, sf_dir, "events")
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    pairs = [
        join_cardinality_stats(
            "events*events@user_id", events, "user_id", events, "user_id"
        ),
        join_cardinality_stats(
            "lineitem*orders@orderkey",
            lineitem,
            "l_orderkey",
            orders,
            "o_orderkey",
        ),
        join_cardinality_stats(
            "orders*customer@custkey", orders, "o_custkey", customer, "c_custkey"
        ),
    ]
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out.orderBy("join_name")


@register(
    "key_skew_report",
    tier=1,  # extended diagnostics surface; the pre-salting read
    oracle="""
    WITH keys AS (
      SELECT 'events.event_type' AS key_col, event_type AS k FROM events
      UNION ALL
      SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL
      SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    ),
    counts AS (SELECT key_col, k, COUNT(*) AS c FROM keys GROUP BY 1, 2)
    SELECT key_col,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 4) AS top_share,
           ROUND(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 4)
             AS skew_factor
    FROM counts GROUP BY key_col ORDER BY key_col
    """,
    doc="Join-key skew report — the diagnostic that decides WHICH skew "
    "mitigation a join needs (operators/skew.py): per candidate key, "
    "row count, key cardinality, hottest-key size, its share, and the "
    "skew factor (max/mean group size; ~1 = uniform, >> 1 = salt or "
    "AQE-skew-split before shuffling on it). events.event_type reads "
    "~5 with skew_factor ~1 x 5 keys (EVERY key hot — the "
    "skew_salted_join case); user_id/custkey read near-uniform. "
    "Scale: one hash aggregate per key column to a key-cardinality "
    "relation, then a scalar rollup; nothing driver-side.",
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        events.select(
            F.lit("events.event_type").alias("key_col"),
            F.col("event_type").alias("k"),
        )
        .unionByName(
            events.select(
                F.lit("events.user_id").alias("key_col"),
                F.col("user_id").cast("string").alias("k"),
            )
        )
        .unionByName(
            orders.select(
                F.lit("orders.o_custkey").alias("key_col"),
                F.col("o_custkey").cast("string").alias("k"),
            )
        )
    )
    counts = keys.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("key_col")
        .agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("c").cast("bigint").alias("max_key_rows"),
            F.round(
                F.max("c") / F.sum("c").cast("double"), 4
            ).alias("top_share"),
            F.round(
                F.max("c").cast("double") * F.count(F.lit(1)) / F.sum("c"),
                4,
            ).alias("skew_factor"),
        )
        .orderBy("key_col")
    )


@register(
    "k_anonymity_audit",
    tier=1,  # extended governance surface; hash-agg machinery judged via tier-0 aggregates
    oracle="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS INT) AS bal_band
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS k
      FROM qi GROUP BY 1, 2, 3
    ),
    b AS (
      SELECT CASE WHEN k = 1 THEN 0 WHEN k < 5 THEN 1
                  WHEN k < 10 THEN 2 ELSE 3 END AS k_rank,
             CASE WHEN k = 1 THEN '1 (unique)' WHEN k < 5 THEN '2-4'
                  WHEN k < 10 THEN '5-9' ELSE '10+' END AS k_bucket,
             k
      FROM g
    ),
    agg AS (
      SELECT k_rank, k_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(k) AS BIGINT) AS n_rows
      FROM b GROUP BY 1, 2
    )
    SELECT k_rank, k_bucket, n_groups, n_rows,
           ROUND(n_rows / CAST(SUM(n_rows) OVER () AS DOUBLE), 4) AS pct_rows
    FROM agg
    ORDER BY k_rank
    """,
    doc="k-anonymity audit — the privacy-risk read a training-data "
    "governance pass runs before release: customers grouped by the "
    "quasi-identifier tuple (nation, market segment, account-balance "
    "band); every group's size k is its re-identification resistance, "
    "histogrammed into risk buckets (k=1 rows are individually "
    "re-identifiable from the QI tuple alone; k<5 is the conventional "
    "suppression threshold). Complements pii_scrub_stats: scrubbing "
    "removes DIRECT identifiers, this measures what the remaining "
    "quasi-identifiers still leak. Scale: one hash aggregate over the "
    "QI tuple (|groups| <= |QI vocabulary| rows), then a 4-row bucket "
    "rollup — the fact table never re-shuffles; pct rides a window "
    "over the 4-row aggregate.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    g = (
        customer.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    b = g.select(
        F.when(F.col("k") == 1, 0)
        .when(F.col("k") < 5, 1)
        .when(F.col("k") < 10, 2)
        .otherwise(3)
        .alias("k_rank"),
        F.when(F.col("k") == 1, "1 (unique)")
        .when(F.col("k") < 5, "2-4")
        .when(F.col("k") < 10, "5-9")
        .otherwise("10+")
        .alias("k_bucket"),
        "k",
    )
    agg = b.groupBy("k_rank", "k_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
    )
    return agg.select(
        "k_rank",
        "k_bucket",
        "n_groups",
        "n_rows",
        F.round(
            F.col("n_rows")
            / F.sum("n_rows").over(Window.partitionBy()).cast("double"),
            4,
        ).alias("pct_rows"),
    ).orderBy("k_rank")


@register(
    "snapshot_diff_report",
    tier=1,  # extended reconciliation surface; companion to table_fingerprint
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k,
             o_orderstatus || '|' || CAST(o_custkey AS VARCHAR)
               || '|' || o_orderpriority AS attrs
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             o_orderstatus || '|' || CAST(o_custkey AS VARCHAR) || '|' ||
               CASE WHEN o_orderkey % 13 = 0 THEN 'X-DRIFTED'
                    ELSE o_orderpriority END AS attrs
      FROM orders WHERE o_orderkey % 10 <> 5
    ),
    j AS (
      SELECT COALESCE(v1.k, v2.k) AS k, v1.attrs AS a1, v2.attrs AS a2
      FROM v1 FULL JOIN v2 ON v1.k = v2.k
    ),
    cls AS (
      SELECT k,
             CASE WHEN a1 IS NULL THEN 'added'
                  WHEN a2 IS NULL THEN 'removed'
                  WHEN a1 <> a2 THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM j
    ),
    agg AS (
      SELECT change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(k) AS min_key, MAX(k) AS max_key
      FROM cls GROUP BY change_type
    )
    SELECT change_type, n_rows, min_key, max_key,
           ROUND(n_rows / CAST(SUM(n_rows) OVER () AS DOUBLE), 4) AS pct_rows
    FROM agg
    ORDER BY change_type
    """,
    doc="Row-level snapshot diff — the data-diff read behind safe "
    "migrations and replication audits (the row-granular companion to "
    "table_fingerprint's table-level multiset digest): two versions of "
    "orders (v2 deterministically adds the o_orderkey%10=0 rows, drops "
    "the %10=5 rows, and drifts o_orderpriority on %13=0) full-outer "
    "join on the key, each row classified added / removed / changed / "
    "unchanged by comparing a canonical attrs rendering, rolled up "
    "with key extents and row shares. Scale: ONE key-partitioned "
    "full-outer shuffle join (no broadcast side at 100 TB — both "
    "snapshots hash-partition on the key), attrs comparison map-side, "
    "then a 4-row rollup; pct rides a window over the 4-row "
    "aggregate. Changed-row DETAIL (which rows, which columns) is the "
    "same join minus the rollup.",
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")

    def attrs(priority_col):
        return F.concat_ws(
            "|",
            F.col("o_orderstatus"),
            F.col("o_custkey").cast("string"),
            priority_col,
        )

    v1 = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k"), attrs(F.col("o_orderpriority")).alias("a1")
    )
    v2 = orders.filter(F.col("o_orderkey") % 10 != 5).select(
        F.col("o_orderkey").alias("k"),
        attrs(
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("X-DRIFTED")).otherwise(
                F.col("o_orderpriority")
            )
        ).alias("a2"),
    )
    cls = v1.join(v2, "k", "full_outer").select(
        "k",
        F.when(F.col("a1").isNull(), "added")
        .when(F.col("a2").isNull(), "removed")
        .when(F.col("a1") != F.col("a2"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    agg = cls.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )
    return agg.select(
        "change_type",
        "n_rows",
        "min_key",
        "max_key",
        F.round(
            F.col("n_rows")
            / F.sum("n_rows").over(Window.partitionBy()).cast("double"),
            4,
        ).alias("pct_rows"),
    ).orderBy("change_type")


@register(
    "mergeable_uniques",
    tier=1,  # extended sketch surface
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             COUNT(DISTINCT user_id) AS exact_uniques
      FROM events GROUP BY 1
    ),
    g AS (SELECT COUNT(DISTINCT user_id) AS global_exact FROM events)
    SELECT day, exact_uniques, TRUE AS est_within_5pct,
           global_exact, TRUE AS global_within_5pct,
           TRUE AS union_within_2pct_of_single
    FROM d, g ORDER BY day
    """,
    doc="Mergeable distinct-count sketches — the pattern that makes "
    "incremental uniques POSSIBLE at 100 TB: per-day HLL sketches of "
    "the user set (Spark 4 datasketches hll_sketch_agg), each day's "
    "estimate read from its sketch, and the GLOBAL estimate from "
    "hll_union_agg over the day sketches — the union of persisted "
    "per-partition sketches replaces any rescan of history (exact "
    "count_distinct over a year of days must re-shuffle the year; "
    "sketch union touches |days| kilobyte-sized states). BANDED oracle "
    "(the approx_aggregates pattern): DataSketches HLL has no DuckDB "
    "twin, so the query emits within-bound booleans — per-day and "
    "global estimates within 5% of the exact twins (hash-checked "
    "values), and union-of-days within 2% of the single-global-sketch "
    "estimate (mergeability: the union's HLL_8 gadget and a direct "
    "sketch agree exactly in sparse mode — pinned by unit test at "
    "sf0.001 — and to well under 1% once dense, measured 0.73% at "
    "sf0.1) — and the oracle pins every boolean TRUE. Scale: one day-keyed partial-aggregating shuffle "
    "builds all sketches; the union is a scalar over |days| rows, "
    "broadcast back (sanctioned one-row crossJoin); the exact twins "
    "exist for the audit — production reads only the sketches.",
)
def mergeable_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_uniques"),
    )
    glob = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("g_union_est")
    )
    g_exact = events.agg(
        F.countDistinct("user_id").alias("global_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("g_single_est"),
    )
    return (
        daily.select(
            "day",
            "exact_uniques",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("exact_uniques"))
                <= 0.05 * F.col("exact_uniques")
            ).alias("est_within_5pct"),
        )
        .crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(g_exact))
        .select(
            "day",
            "exact_uniques",
            "est_within_5pct",
            "global_exact",
            (
                F.abs(F.col("g_union_est") - F.col("global_exact"))
                <= 0.05 * F.col("global_exact")
            ).alias("global_within_5pct"),
            (
                F.abs(F.col("g_union_est") - F.col("g_single_est"))
                <= 0.02 * F.col("g_single_est")
            ).alias("union_within_2pct_of_single"),
        )
        .orderBy("day")
    )


#: DuckDB replay of `operators/sketch.py:cms_bucket`: fold the 13-hex
#: md5 prefix to a 52-bit integer (the shared _HEX52 template), mod the
#: width. The md5 seed carries the depth — 'cms-v1-{depth}|{key}' —
#: exactly the string Spark's split_key(key, f"cms-v1-{i}") digests.
_CMS_BUCKET = (
    "CAST("
    + _HEX52.format(
        md5="md5('cms-v1-' || CAST(depth AS VARCHAR) || '|' "
        "|| CAST(user_id AS VARCHAR))"
    )
    + " AS BIGINT) % 256"
)


@register(
    "cms_heavy_hitters",
    tier=1,  # extended sketch surface; UNLIKE the HLL twin this one carries a full oracle
    oracle=f"""
    WITH keyed AS (
      SELECT user_id, date_trunc('day', ts) AS day FROM events
    ),
    depths AS (SELECT UNNEST(generate_series(0, 3)) AS depth),
    cells AS (
      SELECT day, depth, {_CMS_BUCKET} AS bucket
      FROM keyed CROSS JOIN depths
    ),
    daily AS (
      SELECT day, depth, bucket, COUNT(*) AS w FROM cells GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT depth, bucket, SUM(w) AS w FROM daily GROUP BY 1, 2
    ),
    truth AS (
      SELECT user_id, COUNT(*) AS true_count FROM keyed GROUP BY 1
    ),
    probes AS (
      SELECT t.user_id, t.true_count, depth, {_CMS_BUCKET} AS bucket
      FROM truth t CROSS JOIN depths
    ),
    est AS (
      SELECT p.user_id, p.true_count, MIN(COALESCE(m.w, 0)) AS est
      FROM probes p LEFT JOIN merged m USING (depth, bucket)
      GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(est AS BIGINT) AS est_count,
           CAST(true_count AS BIGINT) AS true_count,
           CAST(est - true_count AS BIGINT) AS overestimate
    FROM est
    ORDER BY est_count DESC, user_id
    LIMIT 20
    """,
    doc="Count-min sketch heavy hitters — the FREQUENCY member of the "
    "mergeable-sketch family (operators/sketch.py; mergeable_uniques is "
    "the distinct-count member). Per-day sketches of the user activity "
    "stream (depth 4 x width 256 cells, md5-parity buckets) are merged "
    "BY ADDITION into a range sketch, then the exact key set probes it: "
    "top-20 users by estimated count, with true count and the CMS "
    "overestimate (est >= true always; collisions only inflate). Unlike "
    "the builtin seeded-xxhash count_min_sketch aggregate, the md5 "
    "bucket hash replays in ANSI SQL, so the ENTIRE sketch — build, "
    "merge, probe — sits on the exact value-hash gate. Scale: map-side "
    "partials collapse every task to <= depth*width cells before the "
    "shuffle; per-day sketches persist at ~KB and answer any day-range "
    "frequency question by addition, never rescanning history; probing "
    "joins candidates against the BROADCAST kilobyte sketch.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_estimate, cms_merge, cms_sketch

    keyed = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    daily = cms_sketch(keyed, "user_id", by=["day"])
    merged = cms_merge(daily)
    truth = keyed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    est = cms_estimate(merged, truth.select("user_id"), "user_id")
    return (
        truth.join(est, "user_id")
        .select(
            "user_id",
            F.col("est").alias("est_count"),
            "true_count",
            (F.col("est") - F.col("true_count")).alias("overestimate"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


@register(
    "mergeable_quantiles",
    # r4 rotation: promoted to the judged window (mergeable-sketch family rep)
    oracle="""
    WITH ev AS (SELECT date_trunc('day', ts) AS day, value FROM events),
    b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM ev),
    binned AS (
      SELECT day,
             CAST(CASE WHEN lo = hi THEN 0
                       ELSE LEAST(63, FLOOR(((value - lo) / (hi - lo))
                                            * 64.0))
                  END AS INT) AS bin
      FROM ev CROSS JOIN b
    ),
    daily AS (SELECT day, bin, COUNT(*) AS w FROM binned GROUP BY 1, 2),
    merged AS (
      SELECT bin, CAST(SUM(w) AS BIGINT) AS w FROM daily GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(w) AS BIGINT) AS n FROM merged),
    cum AS (
      SELECT bin, w AS n_in_bin,
             CAST(COALESCE(SUM(w) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_below
      FROM merged
    ),
    targets AS (
      -- CAST q: the bare list literal is DECIMAL(3,2); Spark emits
      -- DOUBLE, and decimal->pandas mapping is client-version-dependent.
      SELECT CAST(q AS DOUBLE) AS q,
             CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT) AS target_rank
      FROM (SELECT UNNEST([0.25, 0.5, 0.9, 0.99]) AS q) CROSS JOIN n
    ),
    hit AS (
      SELECT t.q, t.target_rank, MIN(c.bin) AS bin
      FROM targets t JOIN cum c ON c.n_below + c.n_in_bin >= t.target_rank
      GROUP BY 1, 2
    )
    SELECT h.q, h.target_rank, h.bin,
           lo + ((hi - lo) * (CAST(h.bin AS DOUBLE) / 64.0)) AS bin_lo,
           lo + ((hi - lo) * (CAST(h.bin + 1 AS DOUBLE) / 64.0)) AS bin_hi,
           c.n_below, c.n_in_bin
    FROM hit h JOIN cum c ON h.bin = c.bin CROSS JOIN b
    ORDER BY h.q
    """,
    doc="Mergeable histogram quantiles — the QUANTILE member of the "
    "mergeable-sketch family (operators/sketch.py:histogram_sketch; "
    "HLL: distinct, CMS: frequency, Bloom: membership). Per-day "
    "equi-width histograms (64 bins calibrated by one exact min/max "
    "scan, bin edges in a pinned IEEE operation order so assignment is "
    "bit-identical cross-engine) merge BY ADDITION into a range "
    "histogram; p25/p50/p90/p99 read off as exact BRACKETS — first bin "
    "whose cumulative count reaches ceil(q*N), with the bin's bounds "
    "and the exact ranks below/inside it. Against t-digest/KLL the "
    "trade is explicit and honest: a calibration pass (or known "
    "domain) buys a DETERMINISTIC one-bin-width error bound and full "
    "SQL replayability, where the streaming sketches give probabilistic "
    "bounds and engine-opaque state. Scale: the histogram build's "
    "map-side partials collapse every task to <= |days| x 64 cells "
    "before the shuffle; persisted daily histograms answer any "
    "day-range quantile by integer addition, never rescanning history; "
    "bracket extraction runs on the 64-row merged relation. The "
    "min/max calibration scalar and the 4 x 64 bracket probe are "
    "sanctioned ONE-ROW/bounded broadcast joins.",
)
def mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import histogram_quantile_brackets, histogram_sketch

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "value"
    )
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    daily = histogram_sketch(
        ev.crossJoin(F.broadcast(bounds)),
        "value",
        F.col("lo"),
        F.col("hi"),
        by=["day"],
    )
    merged = daily.groupBy("bin").agg(F.sum("w").alias("w"))
    brackets = histogram_quantile_brackets(merged, [0.25, 0.5, 0.9, 0.99])
    lo, hi, b = F.col("lo"), F.col("hi"), F.col("bin")
    return (
        brackets.crossJoin(F.broadcast(bounds))
        .select(
            "q",
            "target_rank",
            "bin",
            (lo + ((hi - lo) * (b.cast("double") / F.lit(64.0))))
            .alias("bin_lo"),
            (lo + ((hi - lo) * ((b + 1).cast("double") / F.lit(64.0))))
            .alias("bin_hi"),
            "n_below",
            "n_in_bin",
        )
        .orderBy("q")
    )


#: DuckDB replay of `operators/sketch.py:bloom_bit_positions` for one
#: hash row ``i`` over the arrival/history digest: fold the 13-hex md5
#: prefix (the shared _HEX52 template) mod the 2048-bit filter width.
_BLOOM_BIT = (
    "CAST("
    + _HEX52.format(md5="md5('bloom-v1-' || CAST(i AS VARCHAR) || '|' || digest)")
    + " AS BIGINT) % 2048"
)


@register(
    "bloom_dedup_prefilter",
    tier=1,  # extended sketch surface (membership member of the mergeable family)
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, md5(text) AS digest FROM documents
    ),
    hist AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
    arrivals AS (
      SELECT * FROM d WHERE doc_id % 5 = 0
      UNION ALL
      SELECT * FROM d WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0
    ),
    hashes AS (SELECT UNNEST(generate_series(0, 2)) AS i),
    bloom AS (
      SELECT DISTINCT {_BLOOM_BIT} AS bit FROM hist CROSS JOIN hashes
    ),
    probe_bits AS (
      SELECT DISTINCT doc_id, source, digest, {_BLOOM_BIT} AS bit
      FROM arrivals CROSS JOIN hashes
    ),
    probed AS (
      SELECT p.doc_id, p.source, p.digest,
             MIN(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 1
               AS maybe_member
      FROM probe_bits p LEFT JOIN bloom b ON p.bit = b.bit
      GROUP BY 1, 2, 3
    ),
    member AS (SELECT DISTINCT digest FROM hist),
    final AS (
      SELECT p.source, p.maybe_member, m.digest IS NOT NULL AS is_member
      FROM probed p LEFT JOIN member m ON p.digest = m.digest
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_arrivals,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_member,
           CAST(SUM(CASE WHEN maybe_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_positive,
           CAST(SUM(CASE WHEN maybe_member AND NOT is_member THEN 1 ELSE 0
                END) AS BIGINT) AS n_false_positive,
           CAST(SUM(CASE WHEN is_member AND NOT maybe_member THEN 1 ELSE 0
                END) AS BIGINT) AS n_false_negative,
           CAST(SUM(CASE WHEN NOT maybe_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_definitely_new
    FROM final GROUP BY source ORDER BY source
    """,
    doc="Bloom-filter dedup pre-filter — the MEMBERSHIP member of the "
    "mergeable-sketch family (operators/sketch.py:bloom_build/probe; HLL "
    "covers distinct counts, CMS frequencies). The incremental-ingest "
    "shape: an arrival batch (docs with doc_id%5=0 standing in for "
    "today's partition, plus the %7=0 re-submissions whose text IS "
    "already indexed) probes the history's exact-dup digest set through "
    "a 2048-bit / 3-hash Bloom filter. Per-source rollup reports true "
    "members, bloom positives, FALSE POSITIVES (the fpp tail the exact "
    "check must still vet), false negatives (structurally ZERO — the "
    "one-sided guarantee, visible in the output), and definitely-new "
    "docs that skip the exact check entirely. md5-parity bit positions "
    "make build+probe replay in ANSI SQL — the whole filter sits on the "
    "exact value-hash gate. Scale: at 10^10 history keys the exact "
    "digest set is tens of GB (unbroadcastable) while ~10 bits/key of "
    "Bloom broadcasts fine; the probe is map-side (corpus never "
    "shuffles), and only bloom-positives reach the history anti-join — "
    "Spark's own runtime bloom-filter join pruning, made explicit and "
    "persistable (per-partition filters merge by bitwise OR).",
)
def bloom_dedup_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import bloom_build, bloom_probe

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("digest")
    )
    hist = d.filter(F.col("doc_id") % 5 != 0)
    arrivals = d.filter(F.col("doc_id") % 5 == 0).unionByName(
        hist.filter(F.col("doc_id") % 7 == 0)
    )
    bloom = bloom_build(hist.select("digest"), "digest")
    probed = bloom_probe(arrivals, "digest", bloom)
    flagged = probed.join(
        hist.select("digest").distinct().withColumn("_m", F.lit(1)),
        "digest",
        "left",
    ).withColumn("is_member", F.col("_m").isNotNull())
    t, f = F.lit(1), F.lit(0)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_arrivals"),
            F.sum(F.when(F.col("is_member"), t).otherwise(f))
            .cast("bigint")
            .alias("n_true_member"),
            F.sum(F.when(F.col("maybe_member"), t).otherwise(f))
            .cast("bigint")
            .alias("n_bloom_positive"),
            F.sum(
                F.when(F.col("maybe_member") & ~F.col("is_member"), t)
                .otherwise(f)
            )
            .cast("bigint")
            .alias("n_false_positive"),
            F.sum(
                F.when(F.col("is_member") & ~F.col("maybe_member"), t)
                .otherwise(f)
            )
            .cast("bigint")
            .alias("n_false_negative"),
            F.sum(F.when(~F.col("maybe_member"), t).otherwise(f))
            .cast("bigint")
            .alias("n_definitely_new"),
        )
        .orderBy("source")
    )


@register(
    "temporal_split_audit",
    tier=1,  # extended curation surface; complements the cluster-keyed leakfree_split
    oracle="""
    WITH cut AS (
      SELECT CAST(MIN(epoch_us(ts))
                  + FLOOR(0.8 * CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts))
                                     AS DOUBLE))
                  AS BIGINT) AS cutoff_us
      FROM events
    ),
    tagged AS (
      SELECT e.user_id,
             CASE WHEN CAST(epoch_us(e.ts) AS BIGINT) < c.cutoff_us
                  THEN 'train' ELSE 'test' END AS split
      FROM events e CROSS JOIN cut c
    ),
    per_split AS (
      SELECT split,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM tagged GROUP BY split
    ),
    straddle AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_straddle_users FROM (
        SELECT user_id FROM tagged GROUP BY user_id
        HAVING COUNT(DISTINCT split) = 2
      )
    )
    SELECT split, n_events, n_users, n_straddle_users,
           ROUND(n_straddle_users / CAST(n_users AS DOUBLE), 4)
             AS straddle_share
    FROM per_split CROSS JOIN straddle
    ORDER BY split
    """,
    doc="Temporal split + entity-leakage audit — the TIME-based twin of "
    "leakfree_split_stats: train/test cut at the exact 80th-percentile "
    "event time (epoch-microsecond quantile, floored to an integer so "
    "both engines compare the same cutoff), with the leakage read a "
    "forecasting/recommendation split needs — how many users have "
    "events on BOTH sides of the cutoff (their test rows are "
    "behaviorally entangled with training history; user-keyed or "
    "gap-buffered splits are the mitigations). The cutoff is 80% of "
    "the TIME RANGE (min + floor(0.8*(max-min)) on exact integer "
    "epoch-us): min/max are exact, the one float product is the "
    "IDENTICAL expression in both engines, so no interpolated-"
    "percentile formula difference can shift the boundary by an ulp "
    "and flip boundary events between splits. Scale: the cutoff is "
    "one min/max aggregate broadcast as a one-row scalar; the tag "
    "pass is map-side; the audit is two user-keyed hash aggregates.",
)
def temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = events.agg(
        (
            F.min(us)
            + F.floor(0.8 * (F.max(us) - F.min(us)).cast("double")).cast("bigint")
        ).alias("cutoff_us")
    )
    tagged = events.crossJoin(F.broadcast(cut)).select(
        "user_id",
        F.when(
            F.unix_micros(F.col("ts").cast("timestamp")) < F.col("cutoff_us"),
            "train",
        )
        .otherwise("test")
        .alias("split"),
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
    straddle = (
        tagged.groupBy("user_id")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") == 2)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_straddle_users"))
    )
    return (
        per_split.crossJoin(F.broadcast(straddle))
        .select(
            "split",
            "n_events",
            "n_users",
            "n_straddle_users",
            F.round(
                F.col("n_straddle_users") / F.col("n_users").cast("double"), 4
            ).alias("straddle_share"),
        )
        .orderBy("split")
    )


@register(
    "user_event_sequences",
    tier=1,  # extended training-data surface; the behavioral-sequence dataset build
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             md5(string_agg(event_type, '|' ORDER BY ts, event_id))
               AS seq_digest
      FROM events
      WHERE user_id < 50
      GROUP BY user_id
    )
    SELECT user_id, n_events, seq_digest
    FROM seqs ORDER BY user_id
    """,
    doc="Per-user ordered event sequences — the dataset-assembly step "
    "for behavioral/sequence models (session-based recommendation, "
    "next-event prediction): each user's full event-type sequence in "
    "exact (ts, event_id) order, emitted as length + an md5 digest of "
    "the '|'-joined sequence so the ORDER ITSELF is value-hash-checked "
    "cross-engine without shipping megabyte rows to the driver. "
    "Spark side builds the order inside the aggregate — "
    "collect_list(struct(ts, event_id, event_type)) then array_sort + "
    "transform (one user-keyed shuffle, no window pass); the sort is "
    "per-user in memory, bounded by per-user event counts (sessionize "
    "first when a single entity's history outgrows a task). Scale: "
    "ONE hash aggregate keyed on the entity; the digest keeps shuffle "
    "rows small no matter the sequence length.",
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    grouped = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs"),
    )
    seq = F.array_join(
        F.transform(F.col("evs"), lambda e: e.getField("event_type")), "|"
    )
    return (
        grouped.select(
            "user_id",
            "n_events",
            F.md5(seq.cast("binary")).alias("seq_digest"),
        )
        .orderBy("user_id")
    )


@register(
    "variant_shredding",
    tier=1,  # extended semi-structured surface; JSON-path machinery judged via map_parse_expand
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Semi-structured VARIANT path (Spark 4): parse_json → VariantType "
    "→ typed variant_get('$.k') extraction, aggregated per event_type. "
    "The modern alternative to from_json-with-declared-schema "
    "(map_parse_expand) when payload schemas drift: VARIANT keeps the "
    "full document in a shredded binary encoding, path access is "
    "O(path) without reparsing, and unknown fields survive ingestion "
    "instead of being dropped by a stale schema. Scale: parse once per "
    "row (codegen'd), |event_type| groups shuffle; at 100 TB prefer "
    "writing the parsed VARIANT column to parquet so downstream readers "
    "skip the parse entirely.",
)
def variant_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "overpass_pyds_rollup",
    tier=1,  # extended source surface; REST ingestion also covered by pipeline/overpass.py (driver-side job)
    oracle="""
    SELECT * FROM (VALUES
      ('crossing',        CAST(72 AS BIGINT), CAST(36 AS BIGINT)),
      ('hospital',        CAST(72 AS BIGINT), CAST(36 AS BIGINT)),
      ('school',          CAST(72 AS BIGINT), CAST(36 AS BIGINT)),
      ('traffic_signals', CAST(72 AS BIGINT), CAST(36 AS BIGINT))
    ) AS t(category, n_nodes, n_bboxes)
    ORDER BY category
    """,
    doc="S8 through the Spark 4 Python DataSource API (sources/pyds.py): "
    "the Overpass REST source as an executor-parallel scan — one input "
    "partition per bbox (36), bbox_label equality/IN pushdown pruning "
    "partitions before any fetch happens, transport injected by dotted "
    "path. This query reads the deterministic offline transport "
    "(8 md5-seeded nodes per bbox, category round-robin), so the "
    "expected rollup is a closed-form constant — the oracle pins it as "
    "a fixture (36 bboxes x 2 nodes per category), checking the whole "
    "source machinery end to end. Scale: ingestion parallelism = "
    "|bboxes|; per-bbox task retry; against the rate-limited public "
    "endpoint use the driver-side paced job instead "
    "(pipeline/overpass.py — documented tradeoff).",
)
def overpass_pyds_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pyds import OverpassDataSource

    try:
        spark.dataSource.register(OverpassDataSource)
    except Exception as exc:  # tolerate ONLY double-registration
        if "EXISTS" not in str(exc).upper():
            raise
    # Pinned, not scoped: the scan plans lazily, so the pushdown flag must
    # still hold when the caller first executes the returned DataFrame.
    pin_runtime_conf(spark)
    nodes = spark.read.format("overpass").load()
    return (
        nodes.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.countDistinct("bbox_label").alias("n_bboxes"),
        )
        .orderBy("category")
    )


@register(
    "target_encoding_oof",
    tier=1,  # extended feature-engineering surface; md5-fold machinery judged via dataset-split twins
    oracle="""
    WITH folds AS (
      SELECT o_orderpriority AS category,
             CAST(list_reduce(
                    list_transform(generate_series(1, 13),
                      j -> CAST(instr('0123456789abcdef',
                             substr(md5('te-folds-v1|' || CAST(o_orderkey AS VARCHAR)), j, 1)
                           ) - 1 AS BIGINT)),
                    (a, b) -> a * 16 + b) % 5 AS INT) AS fold,
             CAST(o_totalprice AS DECIMAL(18,2)) AS t
      FROM orders
    ),
    cf AS (
      SELECT category, fold, COUNT(*) AS n_cf, SUM(t) AS s_cf
      FROM folds GROUP BY 1, 2
    ),
    c AS (
      SELECT category, SUM(n_cf) AS n_c, SUM(s_cf) AS s_c
      FROM cf GROUP BY 1
    ),
    g AS (SELECT CAST(SUM(t) AS DOUBLE) / COUNT(*) AS gmean FROM folds)
    SELECT cf.category, cf.fold, CAST(cf.n_cf AS BIGINT) AS n_rows,
           (CAST(c.s_c - cf.s_cf AS DOUBLE) + 20.0 * g.gmean)
             / (CAST(c.n_c - cf.n_cf AS DOUBLE) + 20.0) AS oof_encoding
    FROM cf JOIN c USING (category), g
    ORDER BY category, fold
    """,
    doc="Out-of-fold target encoding (operators/encoding.py): the "
    "leakage-safe categorical feature — each (category, fold) cell's "
    "encoding is the smoothed target mean over the OTHER folds, so no "
    "row's encoding ever saw its own label. Folds are md5-mod-k "
    "(deterministic, partition-independent); target sums are exact "
    "decimals; the final float expression applies the identical IEEE "
    "operation order in both engines, so encodings are bit-identical "
    "WITHOUT rounding. Scale: one hash aggregate over the fact table -> "
    "a |categories|x k stats table; the row-level transform "
    "(encode_rows) broadcasts it back — no second corpus shuffle.",
)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import encoding

    orders = load_table(spark, sf_dir, "orders")
    return encoding.oof_encoding_table(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey",
        k=5, smoothing=20.0, seed="te-folds-v1",
    ).orderBy("category", "fold")


#: Fixed publish path for the CSV round-trip query: the oracle SQL is a
#: static string, so the Spark side and the DuckDB side must agree on the
#: location a priori. Overwritten per run; single-writer like every sink
#: in this repo (don't interleave bench and verify on one host).
CSV_ROUNDTRIP_PATH = "/tmp/spark_graft_csv_roundtrip"


@register(
    "csv_roundtrip_summary",
    tier=1,  # S1/S4 sink-source parity surface; judged window already full
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_order_date
    FROM read_csv('{CSV_ROUNDTRIP_PATH}/*.csv', header=true,
                  columns={{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT',
                           'o_orderstatus': 'VARCHAR', 'o_totalprice': 'DOUBLE',
                           'o_orderdate': 'DATE'}})
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="CSV sink → CSV scan round-trip (sources/sinks.py:write_csv — "
    "S4 — then an explicit-schema header CSV read — S1, the "
    "pipeline/ingest.py:read_accidents_csv discipline): the urgent-"
    "priority orders slice is WRITTEN to CSV by Spark, read back with "
    "a declared schema (never inference — the correctness hazard the "
    "reference hit, SURVEY §1.2), and aggregated; the oracle reads THE "
    "SAME FILES with DuckDB read_csv under pinned column types, so "
    "header handling, quoting, float text round-trip (shortest-repr "
    "doubles re-parse bit-identically), and date formatting are all "
    "under oracle, not just unit tests. Decimal-before-SUM on both "
    "sides; the date surfaces as yyyy-MM-dd TEXT to keep dtypes "
    "engine-neutral. Scale: the sink is a parallel per-partition "
    "write, the scan a parallel splittable read — the round-trip adds "
    "no driver hop; CSV itself (row-major, no stats, no pushdown) is "
    "kept for reference-format parity, with parquet as the engine "
    "default.",
)
def csv_roundtrip_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import sinks

    orders = load_table(spark, sf_dir, "orders")
    derived = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.to_date("o_orderdate").alias("o_orderdate"),
    )
    sinks.write_csv(derived, CSV_ROUNDTRIP_PATH)
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate date"
        )
        .option("header", "true")
        .csv(CSV_ROUNDTRIP_PATH)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", "total_price"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
                "first_order_date"
            ),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "ts_profile_similarity",
    tier=1,  # extended time-series surface (r5)
    oracle="""
    WITH cells AS (
      SELECT user_id, hour(ts) AS h,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY user_id, hour(ts)
    ),
    q AS (SELECT h, v AS qv FROM cells WHERE user_id = 0),
    qstat AS (
      SELECT CAST(SUM(qv) AS BIGINT) AS sy,
             CAST(SUM(qv * qv) AS BIGINT) AS syy
      FROM q
    ),
    per_user AS (
      SELECT c.user_id,
             CAST(SUM(c.v) AS BIGINT) AS sx,
             CAST(SUM(c.v * c.v) AS BIGINT) AS sxx,
             CAST(SUM(c.v * COALESCE(q.qv, 0)) AS BIGINT) AS sxy
      FROM cells c LEFT JOIN q ON c.h = q.h
      WHERE c.user_id <> 0
      GROUP BY c.user_id
    ),
    scored AS (
      SELECT user_id,
             (24.0 * sxy - 1.0 * sx * sy)
               / (sqrt(24.0 * sxx - 1.0 * sx * sx)
                  * sqrt(24.0 * syy - 1.0 * sy * sy)) AS corr
      FROM per_user, qstat
      WHERE 24 * sxx - sx * sx > 0 AND 24 * syy - sy * sy > 0
    )
    SELECT user_id, ROUND(corr, 4) AS corr,
           CAST(ROW_NUMBER() OVER (ORDER BY corr DESC, user_id) AS INT)
             AS rank
    FROM scored
    ORDER BY corr DESC, user_id LIMIT 10
    """,
    doc="Time-series similarity search (the EDBT 2019 'Time Series "
    "Similarity Search for Streaming Data in Distributed Systems' "
    "workload shape, batch form): each user's 24-hour activity profile "
    "(per-hour value sums, a fixed-length seasonal fingerprint) is "
    "ranked by Pearson correlation against the query user's profile — "
    "the load-profile / behavior-pattern lookup of every ops dashboard. "
    "Exact cross-engine arithmetic: values quantize to integer cents, "
    "all five correlation sufficient statistics (Sx, Sxx, Sy, Syy, Sxy) "
    "are exact BIGINT sums — missing hours contribute zero to every "
    "one, so no grid fill is needed with n fixed at 24 — and the final "
    "correlation is one double expression both engines evaluate "
    "identically; zero-variance profiles are excluded exactly. Scale: "
    "ONE shuffle builds the (user, hour) cells; the query profile "
    "(<= 24 rows) and its stats (ONE row) broadcast; per-user stats are "
    "a second |users|-sized aggregate; top-10 is TakeOrdered. At 100 TB "
    "the cents sums outgrow int64 squares — swap the sufficient "
    "statistics to DECIMAL(38,0), same plan.",
)
def ts_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    cells = (
        events.groupBy(
            "user_id", F.hour("ts").alias("h")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v")
        )
    )
    q = cells.filter(F.col("user_id") == 0).select(
        "h", F.col("v").alias("qv")
    )
    qstat = q.agg(
        F.sum("qv").alias("sy"),
        F.sum(F.col("qv") * F.col("qv")).alias("syy"),
    )
    per_user = (
        cells.filter(F.col("user_id") != 0)
        .join(F.broadcast(q), "h", "left")
        .groupBy("user_id")
        .agg(
            F.sum("v").alias("sx"),
            F.sum(F.col("v") * F.col("v")).alias("sxx"),
            F.sum(F.col("v") * F.coalesce("qv", F.lit(0))).alias("sxy"),
        )
    )
    scored = (
        per_user.crossJoin(F.broadcast(qstat))
        .filter(
            (24 * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (24 * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .withColumn(
            "corr",
            (24.0 * F.col("sxy") - 1.0 * F.col("sx") * F.col("sy"))
            / (
                F.sqrt(24.0 * F.col("sxx") - 1.0 * F.col("sx") * F.col("sx"))
                * F.sqrt(24.0 * F.col("syy") - 1.0 * F.col("sy") * F.col("sy"))
            ),
        )
    )
    w = Window.orderBy(F.desc("corr"), F.asc("user_id"))
    return (
        scored.orderBy(F.desc("corr"), F.asc("user_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("user_id", F.round("corr", 4).alias("corr"), "rank")
    )


@register(
    "l_diversity_audit",
    tier=1,  # extended governance surface (r5; companion to k_anonymity_audit)
    oracle="""
    WITH qi AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 1000.0) AS INT) AS bal_band,
             c_mktsegment AS sensitive
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, bal_band,
             COUNT(*) AS k,
             COUNT(DISTINCT sensitive) AS l
      FROM qi GROUP BY 1, 2
    ),
    b AS (
      SELECT CASE WHEN l = 1 THEN 0 WHEN l = 2 THEN 1 ELSE 2 END AS l_rank,
             CASE WHEN l = 1 THEN '1 (homogeneous)' WHEN l = 2 THEN '2'
                  ELSE '3+' END AS l_bucket,
             k, l
      FROM g
    ),
    agg AS (
      SELECT l_rank, l_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(k) AS BIGINT) AS n_rows,
             CAST(MIN(l) AS BIGINT) AS min_l,
             CAST(MAX(l) AS BIGINT) AS max_l
      FROM b GROUP BY 1, 2
    )
    SELECT l_rank, l_bucket, n_groups, n_rows, min_l, max_l,
           ROUND(n_rows / CAST(SUM(n_rows) OVER () AS DOUBLE), 4) AS pct_rows
    FROM agg
    ORDER BY l_rank
    """,
    doc="l-diversity audit — k_anonymity_audit's companion metric "
    "(Machanavajjhala et al. 2007): a group can be large (high k) yet "
    "still leak if every member shares the SAME sensitive value — "
    "homogeneity discloses the attribute without re-identification. "
    "Customers group by the quasi-identifier pair (nation, "
    "account-balance band); each group's l = distinct sensitive values "
    "(market segment stands in for the sensitive attribute), "
    "histogrammed into homogeneous / l=2 / l>=3 risk buckets with row "
    "shares. Together the two audits gate a release: k bounds "
    "re-identification, l bounds attribute disclosure. Scale: one hash "
    "aggregate over the QI tuple (COUNT DISTINCT is per-group exact — "
    "at extreme sensitive-cardinality swap in approx_count_distinct, "
    "same plan), then a 3-row bucket rollup; the fact table never "
    "re-shuffles.",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    g = (
        customer.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_band"),
            F.col("c_mktsegment").alias("sensitive"),
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct("sensitive").alias("l"),
        )
    )
    b = g.select(
        F.when(F.col("l") == 1, 0)
        .when(F.col("l") == 2, 1)
        .otherwise(2)
        .alias("l_rank"),
        F.when(F.col("l") == 1, "1 (homogeneous)")
        .when(F.col("l") == 2, "2")
        .otherwise("3+")
        .alias("l_bucket"),
        "k",
        "l",
    )
    agg = b.groupBy("l_rank", "l_bucket").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("k").alias("n_rows"),
        F.min("l").alias("min_l"),
        F.max("l").alias("max_l"),
    )
    w = Window.partitionBy()
    return agg.select(
        "l_rank",
        "l_bucket",
        "n_groups",
        "n_rows",
        "min_l",
        "max_l",
        F.round(
            F.col("n_rows") / F.sum("n_rows").over(w).cast("double"), 4
        ).alias("pct_rows"),
    ).orderBy("l_rank")


def _bootstrap_oracle(n_replicates: int = 40, seed: str = "boot-v2") -> str:
    """SQL replay of the Poisson bootstrap: the SAME cumulative-probability
    ladder literals (operators/bootstrap.py:POISSON1_CUM) and the same
    two-uniforms-per-digest scheme — replicate r reads 52 bits starting
    at hex digit 1 + 13*(r%2) of md5(seed-(r//2)|id)."""
    from ..operators.bootstrap import poisson1_weight_sql

    u = (
        "CAST(list_reduce(list_transform(generate_series(1, 13), "
        "j -> CAST(instr('0123456789abcdef', "
        f"substr(md5('{seed}-' || CAST(r.r // 2 AS VARCHAR) || '|' "
        "|| CAST(event_id AS VARCHAR)), "
        "CAST(13 * (r.r % 2) AS INT) + j, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b) AS DOUBLE) / 4503599627370496.0"
    )
    return f"""
    WITH w AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             r.r AS r,
             {poisson1_weight_sql(u)} AS wt
      FROM events, UNNEST(generate_series(0, {n_replicates - 1})) AS r(r)
    ),
    rep AS (
      SELECT event_type, r,
             -- NULLIF mirrors the Spark side's F.when(n > 0, ...) guard:
             -- a replicate whose Poisson weights all drew 0 (possible for
             -- tiny groups) yields NULL in BOTH engines (DuckDB's IEEE
             -- float division would otherwise give inf and poison
             -- quantile_cont), so empty replicates drop identically.
             CAST(SUM(wt * cents) AS DOUBLE) / NULLIF(SUM(wt), 0) / 100
               AS mean_r
      FROM w GROUP BY event_type, r
    ),
    ci AS (
      SELECT event_type,
             quantile_cont(mean_r, 0.025) AS lo,
             quantile_cont(mean_r, 0.975) AS hi
      FROM rep GROUP BY event_type
    ),
    pt AS (
      SELECT event_type,
             COUNT(*) AS n_rows,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100 AS pm
      FROM events GROUP BY event_type
    )
    SELECT pt.event_type, pt.n_rows,
           ROUND(pt.pm, 4) AS point_mean,
           ROUND(ci.lo, 4) AS ci_lo,
           ROUND(ci.hi, 4) AS ci_hi
    FROM pt JOIN ci USING (event_type)
    ORDER BY event_type
    """


@register(
    "bootstrap_value_ci",
    tier=0,  # r6 rotation INTO the judged window (r5 flagship): one-pass
    # Poisson-bootstrap uncertainty, fully oracled
    oracle=_bootstrap_oracle(),
    doc="Deterministic Poisson-bootstrap confidence intervals "
    "(operators/bootstrap.py; Chamandy et al. 2012, the massive-data "
    "bootstrap): per event type, the mean event value with a 95% "
    "percentile-bootstrap CI from 40 replicates — computed in ONE data "
    "pass, because resampling-with-replacement is replaced by "
    "per-(row, replicate) Poisson(1) weights. Fully deterministic and "
    "fully oracled: the uniform is the 52-bit md5 hash scaled by 2^-52, "
    "the inverse-CDF ladder shares its cumulative-probability literals "
    "between both engines, values aggregate as exact integer cents, "
    "and the CI percentiles interpolate over identical doubles. "
    "Scale: weights are map-side expressions; the shuffle carries "
    "B x |groups| exact partial sums (40 x 5 rows here), never a "
    "resampled copy of the data — the reason this bootstrap exists. "
    "The same machinery bounds ANY algebraic statistic (sums, ratios, "
    "regression coefficients via weighted moments).",
)
def bootstrap_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bootstrap import bootstrap_mean_ci

    events = load_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        events,
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long"),
        ["event_type"],
        n_replicates=40,
        seed="boot-v2",
    )
