"""Join operators — SURVEY.md §2.3.

Scale strategy (100 TB): fact⋈fact joins (orders⋈lineitem) shuffle on
the join key — co-partitioned and AQE-coalesced; every dimension join
(region/nation/supplier, inline band/zone dims) is an explicit
``F.broadcast`` so no shuffle of the fact side ever happens for them.
This mirrors the reference's small lookup tables (council districts,
providers — [P high], SURVEY §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_unit_sum
from ..registry import query
from ..tables import load


@query(
    "join_inner",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 4)
             AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer + aggregate (core). Catalyst's
    shuffled-hash join: 3.59x DuckDB at x100, a constant-factor race
    (the r11-measured floor; eager-agg pushdown was A/B'd and rejected
    for this shape — custkey cardinality ~rows/10, commit 853ac82)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    # r13: sum in EXACT integer cents (the floor(x*100+0.5) lift), then
    # round once after the division. o_totalprice is 2-decimal money;
    # the lift recovers the exact cent value from the double, the
    # bigint sum is associative, and bigint/100.0 + round(.,4) is the
    # identical IEEE sequence in Spark and DuckDB — so the result is
    # bit-identical REGARDLESS of physical plan (join strategy and
    # partitioning change FP summation order; guard-band + 2^63 wrap
    # bound in functions/exact.py).
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_unit_sum(F.col("o_totalprice"), 100, "sum_price"),
        )
    )


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice), 4) AS sum_price
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈broadcast-dim⋈broadcast-dim: lineitem⋈supplier⋈nation.
    Both dims broadcast — zero shuffle of the fact table before the
    final aggregation ([P high]: district/provider lookups)."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 4) AS sum_price
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join customer⟕orders: per-customer order count with
    null-preserving count semantics (core)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("sum_price"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n_a FROM orders
               WHERE o_orderdate <  TIMESTAMP '1998-01-01' GROUP BY 1),
         b AS (SELECT o_custkey AS k, COUNT(*) AS n_b FROM orders
               WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1)
    SELECT COALESCE(a.k, b.k) AS custkey,
           CAST(COALESCE(n_a, 0) AS BIGINT) AS n_early,
           CAST(COALESCE(n_b, 0) AS BIGINT) AS n_late
    FROM a FULL JOIN b ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two disjoint period aggregates (core)."""
    orders = load(spark, sf_dir, "orders")
    early = (
        orders.where(F.col("o_orderdate") < "1998-01-01")
        .groupBy(F.col("o_custkey").alias("k_a"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    late = (
        orders.where(F.col("o_orderdate") >= "1998-01-01")
        .groupBy(F.col("o_custkey").alias("k_b"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return early.join(late, early.k_a == late.k_b, "full").select(
        F.coalesce("k_a", "k_b").alias("custkey"),
        F.coalesce("n_a", F.lit(0)).alias("n_early"),
        F.coalesce("n_b", F.lit(0)).alias("n_late"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with >=1 urgent order (EXISTS)."""
    customer = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with zero orders (orphan detection,
    [P med]). Shuffled anti join, 3.35x DuckDB at x100."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


_BANDS = [
    ("neg", -10000.0, 0.0),
    ("low", 0.0, 100.0),
    ("mid", 100.0, 1000.0),
    ("high", 1000.0, 100000.0),
]


@query(
    "join_theta_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('neg', -10000.0, 0.0), ('low', 0.0, 100.0),
             ('mid', 100.0, 1000.0), ('high', 1000.0, 100000.0)
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join: events against an inline value-band dim.
    Generalizes point-in-interval assignment ([P high]). The band dim
    is broadcast -> broadcast-nested-loop with no fact shuffle."""
    ev = load(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        ev.join(F.broadcast(bands), (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "join_asof",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_custkey % 15 AS BIGINT) AS join_uid,
           e.event_id AS last_event_id
    FROM orders o
    ASOF LEFT JOIN (
        SELECT user_id, event_id,
               TIMESTAMP '1994-01-01'
                 + ((event_id % 2000) * INTERVAL 1 DAY)
                 + (event_id * INTERVAL 1 MILLISECOND) AS ets
        FROM events
    ) e
    ON (o.o_custkey % 15) = e.user_id AND e.ets <= o.o_orderdate
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, the latest event with synthetic
    event-time ets <= o_orderdate, matched on a mod-15 user key.
    (events.ts lives in 2024, outside the 1995-2001 order range, so a
    deterministic unique ets is derived from event_id.) The oracle
    uses DuckDB's native ASOF LEFT JOIN, which verifies the
    semantics exactly since ets is unique per user. Late-arriving
    enrichment ([P low]).

    Implemented as the UNION-TAG + ordered-window form — the
    no-explosion as-of shape: probe and build rows interleave in ONE
    (key, time) ordered stream, events sorting before orders at
    equal time (tag 0 < 1 encodes the INCLUSIVE ets <= date bound),
    and each order row reads the running latest event via
    last(ignorenulls) — O(n log n) in the stream, zero
    intermediate blow-up. The earlier equi-join + row_number form
    was measured at ×100 building ~7.5e9 intermediate rows (every
    order × every earlier event of its 15-value key) and running
    93 s vs DuckDB's native ASOF at 10.7 s; the union form removes
    the explosion on ANY key cardinality, which is why it is the
    100 TB form — the join key's selectivity no longer multiplies."""
    orders = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 15).alias("uid"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(1).alias("tag"),
        F.col("o_orderkey"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.expr(
            "timestamp'1994-01-01' + make_interval(0, 0, 0, CAST(event_id % 2000 AS INT), 0, 0, event_id / 1000.0)"
        ).alias("ts"),
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
        "event_id",
    )
    u = ev.unionByName(orders)
    w = (
        Window.partitionBy("uid")
        .orderBy("ts", "tag", F.col("event_id").desc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn("last_event_id", F.last("event_id", ignorenulls=True).over(w))
        .where(F.col("tag") == 1)
        .select(
            "o_orderkey", F.col("uid").cast("long").alias("join_uid"), "last_event_id"
        )
    )


@query(
    "join_multiway_5",
    oracle="""
    SELECT n_name,
           ROUND(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                          AS BIGINT)) / 10000.0, 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_multiway_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shape 6-table join + group agg (core). Fact⋈fact joins
    shuffle on keys; supplier/nation/region broadcast.

    Scale posture (×100 measurements): 4.11 s, 2.66× DuckDB (2.35×
    in r13) — two fact exchanges, lineitem 60M + join-result on
    custkey; the residual is DuckDB's in-process hash-build advantage.
    Join-order alternatives were separately A/B'd and REJECTED
    (orders⋈customer-first 3× worse — scripts/ab_multiway.py,
    BASELINE round-6)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # Stream the big fact (lineitem) so it never materializes a hash
    # relation; orders/customer/supplier join by Catalyst's choice
    # (auto-broadcast at small SF, shuffle join when stats outgrow the
    # threshold — customer and supplier are SF-proportional, so a hint
    # would OOM a 100 TB build side). Only the truly fixed-size dims
    # (nation 25 rows, region 5 rows) are hinted.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        # r13: revenue summed in EXACT 1e-4 units — extendedprice and
        # discount are 2-decimal, so the product is exactly 4-decimal;
        # floor(x*10000+0.5) on the identical IEEE product recovers the
        # same bigint in Spark and DuckDB, making the rounded sum
        # bit-identical regardless of join order/physical plan (2^63
        # wrap bound ~4.6e17 e4-units/group at the 100 TB posture, 20x
        # headroom — functions/exact.py).
        .agg(
            exact_unit_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                10000,
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_cross_small",
    oracle="""
    WITH grid AS (
      SELECT r_name, s FROM region CROSS JOIN (SELECT UNNEST(['F','O','P']) AS s)
    ), counts AS (
      SELECT r_name, o_orderstatus AS s, COUNT(*) AS n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT g.r_name, g.s AS o_orderstatus, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
    FROM grid g LEFT JOIN counts c ON g.r_name = c.r_name AND g.s = c.s
    """,
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-join scaffold (all region×status cells) + left join of
    actual counts, zero-filled (report grids, [P med]).

    r12 rewrite: aggregate the orders⋈customer spine to
    (c_nationkey, o_orderstatus) — ≤75 rows — BEFORE the nation/region
    dim joins, so the dims join the aggregate instead of being
    broadcast across the 15M-row fact (value-identical: counts
    partitioned by nationkey sum to the region counts). 2.80x DuckDB
    at x100, was 3.99x before the rewrite."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    region = load(spark, sf_dir, "region")
    statuses = spark.createDataFrame([("F",), ("O",), ("P",)], "s string")
    grid = region.select("r_name").crossJoin(statuses)
    nation = load(spark, sf_dir, "nation")
    nk_counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n0"))
    )
    counts = (
        nk_counts.join(
            F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("cr_name"),
            F.col("o_orderstatus").alias("cs"),
        )
        .agg(F.sum("n0").alias("n"))
    )
    return grid.join(
        counts, (grid.r_name == counts.cr_name) & (grid.s == counts.cs), "left"
    ).select(
        "r_name",
        F.col("s").alias("o_orderstatus"),
        F.coalesce("n", F.lit(0)).alias("n_orders"),
    )


_SALT_N = 16


@query(
    "join_skew_salted",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via explicit key salting: the fact side gets
    a deterministic salt (event_id % 16) appended to the join key; the
    dim side is exploded x16 so every (key, salt) bucket matches. The
    result is identical to the plain join (the oracle), but a hot key's
    rows now spread over 16 reducer partitions instead of one.

    At 100 TB this is the manual fallback when AQE's skew-join split
    cannot help (e.g. the skewed side feeds a single-key aggregation,
    or the join is a broadcast candidate that does not fit memory).
    AQE (on by default, session.py) handles the common cases without
    this operator — which is why the salt here is explicit, bounded
    (x16 dim replication), and deterministic (no rand(): repeatable
    plans and retry-safe tasks).

    Physical strategy is pinned to SORT-MERGE: salting exists FOR the
    big-shuffle regime, where the session default's shuffled-hash
    join builds an unspillable per-partition map over the ×16
    replicated stream — measured at ×100: SHJ 22.5 s (GC-bound
    build) vs SMJ 3.2 s, against 1.2 s for the plain unsalted join
    (the honest ~2.6× salting tax is the row replication itself).
    A spillable sorted join is exactly the property the at-scale
    fallback needs, so the hint is part of the operator's
    semantics, not a tuning afterthought."""
    ev = load(spark, sf_dir, "events").withColumn(
        "salt", (F.col("event_id") % _SALT_N).cast("int")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted_dim = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_N)]))
    )
    return (
        ev.hint("merge")
        .join(
            salted_dim,
            (ev.user_id == salted_dim.c_custkey) & (ev.salt == salted_dim.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT nullif(c_custkey % 7, 3) AS k, COUNT(*) AS n_cust
      FROM customer GROUP BY 1
    ), b AS (
      SELECT nullif(o_custkey % 7, 3) AS k, COUNT(*) AS n_ord
      FROM orders GROUP BY 1
    )
    SELECT a.k AS k, CAST(n_cust AS BIGINT) AS n_cust, CAST(n_ord AS BIGINT) AS n_ord
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL bucket joins to the NULL bucket instead of disappearing —
    the semantics needed when a join key legitimately carries
    'unknown' (e.g. unresolved geography ids). Null keys hash to one
    partition: at scale a populous NULL bucket is the classic skew
    key — handle via join_skew_salted or filter-union."""
    cust = (
        load(spark, sf_dir, "customer")
        .groupBy(F.nullif(F.col("c_custkey") % 7, F.lit(3)).alias("k_a"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    ords = (
        load(spark, sf_dir, "orders")
        .groupBy(F.nullif(F.col("o_custkey") % 7, F.lit(3)).alias("k_b"))
        .agg(F.count(F.lit(1)).alias("n_ord"))
    )
    return cust.join(ords, cust.k_a.eqNullSafe(ords.k_b)).select(
        F.col("k_a").alias("k"), "n_cust", "n_ord"
    )
