"""SQL-text surface (operator A11 completed).

The reference reads its warehouse through SQL strings
(db_to_RFManalysis.py:181 ``pd.read_sql``); the engine's equivalent is
``spark.sql`` over registered views — Catalyst applies column pruning
and predicate pushdown to the text query exactly as to the DataFrame
API.  ``sql_pricing_summary`` exercises that surface end-to-end with a
TPC-H-Q1-shaped aggregate whose oracle is the same SQL in DuckDB.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..streaming.windows import table_bytes
from . import load, query

_PRICING_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(count(*) AS BIGINT) AS count_order,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 AS sum_base_price,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("sql_pricing_summary", _PRICING_SQL)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: the engine's SQL-text path — register the scan as a view,
    run the ANSI aggregate through spark.sql.  The oracle is the
    IDENTICAL string run by DuckDB (money via integer cents)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_PRICING_SQL)


_SALTED_ORACLE = """
SELECT o_custkey AS custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
FROM orders
GROUP BY o_custkey
"""


@query("skew_salted_aggregate", _SALTED_ORACLE)
def skew_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-spread two-stage aggregation (operators/skew.py): per-key
    count/sum via (key, salt) partials + combine, exact count-distinct
    via two-level dedup — results identical to a plain groupBy, which
    is exactly what the oracle computes."""
    from ..operators.skew import (
        salted_aggregate,
        salted_count,
        salted_count_distinct,
        salted_sum,
    )

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    main = salted_aggregate(
        orders,
        ["custkey"],
        [salted_count("n_orders"), salted_sum("cents", "total_cents")],
        n_salts=8,
        salt_source="id",
    )
    nd = salted_count_distinct(orders, ["custkey"], "prio", out="n_priorities")
    return main.join(nd, "custkey").select(
        "custkey",
        F.col("n_orders").cast("long"),
        F.col("total_cents").cast("long"),
        F.col("n_priorities").cast("long"),
    )


_ADAPTIVE_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
GROUP BY event_type
"""


@query("skew_adaptive_aggregate", _ADAPTIVE_ORACLE)
def skew_adaptive_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured skew response (operators/skew.py adaptive_aggregate):
    the operator probes the key histogram — the programmatic twin of
    the events_skew_diagnostics pre-flight — and PICKS plain vs salted
    two-stage aggregation by whether the hottest key exceeds
    HOT_PARTITION_FACTOR x the even per-partition load.  The payload
    here is a pandas grouped-agg UDAF (combine_free=True): the regime
    where the decision is real — no map-side partial aggregation, so a
    hot key funnels every row into one Python task (JVM algebraic aggs
    are measured skew-immune and always go plain).  Grouping events by
    low-cardinality event_type puts the hottest key at ~20% of the
    table = 6.45x the even 32-partition load, just over the measured
    6x crossover — the real corpus exercises the salted branch, the
    oracle is the plain GROUP BY (identical values either way), and
    tests/test_plans.py pins the plan FLIP on synthetic uniform vs
    hot-key corpora."""
    from pyspark.sql.functions import pandas_udf

    from ..operators.skew import SaltedAgg, adaptive_aggregate

    @pandas_udf("long")
    def pcount(v: pd.Series) -> int:
        return int(len(v))

    @pandas_udf("long")
    def psum(v: pd.Series) -> int:
        return int(v.sum())

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").alias("id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = adaptive_aggregate(
        ev,
        ["event_type"],
        [
            SaltedAgg("n_events", pcount(F.col("cents")).alias("n_events"), "sum"),
            SaltedAgg("value_cents", psum(F.col("cents")).alias("value_cents"), "sum"),
        ],
        combine_free=True,
        n_salts=8,
        salt_source="id",
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long"),
        F.col("value_cents").cast("long"),
    )


_ADAPTIVE_JOIN_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@query("lineitem_adaptive_join", _ADAPTIVE_JOIN_ORACLE)
def lineitem_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured join-strategy selection (operators/skew.py
    adaptive_join): the operator estimates the dim's bytes (count x
    sampled row width) against the session broadcast threshold, checks
    whether AQE's skew-split covers the shuffle regime, and only then
    considers the salted plan — the policy the r6 crossover
    measurement set (plain + AQE beat salting at every hot share; see
    BENCH_HISTORY).  On this corpus orders fits the threshold, so the
    chosen plan is the broadcast join — asserted by the audit dict so
    the driver run exercises the decision path, not just the result.
    Oracle: the plain SQL join + GROUP BY (identical values on every
    branch)."""
    from ..operators.skew import adaptive_join

    fact = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    dim = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
    )
    decision: dict = {}
    joined = adaptive_join(fact, dim, "k", decision_out=decision)
    assert decision["strategy"] in ("broadcast", "plain", "salted")
    return joined.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


# ====================================================================
# Semi-structured (JSON) extraction — the jsonl-shaped source path
# ====================================================================

_JSON_ORACLE = """
WITH safe AS (
    -- malformed/empty props parse to NULL, matching Spark's
    -- PERMISSIVE from_json (DuckDB's ->> ERRORS on junk JSON; the
    -- hostile corpus plants truncated documents)
    SELECT event_id, user_id,
           CASE WHEN json_valid(props) THEN props ->> '$.k' END AS kstr
    FROM events
),
built AS (
    SELECT event_id,
           CAST(kstr AS BIGINT) AS k,
           '{"id": ' || CAST(event_id AS VARCHAR)
           || ', "vals": [' || kstr || ', '
           || CAST(CAST(kstr AS BIGINT) * 2 AS VARCHAR)
           || '], "u": {"uid": ' || CAST(user_id AS VARCHAR) || '}}' AS doc
    FROM safe
)
SELECT event_id, k,
       CAST(doc ->> '$.vals[1]' AS BIGINT) AS second_val,
       CAST(doc ->> '$.u.uid' AS BIGINT) AS uid
FROM built
"""


@query("json_props_extract", _JSON_ORACLE)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (the jsonl-shaped source every LLM
    corpus ships as): the real ``props`` JSON column is parsed with
    ``from_json``, then a nested document (object + array + sub-object)
    built from event fields round-trips through a full struct schema —
    array indexing and nested field access on the hash.  All JVM-side
    expressions; DuckDB's JSON operators are the twin."""
    from . import load

    events = load(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long").getField("k")
    built = events.select(
        "event_id",
        k.alias("k"),
        F.concat(
            F.lit('{"id": '),
            F.col("event_id").cast("string"),
            F.lit(', "vals": ['),
            k.cast("string"),
            F.lit(", "),
            (k * 2).cast("string"),
            F.lit('], "u": {"uid": '),
            F.col("user_id").cast("string"),
            F.lit("}}"),
        ).alias("doc"),
    )
    parsed = F.from_json(
        F.col("doc"), "id long, vals array<bigint>, u struct<uid: bigint>"
    )
    return built.select(
        "event_id",
        "k",
        F.element_at(parsed.getField("vals"), 2).alias("second_val"),
        parsed.getField("u").getField("uid").alias("uid"),
    )


# ====================================================================
# OLAP aggregate families: exact percentiles, ROLLUP, pivot
# ====================================================================

_PERCENTILE_ORACLE = """
WITH e AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       quantile_cont(vc, 0.5) AS p50_cents,
       quantile_cont(vc, 0.95) AS p95_cents
FROM e
GROUP BY event_type
"""


@query("events_value_percentiles", _PERCENTILE_ORACLE)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type: Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the (n-1)·p linear-interpolation definition,
    so over integer-cents inputs the doubles match bit-for-bit.  (The
    approx sketch path — approx_percentile/HLL — is engine-private and
    deliberately not on the oracle surface.)"""
    from . import load

    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("vc", F.lit(0.5)).alias("p50_cents"),
        F.percentile("vc", F.lit(0.95)).alias("p95_cents"),
    )


_ROLLUP_ORACLE = """
SELECT coalesce(o_orderpriority, '<ALL>') AS priority,
       coalesce(o_orderstatus, '<ALL>') AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@query("orders_rollup", _ROLLUP_ORACLE)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (priority → status → grand total) with
    integer-cents sums; NULL grouping slots rendered as '<ALL>' so the
    subtotal rows hash identically across engines."""
    from . import load

    o = load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("<ALL>")).alias(
                "priority"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("<ALL>")).alias("status"),
            "n_orders",
            "total_cents",
        )
    )


_PIVOT_STATUSES = ["F", "O", "P"]

_PIVOT_ORACLE = f"""
SELECT o_orderpriority AS priority,
       {", ".join(
           f"CAST(count(*) FILTER (WHERE o_orderstatus = '{s}') AS BIGINT)"
           f" AS n_{s}" for s in _PIVOT_STATUSES)}
FROM orders
GROUP BY o_orderpriority
"""


@query("orders_pivot_status", _PIVOT_ORACLE)
def orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on order status (explicit value list — at scale an
    unconstrained pivot means a distinct-scan planning pass) vs the
    DuckDB FILTER-clause conditional aggregation twin."""
    from . import load

    o = load(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _PIVOT_STATUSES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        F.col("o_orderpriority").alias("priority"),
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"n_{s}")
            for s in _PIVOT_STATUSES
        ],
    )


# ====================================================================
# Window-function breadth: lag / lead / ntile / cume_dist
# ====================================================================

_WINDOW_ORACLE = """
WITH e AS (
    SELECT event_id, user_id, epoch_us(ts) AS us,
           CAST(round(value * 100) AS BIGINT) AS vc
    FROM events
)
SELECT event_id, user_id,
       us - lag(us) OVER w AS us_since_prev,
       lead(event_id) OVER w AS next_event_id,
       CAST(ntile(4) OVER (PARTITION BY user_id
                           ORDER BY vc NULLS FIRST, event_id)
            AS BIGINT) AS value_quartile,
       cume_dist() OVER (PARTITION BY user_id
                         ORDER BY vc NULLS FIRST) AS value_cume
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
"""


@query("events_window_analytics", _WINDOW_ORACLE)
def events_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-window analytics per user: inter-event gap (lag), next
    event (lead), value quartile (ntile, event_id tiebreak for
    determinism), and cumulative distribution — the window-function
    families beyond rank that an analytics engine must carry, each
    against its ANSI twin."""
    from pyspark.sql import Window

    from ..functions.eventtime import event_micros
    from . import load

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        event_micros(ev).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wv = Window.partitionBy("user_id").orderBy("vc", "event_id")
    wc = Window.partitionBy("user_id").orderBy("vc")
    return e.select(
        "event_id",
        "user_id",
        (F.col("us") - F.lag("us").over(w)).alias("us_since_prev"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.ntile(4).over(wv).cast("long").alias("value_quartile"),
        F.cume_dist().over(wc).alias("value_cume"),
    )


# ====================================================================
# Set operations: INTERSECT / EXCEPT
# ====================================================================

_SETOPS_ORACLE = """
WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
nationals AS (SELECT DISTINCT c_custkey AS k FROM customer
              WHERE c_nationkey < 5),
i AS (SELECT k, 'both' AS membership FROM
      (SELECT k FROM buyers INTERSECT SELECT k FROM nationals)),
l AS (SELECT k, 'buyer_only' AS membership FROM
      (SELECT k FROM buyers EXCEPT SELECT k FROM nationals)),
r AS (SELECT k, 'national_only' AS membership FROM
      (SELECT k FROM nationals EXCEPT SELECT k FROM buyers))
SELECT k AS custkey, membership FROM i
UNION ALL SELECT k, membership FROM l
UNION ALL SELECT k, membership FROM r
"""


@query("customer_set_operations", _SETOPS_ORACLE)
def customer_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over customer key sets (buyers vs low-nation
    customers), labeled by membership — the set-operation family as
    DataFrame ``intersect``/``exceptAll`` on distinct sets.

    Each distinct set feeds THREE set operations; inlined, that was 3
    scans + 3 distinct shuffles PER SIDE (plans/r11/…_before.txt), so
    both key sets are materialized once (eager localCheckpoint — a
    distinct key column, KBs per million customers) and the set ops
    consume the materialized tables."""
    from . import load

    buyers = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nationals = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 5)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    both = buyers.intersect(nationals).withColumn(
        "membership", F.lit("both")
    )
    b_only = buyers.exceptAll(nationals).withColumn(
        "membership", F.lit("buyer_only")
    )
    n_only = nationals.exceptAll(buyers).withColumn(
        "membership", F.lit("national_only")
    )
    return (
        both.unionByName(b_only)
        .unionByName(n_only)
        .select(F.col("k").alias("custkey"), "membership")
    )


# ====================================================================
# TPC-H-shaped multi-join analytics (Q3 / Q5 adaptations)
# ====================================================================

#: Shared verbatim by Spark SQL and DuckDB (common-dialect subset:
#: DATE literals, CAST-to-STRING dates, integer-cent money).
_Q3_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS order_date
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-07-01'
  AND l_shipdate > DATE '1998-07-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue_cents DESC, l_orderkey ASC
LIMIT 10
"""


@query("tpch_q3_shipping_priority", _Q3_SQL)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (adapted to the driver corpus: no shippriority
    column): top-10 unshipped-revenue orders for one market segment.
    Catalyst plan: both date/segment predicates push into the parquet
    scans, customer (filtered, key-only) broadcasts under AQE, the
    orders↔lineitem join shuffles on orderkey, and the top-10 is a
    TakeOrderedAndProject — no global sort materializes.  Deterministic
    under ties via the orderkey tiebreak."""
    for t in ("customer", "orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL)


_Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01'
  AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
"""


@query("tpch_q5_local_supplier_volume", _Q5_SQL)
def tpch_q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5: revenue from intra-nation (customer nation == supplier
    nation) commerce per nation of one region.  Six-table join;
    Catalyst broadcasts the dim chain (region→nation→supplier), prunes
    the year predicate into the orders scan, and the only large
    shuffles are orders↔lineitem↔customer on their keys.  Money stays
    in integer cents end-to-end."""
    for t in (
        "customer", "orders", "lineitem", "supplier", "nation", "region"
    ):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q5_SQL)


_Q4_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01'
  AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", _Q4_SQL)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: orders of one quarter with at least one line shipped
    after the order date, counted per priority.  The correlated EXISTS
    compiles to a LEFT SEMI hash join on orderkey — lineitem is touched
    once, never multiplied into the probe side — with the quarter
    predicate pruned into the orders scan."""
    for t in ("orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q4_SQL)


_Q6_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01'
  AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", _Q6_SQL)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: potential revenue increase from discount elimination —
    a pure scan-filter-aggregate with no join at all.  All four
    predicates (ship year, discount band, quantity cap) push into the
    parquet scan, the aggregate is a map-side partial followed by a
    single-row exchange, and the whole pipeline is one WholeStageCodegen
    span.  Money is exact: price-cents x discount-basis-points as
    BIGINT (a fixed-point product of two exact integers), never a
    floating sum.  One SQL string runs verbatim on both engines."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '1996-01-01'
  AND o_orderdate < DATE '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_cents DESC, c_custkey ASC
LIMIT 20
"""


@query("tpch_q10_returned_items", _Q10_SQL)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in one
    half-year, with their nation.  The orders half-year predicate and
    the lineitem returnflag predicate both push into their scans before
    the orderkey shuffle join; nation broadcasts; the top-20 compiles
    to TakeOrderedAndProject (no global sort), deterministic under ties
    via the custkey tiebreak."""
    for t in ("customer", "orders", "lineitem", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q10_SQL)


# ====================================================================
# TPC-H Q14 (promo revenue share) — adapted to the corpus's p_type
# ====================================================================

_Q14_SQL = """
SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(round(l_extendedprice * (1 - l_discount)
                                     * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS promo_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS total_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-03-01'
"""


@query("tpch_q14_promo_revenue", _Q14_SQL)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotional revenue share over a ship-date window.
    The date predicate pushes into the lineitem scan; part (dim-sized)
    broadcasts, so the only exchange is the single-row final aggregate.
    Both the promo and total sums ride exact integer cents — the ratio
    is left to the consumer so the oracle never hashes a float
    division.  One SQL string runs verbatim on both engines."""
    for t in ("lineitem", "part"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q14_SQL)


# ====================================================================
# TPC-H Q18 (large-volume customers)
# ====================================================================

_Q18_SQL = """
WITH big AS (
    SELECT l_orderkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


@query("tpch_q18_large_volume", _Q18_SQL)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold only
    ~1% of orders reach, with their customers.  The HAVING aggregate
    runs FIRST and shrinks the fact table to a sliver; the surviving
    keys hash-join back to orders (same orderkey — AQE reuses the
    partitioning) and the customer dim broadcasts.  Quantities are
    integral doubles, compared and summed as BIGINT so the threshold
    and the output are exact."""
    for t in ("lineitem", "orders", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q18_SQL)


# ====================================================================
# TPC-H Q22 shape (anti join + exact scalar threshold)
# ====================================================================

_Q22_SQL = """
WITH stats AS (
    SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(count(*) AS BIGINT) AS n
    FROM customer WHERE c_acctbal > 0
),
urgent AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_custs,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS acctbal_cents
FROM customer CROSS JOIN stats
WHERE CAST(round(c_acctbal * 100) AS BIGINT) * stats.n > stats.total_cents
  AND NOT EXISTS (SELECT 1 FROM urgent WHERE urgent.o_custkey = c_custkey)
GROUP BY c_nationkey
"""


@query("customers_above_avg_no_urgent", _Q22_SQL)
def customers_above_avg_no_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with NO urgent
    orders, aggregated per nation.  NOT EXISTS compiles to a broadcast
    anti join against the DISTINCT urgent-customer set; the scalar
    average rides a one-row CROSS JOIN, and the above-average predicate
    is the exact integer cross-multiplication ``cents * n >
    total_cents`` — no float average is ever compared, so both engines
    agree bit-for-bit at any scale."""
    for t in ("customer", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q22_SQL)


# ====================================================================
# GROUPING SETS (multi-granularity aggregate in one pass)
# ====================================================================

_GROUPING_SETS_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS totalprice_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
"""


@query("orders_grouping_sets", _GROUPING_SETS_SQL)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: (status × priority), per-status, and grand total
    in ONE shuffle — Spark expands the sets map-side and partially
    aggregates before the exchange, so the three granularities cost one
    pass over the fact table instead of three.  Group keys are never
    NULL in the data, so COALESCE labels the rollup rows identically on
    both engines."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


# ====================================================================
# Top-k per group (windowed, not a global sort)
# ====================================================================

_TOP3_SQL = """
WITH ranked AS (
    SELECT o_orderpriority, o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
           ) AS rn
    FROM orders
)
SELECT o_orderpriority AS priority, o_orderkey, totalprice_cents,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3
"""


@query("priority_top3_orders", _TOP3_SQL)
def priority_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: the 3 highest-value orders per priority via a
    partitioned row_number — one shuffle on the group key, per-group
    sorts only (never a global sort), and the rn <= 3 filter prunes
    inside the window stage.  The orderkey tiebreak makes equal-price
    rows deterministic on both engines."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_TOP3_SQL)


# ====================================================================
# Equi-depth histogram (decile buckets via ntile)
# ====================================================================

_EQUIDEPTH_SQL = """
WITH e AS (
    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS vc FROM events
),
bucketed AS (
    SELECT vc,
           -- explicit NULLS FIRST: Spark runs this SAME string, and
           -- its ASC default (nulls first) differs from DuckDB's
           -- (nulls last) — null values land in bucket 1 on both
           CAST(ntile(10) OVER (ORDER BY vc NULLS FIRST, event_id)
                AS BIGINT) AS bucket
    FROM e
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(vc) AS BIGINT) AS lo_cents,
       CAST(max(vc) AS BIGINT) AS hi_cents
FROM bucketed GROUP BY bucket
"""


@query("events_equidepth_histogram", _EQUIDEPTH_SQL)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of event values: ntile over the
    global value order (event_id tiebreak makes bucket edges
    deterministic), then per-bucket count/min/max — the stats pass a
    query optimizer or drift monitor runs.  NOTE the global ntile is a
    single-partition sort by construction; at 100 TB the same output
    comes from approx_percentile edges + a broadcast bucket join — this
    query pins the EXACT semantics the approximate path is judged
    against (10 buckets over ~100k rows here is fine; the 10-row
    aggregate that follows is trivial)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_EQUIDEPTH_SQL)


# ====================================================================
# Skew-resistant salted JOIN (hot fact keys, unbroadcastable dim)
# ====================================================================

_SALTED_JOIN_ORACLE = """
WITH dim AS (
    SELECT DISTINCT user_id,
           'seg_' || CAST(user_id % 7 AS VARCHAR) AS segment
    FROM events
)
SELECT d.segment, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events e JOIN dim d ON e.user_id = d.user_id
GROUP BY d.segment, e.event_type
"""


@query("skew_salted_join", _SALTED_JOIN_ORACLE)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join (operators/skew.py
    salted_broadcastless_join): the fact side salts on a hash of its
    unique event_id, the dim side replicates into every salt bucket,
    and the join keys on (user_id, salt) — a hot user spreads over 8
    tasks instead of melting one, without relying on the dim fitting
    the broadcast threshold.  Results must equal the plain join, which
    is the oracle."""
    from ..operators.skew import salted_broadcastless_join
    from . import load

    events = load(spark, sf_dir, "events")
    dim = (
        events.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.concat(
                F.lit("seg_"), (F.col("user_id") % 7).cast("string")
            ).alias("segment"),
        )
    )
    fact = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    joined = salted_broadcastless_join(
        fact, dim, "user_id", n_salts=8, salt_source="event_id"
    )
    return joined.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vc").cast("long").alias("value_cents"),
    )


# ====================================================================
# UNPIVOT (wide measures → long) with exact per-measure totals
# ====================================================================

_UNPIVOT_ORACLE = """
WITH long AS (
    SELECT l_returnflag, 'quantity' AS measure,
           CAST(round(l_quantity * 100) AS BIGINT) AS cents
    FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'extendedprice',
           CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'discount',
           CAST(round(l_discount * 100) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'tax',
           CAST(round(l_tax * 100) AS BIGINT) FROM lineitem
)
SELECT l_returnflag, measure,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total_hundredths
FROM long GROUP BY l_returnflag, measure
"""


@query("lineitem_unpivot_measures", _UNPIVOT_ORACLE)
def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT: the four lineitem measures melt to (returnflag, measure,
    value) via DataFrame.unpivot — ONE scan emitting 4 rows per input
    row map-side (the oracle's UNION ALL shape would scan four times),
    then an exact fixed-point aggregate per (flag, measure)."""
    from . import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("quantity"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("extendedprice"),
        F.round(F.col("l_discount") * 100).cast("long").alias("discount"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"),
    )
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["quantity", "extendedprice", "discount", "tax"],
        variableColumnName="measure",
        valueColumnName="cents",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_hundredths"),
    )


# ====================================================================
# Calendar-semantics weekly rollup (date_trunc parity, not epoch math)
# ====================================================================

_WEEKLY_ORACLE = """
SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR)
           AS week_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
GROUP BY 1
"""


@query("events_weekly_calendar", _WEEKLY_ORACLE)
def events_weekly_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-week rollup through the CALENDAR path (date_trunc on a real
    timestamp), not epoch integer division — pins that the engine's
    timestamp semantics (type-adaptive event micros → timestamp, UTC
    session) agree with the oracle's naive calendar on week boundaries,
    where a timezone shift or a Sunday-start convention would diverge."""
    from ..streaming.windows import event_time
    from . import load

    ev = event_time(load(spark, sf_dir, "events"))
    return (
        ev.groupBy(
            F.date_trunc("week", F.col("event_ts"))
            .cast("date")
            .cast("string")
            .alias("week_start")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )


# ====================================================================
# Correlated scalar subqueries (decorrelation path)
# ====================================================================

_CORRELATED_SQL = """
SELECT o.o_orderkey,
       o.o_custkey,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       CAST(round(o.o_totalprice * 100) AS BIGINT)
           * (SELECT count(*) FROM orders i
              WHERE i.o_custkey = o.o_custkey)
           > (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
              FROM orders i WHERE i.o_custkey = o.o_custkey)
           AS above_customer_avg
FROM orders o
"""


@query("orders_above_customer_avg", _CORRELATED_SQL)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries: each order compared against ITS
    customer's average order value, with the above-average predicate
    as the exact integer cross-multiplication ``cents * n >
    total_cents`` — no float division on the hash.

    The oracle keeps the verbatim correlated form; the engine runs the
    hand-decorrelated WINDOW twin (count/sum OVER (PARTITION BY
    o_custkey)).  Catalyst's own decorrelation planned THREE orders
    scans (one per subquery plus the outer — 2 aggregate+join
    subtrees, plans/r11/orders_above_customer_avg_before.txt); the
    window form is one scan + one custkey exchange for identical
    values.  Catalyst's decorrelation path stays covered by
    `customers_above_avg_no_urgent`."""
    orders = load(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        cents.alias("totalprice_cents"),
        (
            cents * F.count(F.lit(1)).over(w)
            > F.sum(cents).over(w)
        ).alias("above_customer_avg"),
    )


# ====================================================================
# Window breadth II: first_value / last_value / nth_value
# ====================================================================

_FIRST_LAST_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
w AS (
    SELECT user_id,
           first_value(event_type) OVER win AS first_type,
           last_value(event_type) OVER win AS last_type,
           nth_value(event_id, 2) OVER win AS second_event_id,
           row_number() OVER (
               PARTITION BY user_id ORDER BY us, event_id
           ) AS rn
    FROM e
    WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
)
SELECT user_id, first_type, last_type, second_event_id
FROM w WHERE rn = 1
"""


@query("events_first_last_nth", _FIRST_LAST_ORACLE)
def events_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spanning window breadth: each user's first/last event type
    and second event id via first_value / last_value / nth_value over
    an unbounded frame, reduced to one row per user.  (us, event_id)
    ordering makes every pick deterministic; one shuffle on user_id
    serves all four window expressions."""
    from pyspark.sql import Window

    from ..functions.eventtime import event_micros
    from . import load

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", "event_type", event_micros(ev).alias("us")
    )
    full = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ordered = Window.partitionBy("user_id").orderBy("us", "event_id")
    return (
        e.select(
            "user_id",
            F.first("event_type").over(full).alias("first_type"),
            F.last("event_type").over(full).alias("last_type"),
            F.nth_value("event_id", 2).over(full).alias("second_event_id"),
            F.row_number().over(ordered).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ====================================================================
# CUBE (all grouping combinations in one pass)
# ====================================================================

_CUBE_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(CAST(year(o_orderdate) AS STRING), 'ALL') AS order_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS totalprice_cents
FROM orders
GROUP BY CUBE (o_orderstatus, year(o_orderdate))
"""


@query("orders_cube_status_year", _CUBE_SQL)
def orders_cube_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all four granularities of (status × order year) — detail,
    each one-dimensional margin, and the grand total — expanded
    map-side into one shuffle like GROUPING SETS; the year key is a
    computed expression, pinning that grouping-expression (not just
    column) cubes agree across engines.  Keys are never NULL in the
    data, so COALESCE labels margins identically."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CUBE_SQL)


# ====================================================================
# TPC-H Q7 (volume shipping between two nations)
# ====================================================================

_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(vol_cents) AS BIGINT) AS revenue_cents
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT) AS vol_cents
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_nation_volume", _Q7_SQL)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipped volume between two nations, both directions,
    per ship year.  Both nation dims broadcast (25 rows each) and the
    OR-of-direction predicate is applied after they do, so the only
    large exchanges are the fact joins on suppkey/orderkey/custkey;
    the two-year window prunes into the lineitem scan.  Money rides
    integer cents; the year is extracted as BIGINT on both engines."""
    for t in ("supplier", "lineitem", "orders", "customer", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q7_SQL)


# ====================================================================
# TPC-H Q8 (national market share inside one region)
# ====================================================================

_Q8_SQL = """
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_cents
                     ELSE 0 END) AS BIGINT) AS nation_cents,
       CAST(sum(vol_cents) AS BIGINT) AS total_cents
FROM (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           n2.n_name AS supp_nation,
           CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT) AS vol_cents
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA'
      AND p_type = 'PROMO'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1998-01-01'
) all_nations
GROUP BY o_year
"""


@query("tpch_q8_market_share", _Q8_SQL)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of PROMO-part revenue sold
    into one region's market, per order year.  Eight-table join where
    every dimension (part filtered to one type, both nations, region)
    broadcasts; numerator and denominator are separate exact-integer
    sums in ONE aggregate pass (the ratio is the consumer's float, so
    the oracle never hashes a division)."""
    for t in (
        "part", "lineitem", "supplier", "orders",
        "customer", "nation", "region",
    ):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q8_SQL)


# ====================================================================
# TPC-H Q9 shape (product-line profit; retail price stands in for the
# absent partsupp.ps_supplycost — the corpus has no partsupp table)
# ====================================================================

_Q9_SQL = """
SELECT nation, o_year,
       CAST(sum(profit_cents) AS BIGINT) AS profit_cents
FROM (
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)
           - CAST(round(p_retailprice * 100) AS BIGINT)
             * CAST(round(l_quantity) AS BIGINT) / 10 AS profit_cents
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
"""


@query("tpch_q9_product_profit", _Q9_SQL)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year over a
    part-name pattern ('%gear%') (the reference schema's ps_supplycost does not
    exist in this corpus, so a tenth of retail price stands in as unit
    cost — same join/aggregate topology).  The LIKE predicate prunes
    part before its broadcast; profit arithmetic is exact integer
    cents end-to-end (integral quantities, integer division by a
    constant 10 — identical truncation on both engines)."""
    for t in ("part", "lineitem", "supplier", "orders", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q9_SQL)


# ====================================================================
# TPC-H Q12 shape (late shipments per priority class; the corpus has
# no l_shipmode/commitdate/receiptdate, so lateness = shipped more
# than 90 days after the order date)
# ====================================================================

_Q12_SQL = """
SELECT late,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
    SELECT o_orderpriority,
           CASE WHEN l_shipdate >= o_orderdate + INTERVAL 90 DAY
                THEN 1 ELSE 0 END AS late
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
) flagged
GROUP BY late
"""


@query("tpch_q12_late_lines", _Q12_SQL)
def tpch_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts by priority class, split by whether
    the line shipped >= 90 days after its order date (the corpus
    carries no shipmode/commit/receipt dates, so ship-lag is the
    lateness signal — same join + dual conditional count topology).
    The year predicate prunes the orders scan; one orderkey join, one
    two-row aggregate; the timestamp+INTERVAL comparison is identical
    syntax and semantics on both engines."""
    for t in ("orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q12_SQL)


# ====================================================================
# TPC-H Q13 (customer order-count distribution, zero bucket included)
# ====================================================================

_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
                    AND o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@query("tpch_q13_order_distribution", _Q13_SQL)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of per-customer order counts with
    never-ordered customers in the zero bucket — the LEFT join with
    the filter in the JOIN condition (not WHERE, which would destroy
    the outer semantics) is the whole point of the query.  count(col)
    skips the NULLs unmatched customers produce; the second aggregate
    is over at most a few hundred distinct counts."""
    for t in ("customer", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q13_SQL)


# ====================================================================
# TPC-H Q15 (top supplier by quarterly revenue)
# ====================================================================

#: Quarter-revenue per supplier — shared verbatim between the oracle
#: CTE and the engine's materialization (one source of truth).
_Q15_REVENUE_BODY = """
    SELECT l_suppkey AS supplier_no,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS total_cents
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1996-04-01'
    GROUP BY l_suppkey
"""

_Q15_TAIL = """
SELECT s_suppkey, s_name, total_cents
FROM supplier
JOIN {revenue} ON s_suppkey = supplier_no
WHERE total_cents = (SELECT max(total_cents) FROM {revenue})
"""

_Q15_SQL = (
    f"WITH revenue AS ({_Q15_REVENUE_BODY})"
    + _Q15_TAIL.format(revenue="revenue")
)


@query("tpch_q15_top_supplier", _Q15_SQL)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the maximum revenue in one
    quarter.  The revenue CTE aggregates the pruned quarter slice once
    and is referenced twice (detail + scalar max) — Catalyst plans the
    scalar subquery as a one-row broadcast against the re-used
    aggregate, and the supplier dim broadcasts onto the handful of
    surviving rows.  Exact integer revenue makes the max comparison —
    and any ties — deterministic across engines.

    The revenue CTE is consumed twice (detail + scalar max); Catalyst
    inlines it into both, re-running the quarter aggregation.  The
    engine materializes it ONCE (eager localCheckpoint — one row per
    active supplier, KBs) and runs the max-filter tail over the view;
    the oracle stays the single verbatim SQL."""
    for t in ("supplier", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    rev = spark.sql(f"SELECT * FROM (\n{_Q15_REVENUE_BODY}\n)")
    rev.localCheckpoint(eager=True).createOrReplaceTempView("q15_revenue")
    return spark.sql(_Q15_TAIL.format(revenue="q15_revenue"))


# ====================================================================
# TPC-H Q16 shape (supplier breadth per part attribute; distinct
# shipping suppliers from lineitem stand in for the absent partsupp)
# ====================================================================

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#4'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p_brand, p_type, p_size
"""


@query("tpch_q16_supplier_breadth", _Q16_SQL)
def tpch_q16_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each
    (brand, type, size) bucket, excluding one brand and one type (the
    corpus has no partsupp, so observed shipments from lineitem stand
    in for the catalog relation — same filtered-dim + count-distinct
    topology).  The three part predicates prune the broadcast dim
    BEFORE the join; count(DISTINCT) expands to the standard two-level
    aggregate, partial per partition first."""
    for t in ("part", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q16_SQL)


# ====================================================================
# TPC-H Q17 (small-quantity orders for one brand, exact avg compare)
# ====================================================================

_Q17_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS small_qty_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
    SELECT l_partkey AS agg_partkey,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_qty
    FROM lineitem
    GROUP BY l_partkey
) part_agg ON agg_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND CAST(round(l_quantity) AS BIGINT) * 5 * n_qty < sum_qty
"""


@query("tpch_q17_small_quantity", _Q17_SQL)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue locked in lines whose quantity is below 20%
    of their part's average order quantity, for one brand.  The
    correlated AVG subquery is decorrelated by hand into a per-part
    aggregate joined back on partkey, and the 0.2×avg comparison is
    cross-multiplied (5·q·n < Σq) so it stays in EXACT integer
    arithmetic — no float average ever exists on either engine.  The
    brand predicate prunes the part dim before broadcast."""
    for t in ("lineitem", "part"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q17_SQL)


# ====================================================================
# TPC-H Q19 (OR-of-bands discounted revenue)
# ====================================================================

_Q19_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@query("tpch_q19_banded_revenue", _Q19_SQL)
def tpch_q19_banded_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from three OR-ed (brand, size, quantity)
    bands — the classic disjunctive-predicate join.  Catalyst extracts
    the common join key, broadcasts part, and evaluates the residual
    OR after the join; the quantity bounds partially push to the
    lineitem scan as (1 <= q AND q <= 30).  One exact-integer
    aggregate row out."""
    for t in ("lineitem", "part"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q19_SQL)


# ====================================================================
# TPC-H Q21 shape (supplier who alone shipped last in multi-supplier
# orders; ship-lag replaces the absent commit/receipt dates)
# ====================================================================

_Q21_SQL = """
WITH os AS (
    SELECT l_orderkey,
           max(l_shipdate) AS max_ship,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
    FROM lineitem
    GROUP BY l_orderkey
),
last_lines AS (
    SELECT DISTINCT l.l_orderkey, l.l_suppkey
    FROM lineitem l
    JOIN os ON l.l_orderkey = os.l_orderkey
    WHERE l.l_shipdate = os.max_ship AND os.n_supp >= 2
),
sole AS (
    SELECT l_orderkey, min(l_suppkey) AS suppkey
    FROM last_lines
    GROUP BY l_orderkey
    HAVING count(*) = 1
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM sole
JOIN supplier ON s_suppkey = suppkey
GROUP BY s_name
"""


@query("tpch_q21_sole_late_supplier", _Q21_SQL)
def tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: for every multi-supplier order, the supplier
    who ALONE shipped the final line — the "everyone else was done,
    this one held the order" signal (the corpus has no commit/receipt
    dates, so latest ship date stands in).  The reference formulation's
    correlated EXISTS/NOT-EXISTS pair is re-expressed as per-order
    aggregates joined back on orderkey (the oracle keeps that verbatim
    SQL).

    r11 engine plan (§1.1, §2.3, §2.4): ONE lineitem pass.  The fact
    is first aggregated to (orderkey, suppkey) grain — per-supplier
    max ship date — which simultaneously (a) removes the second
    lineitem scan, (b) replaces the os CTE's count(DISTINCT
    l_suppkey) expansion over raw lines with a plain count over the
    aggregated grain, and (c) shrinks the join-back to a window over
    the aggregated table riding the SAME orderkey exchange.  Within
    each order: n_supp = rows at the (order, supp) grain, max_ship =
    max of per-supplier maxes, a supplier "shipped last" iff its
    per-supplier max equals max_ship, and the sole-late filter is
    exactly one last-shipper in a multi-supplier order — row-identical
    to the join form by construction."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    from pyspark.sql import Window

    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "supp_max",
        F.max("supp_max").over(w).alias("max_ship"),
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum(
            F.when(
                F.col("supp_max")
                == F.max("supp_max").over(w),
                1,
            ).otherwise(0)
        )
        .over(w)
        .alias("n_last"),
    )
    sole = flagged.where(
        (F.col("supp_max") == F.col("max_ship"))
        & (F.col("n_supp") >= 2)
        & (F.col("n_last") == 1)
    ).select(F.col("l_suppkey").alias("suppkey"))
    return (
        sole.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("s_suppkey") == F.col("suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ====================================================================
# Derived PARTSUPP (the corpus has no partsupp table; both engines
# derive the same one from lineitem in exact integer arithmetic)
# ====================================================================

_PARTSUPP_CTE = """
partsupp AS (
    SELECT l_partkey AS ps_partkey,
           l_suppkey AS ps_suppkey,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS ps_availqty,
           CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS ps_supplycost_cents
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
"""


# ====================================================================
# TPC-H Q2 shape (minimum-cost supplier per part in a region)
# ====================================================================

_Q2_SQL = f"""
WITH {_PARTSUPP_CTE},
eligible AS (
    SELECT ps_partkey, ps_suppkey, ps_supplycost_cents,
           min(ps_supplycost_cents)
               OVER (PARTITION BY ps_partkey) AS min_cost
    FROM partsupp
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       ps_supplycost_cents
FROM eligible
JOIN part ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE ps_supplycost_cents = min_cost
  AND p_size = 15 AND p_type = 'SMALL'
"""


@query("tpch_q2_min_cost_supplier", _Q2_SQL)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest in-region supplier for every part
    of one size/type.  The corpus carries no partsupp table, so both
    engines derive the identical one from lineitem (availqty = total
    shipped quantity, supplycost = minimum observed price-in-cents —
    exact integer aggregates, so the derivation is bit-identical).
    The correlated MIN subquery of the official text is re-expressed
    as ``min() OVER (PARTITION BY ps_partkey)`` — a window that rides
    the partkey exchange instead of a self-join, so the plan has NO
    sort-merge join: one shuffle for the partsupp groupBy, one for the
    window, broadcast joins for every dim.  The (size, type) predicate
    prunes the part dim before its broadcast.

    r12 (guide §3.2): when lineitem is large, the engine pre-filters it
    with a broadcast SEMI-join on the (size, type)-filtered part keys
    BEFORE the partsupp aggregate.  Only those partkeys can reach the
    output (the final part join drops every other key), and the
    pre-filter removes whole (partkey, suppkey) groups — never rows
    within a surviving group — so every surviving group's sum/min is
    byte-identical.  The oracle keeps the verbatim unfiltered SQL;
    hash-parity at two SFs on the pre-filter path is the equivalence
    proof.  At 100 TB this turns the full-lineitem groupBy (the
    query's only fact shuffle) into a ~0.1%-sliver aggregate behind a
    broadcast filter.

    The pre-filter is gated on the fact's on-disk size — the same
    tradeoff Spark's own runtime Bloom-filter injection (SPARK-32268)
    gates with ``applicationSideScanSizeThreshold``: the filter build
    (one extra part scan + broadcast) plus the per-row probe is a
    fixed cost that only pays once the avoided aggregate shuffle
    dominates it.  Measured at sf0.1/local[32] the pre-filter LOSES
    (1.37 → 1.62s: the saved shuffle is ~1 MB); the crossover is when
    lineitem no longer fits the aggregate's map side comfortably.
    ``spark.graft.q2.prefilterMinBytes`` (default 1 GiB) parameterises
    it; both paths are oracle-verified."""
    for t in ("lineitem", "part", "supplier", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    min_bytes = int(
        spark.conf.get("spark.graft.q2.prefilterMinBytes", str(1 << 30))
    )
    if table_bytes(sf_dir, "lineitem") < min_bytes:
        return spark.sql(_Q2_SQL)
    part_f = (
        load(spark, sf_dir, "part")
        .where((F.col("p_size") == 15) & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    (
        load(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(part_f),
            F.col("l_partkey") == F.col("p_partkey"),
            "semi",
        )
        .createOrReplaceTempView("lineitem_q2_parts")
    )
    return spark.sql(
        _Q2_SQL.replace("FROM lineitem", "FROM lineitem_q2_parts")
    )


# ====================================================================
# TPC-H Q11 shape (important stock: parts above a share-of-region
# inventory-value threshold)
# ====================================================================

#: Per-part regional inventory value — shared verbatim between the
#: oracle CTE and the engine's materialization (one source of truth).
_Q11_NAT_BODY = """
    SELECT ps_partkey,
           CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT)
               AS value_cents
    FROM partsupp
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY ps_partkey
"""

#: Threshold tail over the per-part values — `{nat}` is the relation
#: holding the nat rows (the CTE name in the oracle, the materialized
#: view in the engine).
_Q11_TAIL = """
WITH tot AS (
    SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM {nat}
)
SELECT ps_partkey, value_cents
FROM {nat} CROSS JOIN tot
WHERE value_cents * n_parts * 2 > total_cents * 3
"""

_Q11_SQL = (
    f"WITH {_PARTSUPP_CTE},\nnat AS ({_Q11_NAT_BODY})\n"
    + _Q11_TAIL.format(nat="nat").replace("WITH tot", ", tot", 1)
)


@query("tpch_q11_important_stock", _Q11_SQL)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value within one region
    exceeds 1.5x the regional per-part mean.  The official query's
    fixed 0.0001/SF fraction bakes the scale factor into the predicate;
    the mean-relative threshold here is scale-free (selective at every
    sf) and stays EXACT: ``value * n * 2 > total * 3`` is the float
    comparison cross-multiplied into pure BIGINT terms.  The scalar
    (total, count) row rides a 1-row CROSS JOIN — broadcast, not a
    driver collect — and the supplier->nation->region chain folds into
    one broadcast dim before the partsupp shuffle.

    The nat CTE is consumed twice (the scalar total and the detail
    filter); Catalyst inlines it into BOTH branches, so the
    lineitem-sized partsupp aggregation ran twice per query (16 Scan
    parquet nodes, 0 ReusedExchange — plans/r11/…_before.txt).  The
    engine therefore materializes nat ONCE (eager localCheckpoint —
    it is |parts-in-region| rows, KBs at any sf) and runs the
    threshold tail over the materialized view; the oracle stays the
    single verbatim SQL (DuckDB plans each CTE once, so its cost was
    never the issue).  Same r11 pattern as sql_recursive_reachability."""
    for t in ("lineitem", "supplier", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    nat = spark.sql(f"WITH {_PARTSUPP_CTE} {_Q11_NAT_BODY}")
    nat.localCheckpoint(eager=True).createOrReplaceTempView("q11_nat")
    return spark.sql(_Q11_TAIL.format(nat="q11_nat"))


# ====================================================================
# TPC-H Q20 shape (suppliers whose shipments of one part family
# concentrate in the probe year)
# ====================================================================

_Q20_SQL = """
WITH red AS (
    SELECT l_suppkey,
           CAST(sum(CASE WHEN l_shipdate >= DATE '1997-01-01'
                          AND l_shipdate < DATE '1998-01-01'
                         THEN CAST(round(l_quantity) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS qty_1997,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS qty_all
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'red%'
    GROUP BY l_suppkey
)
SELECT s_name, s_acctbal, qty_1997, qty_all
FROM red
JOIN supplier ON s_suppkey = l_suppkey
WHERE qty_1997 * 5 > qty_all
"""


@query("tpch_q20_part_promotion", _Q20_SQL)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose 'red*' part shipments
    concentrate in the probe year (>20% of their all-time volume —
    the corpus spans 7 years, so a uniform supplier sits near 14%).
    The official nested IN(IN(...)) pair is collapsed into ONE
    conditional aggregate over the name-filtered join: both the
    window-year quantity and the all-time quantity come out of a
    single groupBy(l_suppkey) pass, so the query does one broadcast
    (pruned part dim), one shuffle (suppkey), and the threshold is the
    float fraction cross-multiplied into BIGINTs (``5*q_win >
    q_all``).  At 100 TB the name predicate prunes the broadcast dim
    to ~1/8 of parts and everything else is map-side."""
    for t in ("lineitem", "part", "supplier"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q20_SQL)


# ====================================================================
# Recursive CTE (Spark 4): transitive reachability on the hand-off
# graph
# ====================================================================

_RECURSIVE_REACH_SQL = """
WITH RECURSIVE
seq AS (
    SELECT event_type, user_id,
           lead(user_id) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) AS nxt
    FROM events
),
edges AS (
    SELECT DISTINCT user_id AS src, nxt AS dst
    FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id
),
reach AS (
    SELECT user_id AS node, CAST(0 AS BIGINT) AS hop
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 0)
    UNION ALL
    SELECT DISTINCT e.dst AS node, r.hop + 1 AS hop
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.hop < 2
)
SELECT node AS user_id,
       CAST(min(hop) AS BIGINT) AS min_hops,
       CAST(count(*) AS BIGINT) AS n_hop_levels
FROM reach GROUP BY node
"""


@query("sql_recursive_reachability", _RECURSIVE_REACH_SQL)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE: 2-hop transitive reachability from seed
    users over the DISTINCT hand-off graph — per reached node the
    minimum hop count and the count of hop depths at which it appears,
    both exact integers.  The recursion is depth-bounded (UNION ALL +
    hop guard, so termination is structural, not fixpoint-detected);
    each expansion step is one src-keyed join, the same shuffle shape
    as the PageRank iterations, planned by Catalyst's UnionLoop.  One
    SQL string runs verbatim on both engines — recursive SQL parity.

    The expansion step is SELECT DISTINCT — the frontier dedup that
    makes BFS linear in nodes-per-level.  The original UNION ALL form
    enumerated PATH-VISITS, which is combinatorial on a dense graph:
    the r9 zipf corpus (hot user on 28% of events, so nearly every
    user hands off to it and it hands off to nearly everyone) blew
    Spark's 1M recursion row limit at 2 hops.  Per-level rows are now
    bounded by |nodes| at any density.

    r11: the edge table is materialized ONCE (eager localCheckpoint)
    before the recursion.  Catalyst's UnionLoop re-evaluates the
    recursive step's whole subplan per level, so an inline ``edges``
    CTE re-ran the events window + DISTINCT once PER HOP (measured
    6.5s → 2.1s at sf0.1; at 100 TB it is hops× full-fact passes
    saved).  The oracle stays the single verbatim recursive SQL."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    edges = spark.sql(
        """
        SELECT DISTINCT user_id AS src, nxt AS dst FROM (
            SELECT user_id,
                   lead(user_id) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS nxt
            FROM events
        ) WHERE nxt IS NOT NULL AND nxt <> user_id
        """
    ).localCheckpoint(eager=True)
    edges.createOrReplaceTempView("__reach_edges")
    return spark.sql(
        """
        WITH RECURSIVE
        reach AS (
            SELECT user_id AS node, CAST(0 AS BIGINT) AS hop
            FROM (SELECT DISTINCT user_id FROM events
                  WHERE user_id % 50 = 0)
            UNION ALL
            SELECT DISTINCT e.dst AS node, r.hop + 1 AS hop
            FROM reach r JOIN __reach_edges e ON e.src = r.node
            WHERE r.hop < 2
        )
        SELECT node AS user_id,
               CAST(min(hop) AS BIGINT) AS min_hops,
               CAST(count(*) AS BIGINT) AS n_hop_levels
        FROM reach GROUP BY node
        """
    )


# --------------------------------------------------------------------
# One-pass table profiler (per-column nulls / distincts / extrema)
# --------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH t AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           o_orderdate, o_orderpriority
    FROM orders
),
wide AS (
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_orderkey) AS BIGINT) AS nn1,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
           CAST(min(o_orderkey) AS STRING) AS mn1,
           CAST(max(o_orderkey) AS STRING) AS mx1,
           CAST(count(o_custkey) AS BIGINT) AS nn2,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
           CAST(min(o_custkey) AS STRING) AS mn2,
           CAST(max(o_custkey) AS STRING) AS mx2,
           CAST(count(o_orderstatus) AS BIGINT) AS nn3,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
           CAST(min(o_orderstatus) AS STRING) AS mn3,
           CAST(max(o_orderstatus) AS STRING) AS mx3,
           CAST(count(price_cents) AS BIGINT) AS nn4,
           CAST(count(DISTINCT price_cents) AS BIGINT) AS nd4,
           CAST(min(price_cents) AS STRING) AS mn4,
           CAST(max(price_cents) AS STRING) AS mx4,
           CAST(count(o_orderdate) AS BIGINT) AS nn5,
           CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd5,
           CAST(min(o_orderdate) AS STRING) AS mn5,
           CAST(max(o_orderdate) AS STRING) AS mx5,
           CAST(count(o_orderpriority) AS BIGINT) AS nn6,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd6,
           CAST(min(o_orderpriority) AS STRING) AS mn6,
           CAST(max(o_orderpriority) AS STRING) AS mx6
    FROM t
)
SELECT 'o_orderkey' AS col_name, n_rows, n_rows - nn1 AS n_nulls,
       nd1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM wide
UNION ALL
SELECT 'o_custkey', n_rows, n_rows - nn2, nd2, mn2, mx2 FROM wide
UNION ALL
SELECT 'o_orderstatus', n_rows, n_rows - nn3, nd3, mn3, mx3 FROM wide
UNION ALL
SELECT 'price_cents', n_rows, n_rows - nn4, nd4, mn4, mx4 FROM wide
UNION ALL
SELECT 'o_orderdate', n_rows, n_rows - nn5, nd5, mn5, mx5 FROM wide
UNION ALL
SELECT 'o_orderpriority', n_rows, n_rows - nn6, nd6, mn6, mx6 FROM wide
"""


@query("orders_table_profile", _PROFILE_ORACLE)
def orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (the dbt-docs / Deequ 'analyze' pass):
    per column of orders — row count, null count, distinct count, and
    min/max rendered as strings — in ONE scan.  Spark plans the six
    count-DISTINCTs as a single Expand (6× row multiplication,
    map-side) rather than six scans; the single wide row is then
    unpivoted to long form with stack(), which is driver-free.  Money
    profiles in integer cents so the string rendering is
    engine-stable.  At 100 TB the drop-in scale variant is
    approx_count_distinct per column (HLL merge, no Expand) — same
    output schema."""
    t = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
        "o_orderdate",
        "o_orderpriority",
    )
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "price_cents",
        "o_orderdate",
        "o_orderpriority",
    ]
    # r12: min/max over a STRING column puts a var-length field in the
    # aggregation buffer, which HashAggregate cannot hold — the whole
    # wide aggregate (including the 6-way count-distinct Expand) fell
    # back to SortAggregate, i.e. a SORT of |rows|×7 expanded rows
    # (measured 36 CPU-seconds at sf0.1, the entire cost of the query).
    # Split by buffer width instead: the full pass keeps only
    # fixed-width buffers (counts, numeric/date min-max — pure
    # HashAggregate), and the two low-cardinality string columns are
    # profiled from their distinct-pair table (hash-aggregated keys,
    # no var-length buffer until the input is ≤|status|×|priority|
    # rows).  Same values by construction: count/min/max over the
    # distinct projection equal those over the raw column.
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for i, c in enumerate(cols):
        aggs.append(F.count(c).cast("long").alias(f"nn{i}"))
        if c not in str_cols:
            aggs += [
                F.count_distinct(F.col(c)).cast("long").alias(f"nd{i}"),
                F.min(c).cast("string").alias(f"mn{i}"),
                F.max(c).cast("string").alias(f"mx{i}"),
            ]
    str_aggs = []
    for i, c in enumerate(cols):
        if c in str_cols:
            str_aggs += [
                F.count_distinct(F.col(c)).cast("long").alias(f"nd{i}"),
                F.min(c).cast("string").alias(f"mn{i}"),
                F.max(c).cast("string").alias(f"mx{i}"),
            ]
    # eager checkpoint: Catalyst otherwise collapses the distinct INTO
    # the string aggregate (Expand + SortAggregate over the raw rows —
    # the exact fallback this split avoids); the pair table is bounded
    # by |status|×|priority| (~15 rows), so the materialization is free
    pairs = t.select(*str_cols).distinct().localCheckpoint(eager=True)
    wide = t.agg(*aggs).crossJoin(F.broadcast(pairs.agg(*str_aggs)))
    stack_args = ", ".join(
        f"'{c}', n_rows - nn{i}, nd{i}, mn{i}, mx{i}"
        for i, c in enumerate(cols)
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_val, max_val)"
        ),
        "n_rows",
    ).select(
        "col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val"
    )


# --------------------------------------------------------------------
# Trend regression (exact-integer least squares over daily counts)
# --------------------------------------------------------------------

_TREND_ORACLE = """
WITH daily AS (
    SELECT o_orderpriority AS priority,
           CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS x,
           CAST(count(*) AS BIGINT) AS y
    FROM orders
    GROUP BY o_orderpriority, x
),
sums AS (
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM daily GROUP BY priority
)
SELECT priority, n_days, sy AS total_orders,
       n_days * sxy - sx * sy AS slope_num,
       n_days * sxx - sx * sx AS slope_den,
       -- truncate-toward-zero ppm; sign rides out front so both
       -- engines' integer division agrees.  A single-day segment
       -- makes the denominator 0 (DuckDB // raises, Spark div
       -- NULLs): render NULL on both sides instead.
       CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
            WHEN n_days * sxy - sx * sy >= 0
            THEN CAST((n_days * sxy - sx * sy) * 1000000
                      // (n_days * sxx - sx * sx) AS BIGINT)
            ELSE -CAST((sx * sy - n_days * sxy) * 1000000
                       // (n_days * sxx - sx * sx) AS BIGINT)
       END AS slope_ppm_per_day
FROM sums
"""


@query("orders_trend_regression", _TREND_ORACLE)
def orders_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment linear trend (is order volume growing?): ordinary
    least squares of daily order counts against the day index, with
    the slope carried as an exact integer rational (numerator /
    denominator from the moment sums, plus a truncated ppm-per-day
    rendering) — closed-form regression needs only Σx Σy Σxy Σx²,
    which partial-aggregate map-side and never materialize the series.
    Two cheap shuffles (priority×day, then priority); day indices are
    exact integers from midnight timestamps, so both engines compute
    bit-identical moments.  This is the shape regr_slope() computes in
    floats — done here in integers so the oracle hash is stable."""
    from ..functions.eventtime import event_micros

    t = load(spark, sf_dir, "orders")
    daily = (
        t.select(
            F.col("o_orderpriority").alias("priority"),
            (event_micros(t, "o_orderdate") / 86_400_000_000)
            .cast("long")
            .alias("x"),
        )
        .groupBy("priority", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    sums = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n_days"),
        F.col("sx"),
        F.col("sy"),
        F.col("sxy"),
        F.col("sxx"),
    )
    return sums.select(
        "priority",
        "n_days",
        sy.alias("total_orders"),
        (n * sxy - sx * sy).alias("slope_num"),
        (n * sxx - sx * sx).alias("slope_den"),
        # degenerate segment (one distinct day) => denominator 0;
        # DuckDB `//` raises while Spark `div` NULLs, so emit NULL
        # explicitly on both sides (ADVICE r5).
        F.when(n * sxx - sx * sx == 0, F.lit(None))
        .when(
            n * sxy - sx * sy >= 0,
            F.expr(
                "(n_days * sxy - sx * sy) * 1000000"
                " div (n_days * sxx - sx * sx)"
            ),
        )
        .otherwise(
            -F.expr(
                "(sx * sy - n_days * sxy) * 1000000"
                " div (n_days * sxx - sx * sx)"
            )
        )
        .cast("long")
        .alias("slope_ppm_per_day"),
    )


# --------------------------------------------------------------------
# Largest-remainder proration (cents that sum back exactly)
# --------------------------------------------------------------------

_PRORATE_ORACLE = """
WITH li AS (
    SELECT l_orderkey AS k, l_linenumber AS ln,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
),
o AS (
    SELECT o_orderkey AS k,
           CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
    FROM orders
),
base AS (
    SELECT li.k, li.ln, li.qty, o.total_cents,
           sum(li.qty) OVER (PARTITION BY li.k) AS qty_sum,
           CAST(o.total_cents * li.qty
                // sum(li.qty) OVER (PARTITION BY li.k) AS BIGINT)
               AS floor_cents,
           o.total_cents * li.qty
             % sum(li.qty) OVER (PARTITION BY li.k) AS remainder
    FROM li JOIN o ON o.k = li.k
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY k ORDER BY remainder DESC, ln, qty
    ) AS rr,
    CAST(total_cents - sum(floor_cents) OVER (PARTITION BY k) AS BIGINT)
        AS shortfall
    FROM base
)
SELECT k, ln, qty,
       floor_cents + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END
           AS alloc_cents
FROM ranked
"""


@query("lineitem_prorate_cents", _PRORATE_ORACLE)
def lineitem_prorate_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder money allocation: each order's total is split
    across its line items proportionally to quantity, in whole cents
    that SUM BACK EXACTLY — floor every share, then hand the leftover
    cents to the largest fractional remainders (line number breaks
    remainder ties deterministically).  Naive rounding leaks cents;
    this is the allocation rule billing and revenue-recognition
    pipelines are audited against.  All three windows (share floor,
    remainder rank, shortfall) ride ONE shuffle on the order key — no
    join back, no second pass; integer division keeps both engines
    bit-identical.  (The corpus has duplicate (orderkey, linenumber)
    pairs, so qty joins the remainder tie-break — identical full rows
    are interchangeable and hash the same either way.)"""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    wk = Window.partitionBy("k")
    base = (
        li.join(o, "k")
        .withColumn("qty_sum", F.sum("qty").over(wk))
        .withColumn(
            "floor_cents",
            F.expr("total_cents * qty div qty_sum").cast("long"),
        )
        .withColumn("remainder", F.expr("total_cents * qty % qty_sum"))
    )
    ranked = base.withColumn(
        "rr",
        F.row_number().over(
            wk.orderBy(F.col("remainder").desc(), "ln", "qty")
        ),
    ).withColumn(
        "shortfall",
        (F.col("total_cents") - F.sum("floor_cents").over(wk)).cast("long"),
    )
    return ranked.select(
        "k",
        "ln",
        "qty",
        (
            F.col("floor_cents")
            + F.when(F.col("rr") <= F.col("shortfall"), 1).otherwise(0)
        ).alias("alloc_cents"),
    )


# ====================================================================
# VARIANT semi-structured type (Spark 4 open-format variant)
# ====================================================================

_VARIANT_ORACLE = """
WITH built AS (
    -- json_valid guard: malformed/empty props → NULL k, matching
    -- Spark's PERMISSIVE from_json (json_extract_string ERRORS on
    -- junk JSON)
    SELECT event_id,
           CASE WHEN json_valid(props) THEN
               CAST(json_extract_string(props, '$.k') AS BIGINT)
           END AS k,
           user_id
    FROM events
),
doc AS (
    SELECT event_id, k,
           '{"id": ' || CAST(event_id AS VARCHAR)
           || ', "vals": [' || CAST(k AS VARCHAR) || ', '
           || CAST(k * 2 AS VARCHAR)
           || '], "u": {"uid": ' || CAST(user_id AS VARCHAR) || '}}'
               AS j
    FROM built
)
SELECT event_id, k,
       CAST(json_extract_string(j, '$.vals[1]') AS BIGINT) AS second_val,
       CAST(json_extract_string(j, '$.u.uid') AS BIGINT) AS uid,
       CAST(json_extract_string(j, '$.missing.path') AS BIGINT)
           AS absent_val
FROM doc
"""


@query("events_variant_extract", _VARIANT_ORACLE)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 VARIANT type end-to-end: the same nested document
    json_props_extract parses with a full struct schema here flows
    through ``parse_json`` → VARIANT → ``variant_get`` path extraction
    (array index, nested field) — the schema-on-read shape for
    semi-structured corpora where declaring the full struct up front
    is impossible.  ``try_variant_get`` on a missing path returns NULL
    on both engines (DuckDB twin: json_extract).  All JVM-side; the
    VARIANT binary encoding never crosses to Python."""
    from . import load

    events = load(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long").getField("k")
    built = events.select(
        "event_id",
        k.alias("k"),
        F.concat(
            F.lit('{"id": '),
            F.col("event_id").cast("string"),
            F.lit(', "vals": ['),
            k.cast("string"),
            F.lit(", "),
            (k * 2).cast("string"),
            F.lit('], "u": {"uid": '),
            F.col("user_id").cast("string"),
            F.lit("}}"),
        ).alias("doc"),
    )
    v = F.parse_json(F.col("doc"))
    return built.select(
        "event_id",
        "k",
        F.variant_get(v, "$.vals[1]", "bigint").alias("second_val"),
        F.variant_get(v, "$.u.uid", "bigint").alias("uid"),
        F.try_variant_get(v, "$.missing.path", "bigint").alias(
            "absent_val"
        ),
    )
