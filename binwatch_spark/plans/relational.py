"""Derived relational capability layer (q12–q17, q21/q22): joins, multi-join
aggregation, rollup, window top-k, event-time windows, set ops, sketches —
the query surface Catalyst optimizes for free (SURVEY.md §2.4, §4.2).

Float determinism: every double aggregate accumulates as DECIMAL(18,4)
(exact, order-independent) and only the final value is cast back to double,
so Spark's partial/final aggregation and DuckDB produce bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binwatch_spark.plans.registry import register
from binwatch_spark.tables import load, local_frame


def dsum(col: Column) -> Column:
    """Order-independent double sum: exact decimal accumulation, double out."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


def _dsum_sql(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"


@register(
    "q12_join_orders_customer",
    oracle=(
        "SELECT o.o_orderkey, c.c_name, o.o_totalprice"
        " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        " WHERE c.c_mktsegment = 'BUILDING'"
    ),
)
def q12_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join + dimension filter. customer is the small dimension →
    broadcast hash join (no shuffle of the orders fact at any scale)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
        )
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@register(
    "q13_multijoin_pricing",
    oracle=(
        "SELECT l.l_orderkey,"
        f"  {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,"
        "  o.o_orderdate, o.o_orderpriority"
        " FROM customer c"
        " JOIN orders o ON c.c_custkey = o.o_custkey"
        " JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
        " WHERE c.c_mktsegment = 'BUILDING'"
        "   AND o.o_orderdate < TIMESTAMP '1998-06-01'"
        "   AND l.l_shipdate > TIMESTAMP '1998-06-01'"
        " GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority"
        " ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
)
def q13_multijoin_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer⋈orders⋈lineitem with selective filters, grouped
    revenue, deterministic top-10. Dimensions filter *before* the join (Catalyst
    pushes them into the scans); customer broadcasts; the lineitem⋈orders join
    shuffles on orderkey — the unavoidable big shuffle, minimized by pushed
    filters and column pruning."""
    cutoff = "1998-06-01"
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    joined = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    revenue = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q14_groupby_rollup",
    oracle=(
        "SELECT l_returnflag, l_linestatus,"
        f"  {_dsum_sql('l_quantity')} AS sum_qty,"
        f"  {_dsum_sql('l_extendedprice')} AS sum_price,"
        f"  {_dsum_sql('l_discount')} / count(*) AS avg_disc,"
        "  count(*) AS cnt"
        " FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
    ),
)
def q14_groupby_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape with ROLLUP subtotals, computed as one finest-level
    aggregate plus margins re-aggregated FROM THE PARTIALS — Catalyst's
    native rollup() expands every input row once per grouping set (3× the
    scan feeding the aggregate), which at 100 TB triples the dominant
    stage; decimal partial sums are exactly re-aggregable, so the subtotal
    levels cost one extra pass over the handful of finest-level groups.
    Group keys are non-null in this schema, so NULL unambiguously marks
    subtotal rows (else grouping_id disambiguation is needed). Decimal
    accumulation keeps doubles deterministic under any partial-agg order."""
    li = load(spark, sf_dir, "lineitem")
    return _rollup_from_partials(
        li,
        ["l_returnflag", "l_linestatus"],
        sets=[
            ("l_returnflag", "l_linestatus"),
            ("l_returnflag",),
            (),
        ],
        measures={
            "_q": F.col("l_quantity"),
            "_p": F.col("l_extendedprice"),
            "_d": F.col("l_discount"),
        },
        project=lambda: [
            F.col("_q").cast("double").alias("sum_qty"),
            F.col("_p").cast("double").alias("sum_price"),
            (F.col("_d").cast("double") / F.col("cnt")).alias("avg_disc"),
            F.col("cnt"),
        ],
    )


def _rollup_from_partials(df, key_cols, sets, measures, project):
    """Grouping sets from re-aggregable decimal partials: ONE aggregation at
    the finest level (the only pass over the fact rows), then each coarser
    set re-aggregates the finest-level groups (tiny). Exactly equals the
    Expand-based rollup/cube because decimal sums and counts are
    associative; requires non-null group keys so NULL can mark subtotals."""
    finest = max(sets, key=len)
    partials = [
        F.sum(expr.cast("decimal(18,4)")).alias(name)
        for name, expr in measures.items()
    ] + [F.count(F.lit(1)).alias("cnt")]
    base = df.groupBy(*finest).agg(*partials)
    outs = []
    for keep in sets:
        lvl = base
        if set(keep) != set(finest):
            lvl = base.groupBy(*keep).agg(
                *[F.sum(name).alias(name) for name in measures],
                F.sum("cnt").alias("cnt"),
            )
        keys = [
            F.col(k).alias(k) if k in keep else F.lit(None).cast("string").alias(k)
            for k in key_cols
        ]
        outs.append(lvl.select(*keys, *project()))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "q15_window_topk",
    oracle=(
        "SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn"
        " FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,"
        "   row_number() OVER (PARTITION BY o_orderpriority"
        "     ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)"
        " WHERE rn <= 3"
    ),
)
def q15_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-per-group top-k via window row_number with a total-order tiebreak.
    Shuffles once on the partition key; at scale AQE handles skewed groups."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q16_sliding_window_agg",
    oracle=(
        "SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_events,"
        f"  {_dsum_sql('value')} AS total_value"
        " FROM events GROUP BY date_trunc('hour', ts)"
    ),
)
def q16_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregation — the batch-checkable shape of
    the streaming windowed agg (streaming/ uses F.window + watermark)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "q17_set_ops",
    oracle=(
        "SELECT 'intersect' AS part, c_custkey FROM ("
        "  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
        "  INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 1000.0)"
        " UNION ALL "
        "SELECT 'except' AS part, c_custkey FROM ("
        "  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
        "  EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 1000.0)"
    ),
)
def q17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT of customer segments, tagged and unioned."""
    customer = load(spark, sf_dir, "customer")
    seg_a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    seg_b = customer.filter(F.col("c_acctbal") > 1000.0).select("c_custkey")
    both = seg_a.intersect(seg_b).select(
        F.lit("intersect").alias("part"), "c_custkey"
    )
    only_a = seg_a.exceptAll(seg_b).distinct().select(
        F.lit("except").alias("part"), "c_custkey"
    )
    return both.unionByName(only_a)


@register("q55_approx_distinct", oracle=None)
def q55_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type — the sketch
    path for 100 TB cardinality estimation (one pass, fixed memory). Sketch
    internals differ from DuckDB's → rows-only check; q22 is the exact twin
    with a full oracle, and q103_kmv_distinct is the *hash-exact verifiable*
    sketch twin (deterministic KMV over FNV-1a64, identical math spelled in
    the DuckDB oracle)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


_KMV_K = 128
_TWO64 = 18446744073709551616  # 2**64 (exact)
_KMV_NUM = float((_KMV_K - 1) * _TWO64)  # exact in double: 127 needs 7 bits


def _kmv_distinct_sql(k: int) -> str:
    """DuckDB twin of q103: same FNV-1a64 rounds as _fnv1a64_le8_sql
    (plans/cdc_queries.py:166) over ``user_id``, then the identical KMV
    estimate. Float determinism: both engines convert the k-th minimum hash
    through the SAME op sequence — signed-int64 → double (round-to-nearest,
    identical in JVM and DuckDB) → ``+ 2^64`` when negative (IEEE add) →
    one IEEE division — so the doubles are bit-identical, not just close."""
    two64 = f"CAST({_TWO64} AS HUGEINT)"
    prime = 1099511628211
    ctes = [
        "u AS (SELECT event_type, CASE WHEN user_id < 0 THEN"
        f" CAST(user_id AS HUGEINT) + {two64} ELSE"
        " CAST(user_id AS HUGEINT) END AS v FROM events"
        " WHERE user_id IS NOT NULL)",
        "r0 AS (SELECT event_type, v,"
        " CAST(14695981039346656037 AS HUGEINT) AS h FROM u)",
    ]
    for i in range(8):
        byte = f"CAST((v // {256 ** i}) % 256 AS BIGINT)"
        ctes.append(
            f"r{i + 1} AS (SELECT event_type, v, ((h - (h % 256)"
            f" + xor(CAST(h % 256 AS BIGINT), {byte})) * {prime})"
            f" % {two64} AS h FROM r{i})"
        )
    ctes.append("d AS (SELECT DISTINCT event_type, h FROM r8)")
    ctes.append(
        "rn AS (SELECT event_type, h,"
        " row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,"
        " count(*) OVER (PARTITION BY event_type) AS n FROM d)"
    )
    # k-th minimum hash back in *signed* int64 (Spark's native domain), so
    # the double conversion below is op-for-op identical to the Spark plan.
    hs = (
        f"max(CASE WHEN rn = {k} THEN CAST(CASE WHEN h >= {_TWO64 // 2}"
        f" THEN h - {two64} ELSE h END AS BIGINT) END)"
    )
    return (
        "WITH " + ", ".join(ctes) + ", a AS ("
        f"SELECT event_type, max(n) AS n, {hs} AS hk FROM rn GROUP BY event_type)"
        f" SELECT event_type, CASE WHEN n < {k} THEN CAST(n AS DOUBLE)"
        f" ELSE {_KMV_NUM!r} / (CAST(hk AS DOUBLE)"
        f" + CASE WHEN hk < 0 THEN {float(_TWO64)!r} ELSE 0.0 END)"
        " END AS approx_users FROM a"
    )


@register("q103_kmv_distinct", oracle=_kmv_distinct_sql(_KMV_K))
def q103_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV (k-minimum-values) distinct sketch — the
    *oracle-verifiable* approximate-distinct path (q55's HLL is rows-only
    because sketch internals differ; KMV over a shared hash function is
    engine-independent).

    Estimate: with h(1)<…<h(k) the k smallest distinct FNV-1a64 hashes
    (unsigned order) of ``user_id``, est = (k-1)·2^64 / h(k); when fewer
    than k distinct hashes exist the estimate is the exact count
    (Bar-Yossef et al. 2002, the standard unbiased KMV form).

    Scale shape (100 TB): map-side Arrow-vectorized hashing, then a
    per-partition bounded k-min prune in the SAME mapInPandas pass — each
    task emits ≤ k rows per event type, no matter how many rows it read —
    so the only shuffled data is ≤ k·groups·partitions rows. The global
    k-min of a union of per-partition k-mins equals the global k-min
    (any of the k smallest global values is among its partition's k
    smallest), and when the true distinct count is < k every value survives
    the prune, so the exact-count branch still sees the right n."""
    import pandas as pd  # noqa: F401  (worker-side)

    from binwatch_spark.operators.sharding import fnv1a64_position

    k = _KMV_K
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hashed = ev.select(
        "event_type", fnv1a64_position(F.col("user_id")).alias("h")
    )

    def prune(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            u = pdf["h"].to_numpy("int64").view("uint64")
            out = (
                pdf.assign(_u=u)
                .drop_duplicates(["event_type", "h"])
                .sort_values(["event_type", "_u"])
                .groupby("event_type", sort=False)
                .head(k)
            )
            yield out[["event_type", "h"]]

    pruned = hashed.mapInPandas(prune, schema="event_type string, h long")
    distinct = pruned.groupBy("event_type", "h").agg(F.lit(1).alias("_one"))
    sign = F.lit(-(2**63))  # flip the sign bit: signed order == unsigned order
    w = Window.partitionBy("event_type").orderBy(F.col("h").bitwiseXOR(sign))
    wn = Window.partitionBy("event_type")
    ranked = distinct.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
    )
    u_dbl = agg["hk"].cast("double") + F.when(
        agg["hk"] < 0, F.lit(float(_TWO64))
    ).otherwise(F.lit(0.0))
    return agg.select(
        "event_type",
        F.when(agg["n"] < k, agg["n"].cast("double"))
        .otherwise(F.lit(_KMV_NUM) / u_dbl)
        .alias("approx_users"),
    )


@register(
    "q22_exact_distinct",
    oracle=(
        "SELECT event_type, count(DISTINCT user_id) AS n_users,"
        " count(*) AS n_events FROM events GROUP BY event_type"
    ),
)
def q22_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count twin of q55_approx_distinct (two-phase distinct
    aggregation)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q41_semi_anti_join",
    oracle="""
SELECT c_custkey, c_mktsegment, 'has_orders' AS kind FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, c_mktsegment, 'no_orders' AS kind FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q41_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join pair (EXISTS / NOT EXISTS): customers with and without
    orders, tagged and unioned. Both run as one broadcast/shuffled hash join
    each with no fact-side duplication — the join *type* prunes, not a
    distinct afterwards."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    cond = customer.c_custkey == orders.o_custkey
    semi = customer.join(orders, cond, "left_semi").select(
        "c_custkey", "c_mktsegment", F.lit("has_orders").alias("kind")
    )
    anti = customer.join(orders, cond, "left_anti").select(
        "c_custkey", "c_mktsegment", F.lit("no_orders").alias("kind")
    )
    return semi.unionByName(anti)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q58_pivot_events",
    oracle=(
        "SELECT user_id % 10 AS user_bucket, "
        + ", ".join(
            f"count(*) FILTER (WHERE event_type = '{t}') AS {t}"
            for t in EVENT_TYPES
        )
        + " FROM events GROUP BY user_id % 10"
    ),
)
def q58_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per user bucket, one count column per event type.
    Explicit pivot values keep the schema static (no extra distinct pass and
    a plan Catalyst compiles to a single aggregate with conditional counts)."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


@register(
    "q43_percentiles",
    oracle="""
SELECT l_returnflag,
  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
  count(*) AS cnt
FROM lineitem GROUP BY l_returnflag
""",
)
def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group. Spark's percentile
    and DuckDB's quantile_cont share the (n-1)*p interpolation rule; a final
    round(6) absorbs last-ulp arithmetic differences. At 100 TB swap in
    approx_percentile (t-digest sketch, q21-style rows-only check) — exact
    percentiles need a per-group sort."""
    li = load(spark, sf_dir, "lineitem")
    # One percentile buffer evaluating all three fractions: three separate
    # F.percentile aggregates each buffer the full group's values (3× the
    # aggregation-state memory and sort work — observed 3.2 s vs 1.2 s at
    # sf0.1 for the scalar spelling).
    pcts = F.percentile(
        F.col("l_extendedprice"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("_p"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "l_returnflag",
            F.round(F.col("_p")[0], 6).alias("p50"),
            F.round(F.col("_p")[1], 6).alias("p90"),
            F.round(F.col("_p")[2], 6).alias("p99"),
            "cnt",
        )
    )


@register(
    "q63_event_interarrival",
    oracle="""
SELECT event_id, user_id, prev_event_id, gap_us FROM (
  SELECT event_id, user_id,
    lag(event_id) OVER w AS prev_event_id,
    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
WHERE prev_event_id IS NOT NULL
""",
)
def q63_event_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event inter-arrival gaps via lag() — the sequence-analytics
    primitive under sessionization (q35). One shuffle on user_id; the window
    sort is per-partition. Total order (ts, event_id) makes lag deterministic
    under duplicate timestamps."""
    events = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "event_id",
            "user_id",
            F.lag("event_id").over(w).alias("prev_event_id"),
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .filter(F.col("prev_event_id").isNotNull())
    )


@register(
    "q45_regional_revenue",
    oracle=(
        "SELECT n_name,"
        f" {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,"
        " count(*) AS n_items"
        " FROM customer"
        " JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON l_orderkey = o_orderkey"
        " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
        " WHERE r_name = 'ASIA'"
        "   AND o_orderdate >= TIMESTAMP '1996-01-01'"
        "   AND o_orderdate < TIMESTAMP '1997-01-01'"
        " GROUP BY n_name"
    ),
)
def q45_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the full star schema in one query — local-supplier
    revenue per nation in one region and year. All four dimension sides
    (region→nation pruned first, supplier, filtered orders span) broadcast;
    the single big shuffle is lineitem⋈orders on orderkey. Join order is
    left to Catalyst (CBO/AQE) — the declared plan only pins which sides are
    broadcastable."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = load(spark, sf_dir, "lineitem")
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q59_hopping_window",
    oracle=(
        "SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end, event_type,"
        " count(*) AS n_events FROM ("
        "   SELECT date_trunc('hour', ts) - to_hours(k) AS win_start, event_type"
        "   FROM events, unnest([0, 1]) AS t(k))"
        " GROUP BY win_start, event_type"
    ),
)
def q59_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 2-hour windows every 1 hour, so
    each event lands in exactly two windows. F.window handles the expansion
    natively (epoch-aligned starts, same as the oracle's shifted
    date_trunc); the streaming twin is the same expression under a
    watermark."""
    ev = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
        )
    )


@register(
    "q61_regex_extract",
    oracle="""
SELECT doc_id, CAST(idx - 1 AS INTEGER) AS pos, tok FROM (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '[a-z]{6,}')) AS tok,
    generate_subscripts(regexp_extract_all(text, '[a-z]{6,}'), 1) AS idx
  FROM documents)
""",
)
def q61_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information extraction: every ≥6-letter word per document with its
    match position — regexp_extract_all + posexplode, one scan, zero
    shuffles, all inside whole-stage codegen. (The corpus is lowercase
    prose with no digit runs, so the pattern targets long words — a
    non-vacuous extraction: ~40% of tokens match.)"""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]{6,}"), 0)
        ).alias("pos", "tok"),
    )


@register(
    "q67_cube_agg",
    oracle=(
        "SELECT l_returnflag, l_linestatus,"
        f" {_dsum_sql('l_extendedprice')} AS sum_price,"
        " count(*) AS cnt"
        " FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"
    ),
)
def q67_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all four margin combinations) from re-aggregated
    finest-level partials (see q14) — the native cube() Expand feeds 4× the
    input rows into the aggregate; here the fact rows are aggregated once
    and the three margin sets re-aggregate the tiny group table. Decimal
    accumulation keeps the double margins deterministic."""
    li = load(spark, sf_dir, "lineitem")
    return _rollup_from_partials(
        li,
        ["l_returnflag", "l_linestatus"],
        sets=[
            ("l_returnflag", "l_linestatus"),
            ("l_returnflag",),
            ("l_linestatus",),
            (),
        ],
        measures={"_p": F.col("l_extendedprice")},
        project=lambda: [
            F.col("_p").cast("double").alias("sum_price"),
            F.col("cnt"),
        ],
    )


@register(
    "q49_range_join",
    oracle=(
        "SELECT a.event_id, count(b.event_id) AS n_next_hour"
        " FROM events a LEFT JOIN events b"
        "   ON a.user_id = b.user_id AND b.ts > a.ts"
        "  AND b.ts <= a.ts + INTERVAL 1 HOUR"
        " GROUP BY a.event_id"
    ),
)
def q49_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range self-join — per event, how many same-user events land
    in the following hour. Spark has no native range-join strategy (a naive
    inequality join plans as a per-key nested loop), so this uses the
    standard bin-bucketing rewrite: both sides get a 1-hour bin key, the
    probe side is replicated into the two bins its match window can touch,
    and the join is a plain EQUI-join on (user_id, bin) with the range
    predicate as a post-filter. Each true pair matches in exactly one bin
    (the probe row's replica bin must equal the anchor's bin), so no
    dedup is needed. Scale: candidate pairs are bounded by co-bin
    density, the join shuffles on (user, bin) like any equi-join, and bin
    width should track the range width (1 replica per width-multiple)."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # session timezone is UTC, so NTZ→instant cast is unambiguous
    bin_of = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)
    ).cast("bigint")
    a = ev.withColumn("_bin", bin_of)
    b = (
        ev.withColumn("_bin0", bin_of)
        .select(
            F.col("event_id").alias("b_event_id"),
            F.col("user_id").alias("b_user_id"),
            F.col("ts").alias("b_ts"),
            F.explode(
                F.array(F.col("_bin0"), F.col("_bin0") - 1)
            ).alias("_bbin"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("_bin") == F.col("_bbin"))
        & (F.col("b_ts") > F.col("ts"))
        & (F.col("b_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        a.join(b, cond, "left")
        .groupBy("event_id")
        .agg(F.count(F.col("b_event_id")).alias("n_next_hour"))
    )


@register(
    "q97_salted_join_brand_revenue",
    oracle=(
        "SELECT p_brand,"
        f" {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,"
        " count(*) AS n_items"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " GROUP BY p_brand"
    ),
)
def q97_salted_join_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue through an EXPLICITLY SALTED fact⋈dim join
    (operators.skew.salted_join, salts=8): the deterministic-salt scheme a
    100 TB pipeline reaches for when one hot part id melts a task and AQE
    can't re-plan (disabled, or the hot key must still aggregate after the
    join). The salt is physical only — every fact row carries exactly one
    deterministic salt and the replicated dim side carries all of them, so
    the result EQUALS the plain join, which is exactly what the oracle
    asserts: the plain-SQL twin hash-checks that salting changed the
    exchange layout and nothing else. Revenue accumulates as
    DECIMAL(18,4) (registry determinism contract)."""
    from binwatch_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
    )
    pt = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    j = salted_join(li, pt, on="partkey", entropy_col="l_orderkey", salts=8)
    return j.groupBy("p_brand").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# --- q105: count-min sketch heavy hitters (the frequency sketch rung) ----

_CMS_D = 4      # hash rows
_CMS_W = 1024   # cells per row
_CMS_TOP_K = 20


def _cms_sql() -> str:
    """DuckDB twin of q105: same polyhash, same MINHASH_A/B affine family
    for the d row-hashes, same min-over-rows estimate, same top-k rule."""
    from binwatch_spark.functions.texthash import (
        MINHASH_A,
        MINHASH_B,
        POLY_PRIME,
        polyhash_sql,
    )

    def cell(j: int, h: str) -> str:
        return (
            f"(({MINHASH_A[j]} * {h} + {MINHASH_B[j]}) % {POLY_PRIME})"
            f" % {_CMS_W}"
        )

    upd = " UNION ALL ".join(
        f"SELECT {j} AS j, {cell(j, 'h')} AS cell FROM th"
        for j in range(_CMS_D)
    )
    probes = " UNION ALL ".join(
        f"SELECT tok, {j} AS j, {cell(j, 'h')} AS cell FROM vocab"
        for j in range(_CMS_D)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
), th AS (
  SELECT tok, {polyhash_sql('tok')} AS h FROM toks
), cells AS ({upd}),
sketch AS (
  SELECT j, cell, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY j, cell
), vocab AS (
  SELECT DISTINCT tok, h FROM th
), vc AS ({probes}),
est AS (
  SELECT tok, min(c) AS est_count
  FROM vc JOIN sketch USING (j, cell) GROUP BY tok
), top AS (
  SELECT tok, est_count FROM est
  ORDER BY est_count DESC, tok LIMIT {_CMS_TOP_K}
), ex AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_count FROM toks
  WHERE tok IN (SELECT tok FROM top) GROUP BY tok
)
SELECT top.tok AS token, est_count, exact_count
FROM top JOIN ex USING (tok)
"""


@register("q105_cms_heavy_hitters", oracle=_cms_sql())
def q105_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: the top-20 tokens by
    SKETCH-estimated frequency, with the exact count joined back for the
    winners only — completing the sketch family (q55 HLL cardinality, q103
    KMV cardinality, this = frequency). Deterministic and hash-exact: the
    d=4 row hashes are the first four MinHash affine permutations over the
    shared polyhash (functions.texthash seeded constants, generated into
    the oracle SQL), and est(tok) = min_j sketch[j][cell_j(tok)] is the
    textbook CMS upper bound (Cormode & Muthukrishnan 2005) — both engines
    compute the identical d×{_CMS_W} table, so the driver hash-checks the
    sketch itself, not just its shape.

    Scale shape (100 TB): the sketch build is the whole point — the
    groupBy(j, cell) has exactly d×w = 4×1024 distinct keys, so
    map-side partial aggregation bounds every task's output at d×w rows
    REGARDLESS of input size; the exchange moves ≤ d·w·partitions tiny
    rows where the exact q56-style counter shuffles the full token
    vocabulary. Occurrence hashing is the memoized Arrow kernel (one hash
    per distinct token per worker). The candidate probe side is
    vocab-sized (dictionary assumption, like q92's LM tables) against the
    BROADCAST d×w sketch; the exact audit join touches only the
    20 winners' occurrences via a broadcast semi-join before
    its aggregate."""
    from binwatch_spark.functions.texthash import (
        MINHASH_A,
        MINHASH_B,
        POLY_PRIME,
        make_polyhash_udf,
    )

    docs = load(spark, sf_dir, "documents")
    ph = make_polyhash_udf()
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    # THREE consumers read the hashed occurrences (sketch build, vocab
    # distinct, exact audit) — persist so the scan + explode + Arrow
    # hash kernel run once, not per consumer; eager fill so concurrent
    # stages don't race to populate the cache.
    hashed = toks.select("tok", ph(F.col("tok")).alias("_h")).persist()
    hashed.count()

    def cell(j: int) -> Column:
        return (
            (F.lit(MINHASH_A[j]) * F.col("_h") + F.lit(MINHASH_B[j]))
            % POLY_PRIME
        ) % _CMS_W

    jc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), cell(j).cast("bigint").alias("cell")
                )
                for j in range(_CMS_D)
            ]
        )
    )
    sketch = (
        hashed.select(jc.alias("jc"))
        .select("jc.j", "jc.cell")
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = hashed.distinct()
    probes = vocab.select("tok", jc.alias("jc")).select("tok", "jc.j", "jc.cell")
    est = (
        probes.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("tok")
        .agg(F.min("c").alias("est_count"))
    )
    top = est.orderBy(F.col("est_count").desc(), F.col("tok")).limit(_CMS_TOP_K)
    exact = (
        hashed.select("tok")  # 4th consumer — reads the same cache
        .join(F.broadcast(top.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return top.join(exact, "tok").select(
        F.col("tok").alias("token"), "est_count", "exact_count"
    )


BLOOM_NATION = 3  # selective dim predicate for the bloom-join showcase


@register(
    "q130_bloom_join",
    oracle=(
        "SELECT s_suppkey, s_name,"
        f" {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,"
        " count(*) AS n_items"
        " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
        f" WHERE s_nationkey = {BLOOM_NATION}"
        " GROUP BY s_suppkey, s_name"
    ),
)
def q130_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join (operators/bloom.py): the dim keys
    (suppliers of one nation) build a {0}-bit Bloom filter — constant-size
    whatever the dim cardinality — whose membership test pre-filters the
    fact scan MAP-SIDE, so the join exchange carries only possibly-
    matching rows plus the false-positive sliver. The join after the
    filter is exact, so the result is bit-identical to the plain join —
    which is exactly how the oracle checks it (no bloom spelling needed:
    the filter cannot change the answer, only the shuffle volume). This
    is the explicit form of Spark's AQE runtime bloom filter, applicable
    unconditionally and on the streaming side where AQE does not run.
    Revenue accumulates in decimal (the q97 contract)."""
    from binwatch_spark.operators.bloom import bloom_build, bloom_prefilter

    sup = load(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == BLOOM_NATION
    )
    li = load(spark, sf_dir, "lineitem")
    bits = bloom_build(sup, "s_suppkey")
    pre = bloom_prefilter(li, "l_suppkey", bits)
    return (
        pre.join(sup, pre.l_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


q130_bloom_join.__doc__ = q130_bloom_join.__doc__.format(
    __import__("binwatch_spark.operators.bloom", fromlist=["BLOOM_BITS"]).BLOOM_BITS
)


HIST_BUCKETS = 256
_HQ_PS = (0.5, 0.9, 0.99)


@register(
    "q136_histogram_quantiles",
    oracle=f"""
WITH b AS (
  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
  FROM lineitem),
a AS (
  SELECT l_returnflag AS g,
    CAST(least({HIST_BUCKETS} - 1,
         floor((l_extendedprice - mn) / ((mx - mn) / {HIST_BUCKETS})))
         AS BIGINT) AS bucket
  FROM lineitem CROSS JOIN b),
c AS (
  SELECT g, bucket, CAST(count(*) AS BIGINT) AS c FROM a
  GROUP BY g, bucket),
cum AS (
  SELECT g, bucket, c,
    CAST(sum(c) OVER (PARTITION BY g ORDER BY bucket
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM c),
n AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY g),
ps AS (SELECT unnest([{", ".join(str(p) for p in _HQ_PS)}]) AS p),
sel AS (
  SELECT cum.g, ps.p, min(bucket) AS b
  FROM cum JOIN n USING (g) CROSS JOIN ps
  WHERE cum >= ceil(ps.p * n.n)
  GROUP BY cum.g, ps.p),
est AS (
  SELECT sel.g, sel.p,
    round(b0.mn + ((b0.mx - b0.mn) / {HIST_BUCKETS})
      * (sel.b + (ceil(sel.p * n.n) - (cum.cum - cum.c))
         / CAST(cum.c AS DOUBLE)), 6) AS e
  FROM sel
  JOIN cum ON sel.g = cum.g AND sel.b = cum.bucket
  JOIN n ON sel.g = n.g
  CROSS JOIN b b0)
SELECT g AS l_returnflag,
  max(CASE WHEN p = 0.5 THEN e END) AS p50,
  max(CASE WHEN p = 0.9 THEN e END) AS p90,
  max(CASE WHEN p = 0.99 THEN e END) AS p99
FROM est GROUP BY g
""",
)
def q136_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q43's production rung: DETERMINISTIC approximate per-group quantiles
    from a fixed-width {HIST_BUCKETS}-bucket histogram — the
    bounded-memory path exact percentiles can't take at 100 TB (they
    buffer each group's values), and unlike t-digest/approx_percentile
    the estimate is a pure function of the data: same answer on every
    engine, every run, every partitioning, which is why it can carry a
    full hash-checked oracle while q55-style sketches cannot. Error is
    bounded by one bucket width of the value range; tighten with more
    buckets (state is groups×{HIST_BUCKETS} rows — still tiny).

    Shape: one cheap global min/max aggregate broadcast back (1 row),
    bucket assignment map-side, ONE bounded aggregate (≤ {HIST_BUCKETS}
    rows per group through the exchange, map-side combined), then
    nearest-rank selection (rank ceil(p·n)) with linear interpolation
    inside the selected bucket — all on the k-row histogram frame."""
    li = load(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / HIST_BUCKETS
    a = li.crossJoin(F.broadcast(b)).select(
        F.col("l_returnflag").alias("g"),
        F.least(
            F.lit(HIST_BUCKETS - 1),
            F.floor((F.col("l_extendedprice") - F.col("mn")) / width),
        ).cast("bigint").alias("bucket"),
    )
    c = a.groupBy("g", "bucket").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = c.withColumn("cum", F.sum("c").over(wcum).cast("bigint"))
    n = c.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    ps = local_frame(spark, [(p,) for p in _HQ_PS], "p double")
    sel = (
        cum.join(n, "g")
        .crossJoin(F.broadcast(ps))
        .filter(F.col("cum") >= F.ceil(F.col("p") * F.col("n")))
        .groupBy("g", "p")
        .agg(F.min("bucket").alias("b"))
    )
    est = (
        sel.join(cum.withColumnRenamed("bucket", "b"), ["g", "b"])
        .join(n, "g")
        .crossJoin(F.broadcast(b))
        .select(
            "g",
            "p",
            F.round(
                F.col("mn")
                + width
                * (
                    F.col("b")
                    + (
                        F.ceil(F.col("p") * F.col("n"))
                        - (F.col("cum") - F.col("c"))
                    )
                    / F.col("c").cast("double")
                ),
                6,
            ).alias("e"),
        )
    )
    return (
        est.groupBy("g")
        .agg(
            F.max(F.when(F.col("p") == 0.5, F.col("e"))).alias("p50"),
            F.max(F.when(F.col("p") == 0.9, F.col("e"))).alias("p90"),
            F.max(F.when(F.col("p") == 0.99, F.col("e"))).alias("p99"),
        )
        .withColumnRenamed("g", "l_returnflag")
    )


@register(
    "q139_scd2_history",
    oracle="""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_type
  FROM events),
chg AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE prev_type IS NULL OR prev_type <> event_type),
iv AS (
  SELECT user_id, event_type, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM chg)
SELECT user_id, event_type, valid_from, valid_to,
  (valid_to IS NULL) AS is_current
FROM iv
""",
)
def q139_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: collapse
    consecutive no-change events per key, then close each surviving
    version with the next change's timestamp — (user_id, event_type,
    valid_from, valid_to, is_current) validity intervals, the standard
    warehouse history table a CDC consumer materializes from exactly the
    envelope this engine's pipeline delivers (q77 keeps the LATEST
    snapshot; this keeps ALL versions — the other half of the CDC apply
    story, and the table q31's as-of join would read at scale).

    Shape: two windows over the same (user_id, ts) sort — lag for
    change detection, lead to close intervals — ONE shuffle on the key,
    second window reuses the partitioning (no second exchange). At
    100 TB this is the streaming-state recipe too: per-key state is the
    open version, closed on the next change."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())
