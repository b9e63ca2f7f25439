"""Analytics query extensions (q50+): SQL-surface and event-analytics
operators beyond the original §2.4 inventory — grouping sets, ordered
string aggregation, JSON extraction, correlated EXISTS subqueries, running
window totals, and funnel (sequence) analysis.

Scale posture notes are per query; the shared determinism rules
(decimal accumulation, total-order tiebreaks, identical aliases both
sides) come from plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binwatch_spark.operators import dedup
from binwatch_spark.plans.dedup_queries import _JAC, _TOKS, JACCARD_THRESHOLD
from binwatch_spark.plans.registry import register
from binwatch_spark.plans.relational import _dsum_sql, dsum
from binwatch_spark.tables import load


@register(
    "q50_grouping_sets",
    oracle=(
        "SELECT l_returnflag, l_linestatus,"
        f" {_dsum_sql('l_quantity')} AS sum_qty, count(*) AS cnt"
        " FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
    ),
)
def q50_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with disjoint (non-hierarchical) sets — the grouping
    shape rollup/cube (q14/q67) can't express. Spark's Expand feeds each
    row to both sets; partial aggregation still combines map-side, so the
    shuffle carries 2×groups, not 2×rows."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_q50_lineitem")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus,"
        " CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,"
        " count(*) AS cnt"
        " FROM _q50_lineitem"
        " GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
    )


@register(
    "q51_listagg",
    oracle=(
        "SELECT o_orderstatus,"
        " string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)"
        " AS priorities, count(*) AS cnt"
        " FROM orders GROUP BY o_orderstatus"
    ),
)
def q51_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): collect_set +
    array_sort + concat_ws gives a deterministic csv independent of
    partial-aggregation order — the only safe way to hash-match a
    concatenation across engines. collect_set keeps the shuffle at
    distinct-values size, not row count."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("o_orderpriority"))
        ).alias("priorities"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q52_json_extract",
    oracle=(
        "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,"
        f" count(*) AS cnt, {_dsum_sql('value')} AS sum_value"
        " FROM events GROUP BY 1"
    ),
)
def q52_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: get_json_object pulls the numeric props
    field JVM-side (codegen, no UDF) and aggregates by a derived key. At
    scale the JSON parse is per-row map work that pushes down past nothing
    — if the field is hot, materialize it as a real column at ingest."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select((k % 10).alias("k_mod"), "value")
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("sum_value"))
    )


_Q53_SQL = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""


@register("q53_exists_subquery", oracle=_Q53_SQL)
def q53_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface: Catalyst
    rewrites them to left-semi and left-anti hash joins on o_custkey (one
    shuffle each, no per-row subquery execution) — the same plan the
    DataFrame spelling in q41 produces."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q53_SQL)


@register(
    "q54_running_total",
    oracle=(
        "SELECT o_custkey, o_orderkey,"
        " CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER ("
        "   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
        " AS run_total"
        " FROM orders"
    ),
)
def q54_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total — a rows-frame window with a
    total-order tiebreak (o_orderkey) so every prefix is well-defined, and
    decimal accumulation so each prefix sum is exact (a double running sum
    would drift from the oracle wherever order differs in the low bits).
    One shuffle on o_custkey; the frame is computed in a single sorted
    pass per partition."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("run_total"),
    )


@register(
    "q21_funnel",
    oracle="""
SELECT c.user_id, count(*) AS n_pairs, min(p.ts) AS first_conv_ts
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id
""",
)
def q21_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel (sequence) analysis: click→purchase conversions within one
    hour per user. Filters push to both scans BEFORE the join, the join is
    an equi-join on user_id with the time window as residual (quadratic
    only within a user's own events), and the aggregate reuses the join's
    user_id partitioning — no second shuffle. For heavy-hitter users at
    100 TB, pre-bucket by (user_id, time-bin) as in q49."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    pairs = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("p_ts").alias("first_conv_ts"),
    )


@register(
    "q56_bigram_topk",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
bi AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
       AS bigram FROM toks)
SELECT bigram, count(*) AS cnt FROM bi GROUP BY bigram
ORDER BY cnt DESC, bigram LIMIT 20
""",
)
def q56_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word bigrams across the corpus — the n-gram statistics pass of an
    LM data pipeline. Bigrams are built with transform over the token array
    (codegen, no UDF, no self-join), exploded, and counted with map-side
    partial aggregation; top-k has a lexicographic tiebreak so the row set
    is deterministic."""
    docs = load(spark, sf_dir, "documents")
    bi = (
        docs.withColumn("_t", F.split(F.lower(F.col("text")), " "))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(_t, 1, greatest(size(_t) - 1, 0)),"
                    " (x, i) -> concat(x, ' ', element_at(_t, i + 2)))"
                )
            ).alias("bigram")
        )
    )
    return (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


@register(
    "q57_length_histogram",
    oracle=(
        "SELECT CAST(len(string_split(lower(text), ' ')) // 10 AS BIGINT)"
        " AS bucket, count(*) AS cnt"
        " FROM documents GROUP BY 1"
    ),
)
def q57_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (token count, bucket width 10) — the
    length-filter diagnostic every training-data pipeline runs before
    choosing truncation cutoffs. Pure column expressions; one map-side
    partial aggregation on a handful of buckets."""
    docs = load(spark, sf_dir, "documents")
    ntoks = F.size(F.split(F.lower(F.col("text")), " "))
    return (
        docs.select(ntoks.alias("_n"))
        .groupBy(F.floor(F.col("_n") / 10).cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# q42's exact pair rung is Θ(n²/B) within metadata blocks BY ALGORITHM —
# past this corpus size the registered query gates itself onto the banded
# MinHash-LSH rung (the q23 pair generator), the same in-plan cutover
# pattern as the jaccard_pairs hot-block gate. The
# ORACLE spells the identical gate (both branches in one statement, the
# dead branch's base CTE filtered empty by the same count), so the query
# stays hash-exact on WHICHEVER side of the gate the data lands.
Q42_EXACT_MAX_DOCS = 20000


def _q42_sql(gate: int) -> str:
    from binwatch_spark.plans.dedup_queries import _minhash_lsh_sql

    banded = _minhash_lsh_sql(
        "(SELECT * FROM documents"
        f" WHERE (SELECT count(*) FROM documents) > {gate})"
    )
    return f"""
WITH RECURSIVE s AS (
  SELECT doc_id, source, {_TOKS} AS toks FROM documents
  WHERE (SELECT count(*) FROM documents) <= {gate}),
exact_pairs AS (
  SELECT i, j FROM (
    SELECT x.doc_id AS i, y.doc_id AS j, {_JAC} AS jac
    FROM s x JOIN s y ON x.source = y.source AND x.doc_id < y.doc_id)
  WHERE jac >= {JACCARD_THRESHOLD}),
banded_pairs AS ({banded}),
pairs AS (SELECT i, j FROM exact_pairs
          UNION ALL SELECT i, j FROM banded_pairs),
edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
comp(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
  WHERE c.label <= e.v)
SELECT node AS doc_id, min(label) AS cluster_id FROM comp GROUP BY node
"""


_Q42_SQL = _q42_sql(Q42_EXACT_MAX_DOCS)


def _q42_pairs(docs: DataFrame) -> DataFrame:
    """The gated pair rung shared by q42/q71: exact source-blocked Jaccard
    below Q42_EXACT_MAX_DOCS (hash-exact recall within blocks), the q23
    banded MinHash-LSH generator above it (candidates bounded by true
    similarity — measured 1.53× for 10× data on the Heaps-vocabulary
    decade vs 13.2× for the exact rung, BENCH_sf1_heaps.json). The count
    that decides the gate is one metadata-only scan; the oracle embeds
    the same count so both engines take the same branch."""
    n = docs.count()
    if n <= Q42_EXACT_MAX_DOCS:
        return dedup.jaccard_pairs(
            docs, "text", "doc_id", "source", JACCARD_THRESHOLD
        )
    return dedup.minhash_lsh_pairs(docs, "text", "doc_id", JACCARD_THRESHOLD)


@register("q42_dedup_clusters", oracle=_Q42_SQL)
def q42_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs collapsed into clusters (connected components, label =
    min doc id) — the canonical-document selection step that completes the
    dedup pipeline. Spark side: Pregel-style min-label propagation over the
    pair graph (operators.dedup.connected_components — one shuffle per
    round, rounds ~ graph diameter); oracle side: the same components via a
    recursive CTE, so even the iterative operator is hash-checked. The
    pair rung self-protects past Q42_EXACT_MAX_DOCS (see _q42_pairs)."""
    docs = load(spark, sf_dir, "documents")
    pairs = _q42_pairs(docs)
    return dedup.connected_components(pairs.select("i", "j"))


@register("q71_dedup_clusters_star", oracle=_Q42_SQL)
def q71_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q42's clustering computed by the alternating large-star/small-star
    algorithm (Kiveris et al., operators.dedup.connected_components_star) —
    the O(log² n)-rounds-on-ANY-shape variant for path-like dup graphs
    where pointer jumping's diameter dependence bites. Same oracle as q42:
    both algorithms must produce the identical (doc_id, cluster_id) map,
    through the same Q42_EXACT_MAX_DOCS gate."""
    docs = load(spark, sf_dir, "documents")
    pairs = _q42_pairs(docs)
    return dedup.connected_components_star(pairs.select("i", "j"))


@register(
    "q109_cohort_retention",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.week) // 7 AS BIGINT)
         AS week_offset,
       count(*) AS n_users
FROM activity a JOIN cohort c USING (user_id)
GROUP BY c.cohort_week, date_diff('day', c.cohort_week, a.week) // 7
""",
)
def q109_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics shape: users
    grouped by first-active week (their cohort), counted in every later
    week they return, keyed by (cohort_week, week_offset). date_trunc
    weeks are ISO Monday-start in BOTH engines, and the offset is exact
    integer day-arithmetic (days between Mondays / 7), so the matrix is
    hash-exact.

    Scale: one distinct over (user, week) — map-side partial distinct,
    then a per-user min (same exchange key), a user-keyed join back (the
    cohort frame is user-cardinality, joined not broadcast), and the final
    two-column aggregate. No window functions, no corpus-wide sort."""
    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("week"),
    ).distinct()
    cohort = activity.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("bigint").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q112_resample_ffill",
    oracle="""
WITH act AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events GROUP BY user_id, date_trunc('hour', ts)),
bounds AS (
  SELECT user_id, min(h) AS mn, max(h) AS mx FROM act GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM bounds),
j AS (
  SELECT g.user_id, g.h, a.v
  FROM grid g LEFT JOIN act a ON g.user_id = a.user_id AND g.h = a.h)
SELECT user_id, h AS hour,
  last_value(v IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY h
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
  v IS NULL AS is_gap
FROM j
""",
)
def q112_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization — resample each user's event stream onto
    a dense hourly grid between their first and last activity, forward-
    filling hours with no events (is_gap marks the filled rows): the
    feature-engineering shape every per-entity time-series model needs,
    and the gap-aware twin of the plain windowed aggregates (q16/q59).
    Hash-exact: hourly sums accumulate in DECIMAL, the grid is integer
    interval arithmetic, and forward fill copies values (no float math).

    Scale: the aggregate and the window both key on user_id — the grid
    explode is map-side row generation between two stages that already
    share the user partitioning, so AQE plans ONE exchange for the
    aggregate and the window runs on co-partitioned data; per-user state
    is bounded by the activity span (dense grids for years-long spans
    are real rows — cap the span upstream if that bites)."""
    ev = load(spark, sf_dir, "events")
    act = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v"))
    grid = (
        act.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(mn, mx, interval 1 hour)")
            ).alias("h"),
        )
    )
    j = grid.join(act, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.col("h").alias("hour"),
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
        F.col("v").isNull().alias("is_gap"),
    )
