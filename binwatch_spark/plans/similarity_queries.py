"""Similarity-search query inventory (q31 as-of join, q33 LSH ANN)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binwatch_spark.functions.texthash import lsh_bucket_sql, polyhash_sql
from binwatch_spark.operators.similarity import lsh_knn
from binwatch_spark.plans.registry import register
from binwatch_spark.plans.text_queries import BM25_B, BM25_K1, BM25_TERMS
from binwatch_spark.tables import load, local_frame


@register(
    "q31_asof_join",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate)
SELECT e.event_id, e.user_id, o.o_orderkey
FROM events e ASOF JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
)
def q31_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at or
    before the event time. Spark lacks a native ASOF JOIN; the scalable
    pattern is union-then-window: tag both sides, sort within user by
    (time, side), and carry the last seen order key forward with
    last(ignorenulls) — one shuffle on user, no per-row probing, no range
    explosion. Ties inside a timestamp are pre-collapsed (max orderkey) so
    the result is deterministic in both engines."""
    orders = load(spark, sf_dir, "orders")
    events = load(spark, sf_dir, "events")
    o = (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("t"),
            "o_orderkey",
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(0).alias("kind"),
        )
    )
    e = events.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "event_id",
        F.lit(1).alias("kind"),
    )
    merged = o.unionByName(e)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn(
            "matched", F.last("o_orderkey", ignorenulls=True).over(w)
        )
        .filter((F.col("kind") == 1) & F.col("matched").isNotNull())
        .select("event_id", "user_id", F.col("matched").alias("o_orderkey"))
    )


_COS = (
    "list_dot_product(CAST(q_emb AS DOUBLE[]), CAST(c_emb AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(q_emb AS DOUBLE[]), CAST(q_emb AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(c_emb AS DOUBLE[]), CAST(c_emb AS DOUBLE[]))))"
)


def _ann_sql() -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb,
         {lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings WHERE vec_id < 20),
c AS (
  SELECT vec_id AS cand_id, embedding AS c_emb,
         {lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings WHERE vec_id >= 20),
p AS (
  SELECT query_id, cand_id, {_COS} AS sim FROM q JOIN c USING (bucket))
SELECT query_id, cand_id, sim, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, cand_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
  FROM p)
WHERE rn <= 3
"""


IVF_STRIDE = 25
IVF_NPROBE = 2

_DOT = "list_dot_product({a}, {b})"


def _cos_sql(a: str, b: str, bnorm: str) -> str:
    return (
        f"list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a})) * {bnorm})"
    )


def _ivf_sql() -> str:
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS cnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0),
c0 AS (
  -- embedding IS NOT NULL mirrors the Spark kernel, which assigns a NULL
  -- embedding an empty cell list (the row is dropped, not NULL-ranked)
  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS c_emb
  FROM embeddings WHERE vec_id >= 20 AND embedding IS NOT NULL),
q0 AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
  FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL),
cassign AS (
  SELECT cand_id, c_emb, cid FROM (
    SELECT c0.cand_id, c0.c_emb, cent.cid,
      row_number() OVER (PARTITION BY c0.cand_id
        ORDER BY {_cos_sql('c0.c_emb', 'cent.cemb', 'cent.cnorm')} DESC, cent.cid) AS rn
    FROM c0 CROSS JOIN cent) WHERE rn = 1),
qassign AS (
  SELECT query_id, q_emb, cid FROM (
    SELECT q0.query_id, q0.q_emb, cent.cid,
      row_number() OVER (PARTITION BY q0.query_id
        ORDER BY {_cos_sql('q0.q_emb', 'cent.cemb', 'cent.cnorm')} DESC, cent.cid) AS rn
    FROM q0 CROSS JOIN cent) WHERE rn <= {IVF_NPROBE}),
p AS (
  SELECT query_id, cand_id,
    list_dot_product(q_emb, c_emb)
      / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))) AS sim
  FROM qassign JOIN cassign USING (cid))
SELECT query_id, cand_id, sim, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, cand_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
  FROM p)
WHERE rn <= 3
"""


@register("q38_ann_ivf", oracle=_ivf_sql())
def q38_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: candidates partitioned into cells
    by nearest centroid (broadcast centroids, map-side assignment); each
    query probes its 2 nearest cells. The coarse-quantizer scale path past
    LSH (q33): per-query work is n_probe/n_cells of the corpus and the only
    shuffle is the cell-id equi-join. Centroids are a deterministic stride
    subsample so the whole query is oracle-checkable."""
    from binwatch_spark.operators.similarity import ivf_knn

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    cents = emb.filter(F.col("vec_id") % IVF_STRIDE == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    res = ivf_knn(queries, cands, cents, 3, n_probe=IVF_NPROBE)
    return res.select(
        "query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank")
    )


@register(
    "q40_embedding_centroid",
    oracle="""
WITH x AS (
  SELECT label, vec_id,
         unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(1, len(embedding) + 1)) AS dim
  FROM embeddings)
SELECT label, dim,
  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY vec_id)),
              (a, b) -> a + b) / count(*) AS centroid_v,
  count(*) AS n_vecs
FROM x GROUP BY label, dim
""",
)
def q40_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroid). Floats stay deterministic
    under parallelism by sorting each (label, dim) group's values by vec_id
    and summing with a sequential fold — exact same IEEE order as the
    oracle's ordered list_reduce, no decimal rounding anywhere. At scale the
    sort-collect happens per group after one shuffle on (label, dim)."""
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("pos", "v"),
    )
    g = exploded.groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim")).agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("_sorted"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    total = F.aggregate(
        F.transform(F.col("_sorted"), lambda s: s.getField("v")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return g.select(
        "label", "dim", (total / F.col("n_vecs")).alias("centroid_v"), "n_vecs"
    )


@register("q33_ann_lsh", oracle=_ann_sql())
def q33_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH buckets:
    bucket assignment is map-side; the cross join becomes an equi-join on
    bucket id. Fully oracle-checked because the hyperplanes are fixed seeded
    constants shared with the generated SQL."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    res = lsh_knn(queries, cands, 3)
    return res.select("query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank"))


def _multiprobe_ann_sql() -> str:
    # Multi-probe(1) candidate set == all (q, c) bucket pairs within hamming
    # distance 1 — own bucket (xor=0) plus one flipped bit (xor=power of 2).
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb,
         {lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings WHERE vec_id < 20),
c AS (
  SELECT vec_id AS cand_id, embedding AS c_emb,
         {lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings WHERE vec_id >= 20),
p AS (
  SELECT query_id, cand_id, {_COS} AS sim
  FROM q JOIN c ON bit_count(xor(q.bucket, c.bucket)) <= 1)
SELECT query_id, cand_id, sim, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, cand_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
  FROM p)
WHERE rn <= 3
"""


@register("q70_ann_multiprobe", oracle=_multiprobe_ann_sql())
def q70_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (q33 + one-bit-flip probes): each query scores
    its own bucket and the 8 hamming-1 buckets, recovering near neighbors
    that one hyperplane split away from the query. Probe explosion rides
    the small broadcast query side; the corpus side still carries one
    bucket per row and the join stays an equi-join. Recall vs the exact
    q20 baseline is asserted >= single-probe in tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    res = lsh_knn(queries, cands, 3, multiprobe=True)
    return res.select(
        "query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank")
    )


@register(
    "q48_quantize_int8",
    oracle="""
SELECT vec_id, scale, CAST(idx - 1 AS INTEGER) AS dim,
       CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INTEGER) AS q
FROM (
  SELECT vec_id,
    CASE WHEN list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) > 0
         THEN 127.0 / list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
         ELSE 0.0 END AS scale,
    unnest(embedding) AS x,
    generate_subscripts(embedding, 1) AS idx
  FROM embeddings)
""",
)
def q48_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (vec_id, scale, dim, q): the
    4× storage/IO shrink for ANN at 100 TB. floor(x·scale + 0.5) rounding
    sidesteps the engines' half-even/half-up disagreement; everything is
    codegen column math over one scan (operators.similarity.quantize_int8),
    exploded per-dimension for the value-exact oracle."""
    from binwatch_spark.operators.similarity import quantize_int8

    emb = load(spark, sf_dir, "embeddings")
    return quantize_int8(emb, "embedding", "vec_id").select(
        "vec_id", "scale", "dim", "q"
    )


def _recall_sql() -> str:
    # exact top-3 over the SAME query/candidate split as the IVF rung
    exact_cos = (
        "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
    )
    return f"""
WITH ivf AS ({_ivf_sql()}),
exact AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY {exact_cos} DESC, c.vec_id) AS rn
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < 20 AND c.vec_id >= 20) WHERE rn <= 3)
SELECT e.query_id,
  count(*) AS n_exact,
  CAST(sum(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit,
  round(CAST(sum(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 8) AS recall
FROM exact e LEFT JOIN ivf i USING (query_id, cand_id)
GROUP BY e.query_id
"""


@register("q89_ann_recall", oracle=_recall_sql())
def q89_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@3 of the IVF rung (q38's
    exact configuration) against the brute-force cosine top-3 over the same
    query/candidate split — the measurement that decides whether an
    approximate index is good enough to replace the exact baseline. Both
    sides are deterministic (stride centroids, fixed tiebreaks), so the
    whole evaluation is oracle-checkable end-to-end. Scale posture: the
    exact side is the O(q·n) baseline — at 100 TB this evaluation runs on a
    SAMPLED query set (hundreds of queries), which is exactly how recall is
    audited in production; the IVF side stays the cheap path."""
    from binwatch_spark.operators.similarity import brute_force_knn, ivf_knn

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    cents = emb.filter(F.col("vec_id") % IVF_STRIDE == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    ivf = ivf_knn(queries, cands, cents, 3, n_probe=IVF_NPROBE).select(
        "query_id", "cand_id", F.lit(1).alias("_hit")
    )
    exact = brute_force_knn(queries, cands, 3).select("query_id", "cand_id")
    joined = exact.join(ivf, ["query_id", "cand_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("recall"),
    )


@register(
    "q93_embedding_dim_stats",
    oracle="""
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE embedding IS NOT NULL
), idx AS (
  SELECT emb, unnest(range(1, len(emb) + 1)) AS i FROM e
), v AS (
  SELECT CAST(i - 1 AS BIGINT) AS dim, emb[i] AS x FROM idx
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
  round(sum(x) / count(*), 6) AS mean,
  round(sum(x * x) / count(*)
        - (sum(x) / count(*)) * (sum(x) / count(*)), 6) AS var_pop,
  min(x) AS min_v, max(x) AS max_v
FROM v GROUP BY dim
""",
)
def q93_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution statistics over the embedding corpus —
    the whitening/normalization diagnostic an embedding pipeline runs
    before training an ANN index or a quantizer (a dimension with variance
    collapse or runaway scale distorts every cosine downstream; q48's int8
    scale and q38's centroids both assume roughly isotropic inputs).

    Plan: posexplode to (dim, value) and ONE hash aggregate on dim —
    map-side partial aggregation reduces each task's n·d values to d
    partial rows before the exchange, so the shuffle carries
    (dim, sum, sumsq, min, max, n) × d(=64) per task regardless of corpus
    size; the final reduce is d rows. Variance is computed from the
    (sum, sumsq, n) moments with the identical expression the oracle
    spells, and round(6) absorbs partial-aggregation summation order
    (values are unit-scale floats; the q90 determinism contract). min/max
    are exact float→double and stay unrounded. Body:
    operators/similarity.embedding_dim_stats — the single definition the
    numpy reference test also validates."""
    from binwatch_spark.operators.similarity import embedding_dim_stats

    emb = load(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb, "embedding")


def _kmeans_sql(dim: int | None = None, stride: int | None = None) -> str:
    # Two unrolled Lloyd rounds mirroring kmeans_lloyd_rounds' determinism
    # contract: list_dot_product distances (sequential fold = the Spark
    # kernel's index-order accumulation), argmin ties on cent_id, round-1
    # centroids rounded to 6 dp before round 2. dim/stride parameterized so
    # tests/test_wide_dim.py can pin kmeans_lloyd_rounds at dim 512 against
    # the same oracle shape (the centroid list is O(dim) SQL terms — fine).
    from binwatch_spark.functions.texthash import EMBED_DIM

    if dim is None:
        dim = EMBED_DIM
    if stride is None:
        stride = IVF_STRIDE

    cent_avg = ", ".join(
        f"round(avg(emb[{i + 1}]), 6)" for i in range(dim)
    )
    d2 = (
        "e2 - 2 * list_dot_product(emb, cent) + c2"
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS e2
  FROM embeddings
  WHERE embedding IS NOT NULL
), c0 AS (
  SELECT vec_id AS cid, emb AS cent, e2 AS c2 FROM e
  WHERE vec_id % {stride} = 0
), p1 AS (
  SELECT e.vec_id, e.emb, c0.cid, {d2} AS d2 FROM e CROSS JOIN c0
), a1 AS (
  SELECT vec_id, emb, cid AS cell, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM p1) WHERE rn = 1
), c1 AS (
  SELECT cell AS cid, [{cent_avg}] AS cent FROM a1 GROUP BY cell
), c1n AS (
  SELECT cid, cent, list_dot_product(cent, cent) AS c2 FROM c1
), p2 AS (
  SELECT e.vec_id, c1n.cid, {d2} AS d2 FROM e CROSS JOIN c1n
), a2 AS (
  SELECT vec_id, cid AS cell_id, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM p2) WHERE rn = 1
)
SELECT vec_id, cell_id, round(d2, 6) AS dist2 FROM a2
"""


@register("q98_kmeans_refine", oracle=_kmeans_sql())
def q98_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of distributed Lloyd's k-means from the IVF stride
    seeding — the coarse-quantizer TRAINING loop (q38/q89 consume such
    centroids; this trains them). An iterative ML fitting loop made fully
    oracle-checkable: bit-parity dot products, lexicographic argmin ties,
    and 6-dp fixed-point centroid quantization between rounds (see
    operators/similarity.kmeans_lloyd_rounds for the contract and the
    scale posture)."""
    from binwatch_spark.operators.similarity import kmeans_lloyd_rounds

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_lloyd_rounds(emb, "vec_id", "embedding", IVF_STRIDE)


@register(
    "q114_embedding_outliers",
    oracle="""
WITH x AS (
  SELECT vec_id,
         unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(1, len(embedding) + 1)) AS dim
  FROM embeddings WHERE embedding IS NOT NULL),
center AS (
  SELECT dim, round(quantile_cont(v, 0.5), 6) AS c FROM x GROUP BY dim),
d AS (
  SELECT x.vec_id,
         CAST(sum(CAST(round((x.v - center.c) * (x.v - center.c), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS dist2
  FROM x JOIN center USING (dim) GROUP BY x.vec_id),
bound AS (SELECT round(quantile_cont(dist2, 0.99), 6) AS b FROM d)
SELECT vec_id, round(dist2, 6) AS dist2,
       round(dist2, 6) > (SELECT b FROM bound) AS is_outlier
FROM d
""",
)
def q114_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection — the curation gate that prunes broken
    or off-manifold vectors before dedup/indexing trusts them: squared
    distance to the per-dimension MEDIAN center (robust — a mean center
    would chase the very outliers it should expose), flagged past the
    p99 distance bound. Fully deterministic: the center is the exact
    interpolated per-dim median (q43's percentile contract), each
    squared term rounds to 6 dp and accumulates in DECIMAL (exact,
    order-free — a double sum across partitions would be
    partial-aggregation-order dependent), and the p99 gate compares
    6-dp-rounded values on both engines.

    Scale: dims explode map-side; the center is a 64-row frame broadcast
    back; the per-vector sum is one exchange on vec_id; the bound is one
    aggregate row broadcast into the flag projection (q88's pattern)."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("pos", "v"),
    ).select("vec_id", (F.col("pos") + 1).cast("bigint").alias("dim"), "v")
    center = x.groupBy("dim").agg(
        F.round(F.percentile(F.col("v"), F.lit(0.5)), 6).alias("c")
    )
    term = F.round((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")), 6)
    d = (
        x.join(F.broadcast(center), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(term.cast("decimal(18,6)")).cast("double").alias("dist2")
        )
    )
    bound = d.agg(
        F.round(F.percentile(F.col("dist2"), F.lit(0.99)), 6).alias("b")
    )
    return d.crossJoin(F.broadcast(bound)).select(
        "vec_id",
        F.round(F.col("dist2"), 6).alias("dist2"),
        (F.round(F.col("dist2"), 6) > F.col("b")).alias("is_outlier"),
    )


NEG_LO, NEG_HI = 0.15, 0.35  # semi-hard band: related but not near-dup
NEG_K = 5


@register(
    "q116_hard_negatives",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL),
c AS (
  SELECT vec_id AS cand_id, embedding AS c_emb
  FROM embeddings WHERE vec_id >= 20 AND embedding IS NOT NULL),
p AS (
  SELECT query_id, cand_id, {{cos}} AS sim FROM q CROSS JOIN c)
SELECT query_id, cand_id, sim, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, cand_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
  FROM p WHERE sim >= {NEG_LO} AND sim < {NEG_HI})
WHERE rn <= {NEG_K}
""".format(cos=_COS),
)
def q116_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard negative mining for contrastive training: per anchor, the
    top-{NEG_K} candidates whose cosine falls in the semi-hard band
    [{NEG_LO}, {NEG_HI}) — similar enough to be informative, far enough
    to be true negatives (the FaceNet/SimCLR sampling rule). Too-easy
    negatives (below the band) teach nothing; near-dups above it are
    false negatives that poison the loss — the band filter is the entire
    point of the query.

    Exact baseline shape (q20's broadcast nested loop with the band
    filter applied BEFORE the top-k window, so WindowGroupLimit sees the
    reduced stream); the production rung is q117_hard_negatives_ann —
    the SAME band+rank over multi-probe LSH bucket candidates (q70's
    hamming<=radius generator), never a cross join; use THIS query to
    audit THAT one's recall."""
    from binwatch_spark.operators.similarity import _prep

    queries, cands = _anchor_corpus_split(spark, sf_dir)
    q = _prep(queries, "q_emb")
    c = _prep(cands, "c_emb")
    return _semi_hard_tail(c.crossJoin(F.broadcast(q)))


def _anchor_corpus_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared q116/q117 input split: anchors (vec_id < 20) vs corpus,
    null embeddings excluded on both sides (the oracle's band filter drops
    null-sim rows silently; the plan must never feed a null to np.stack)."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    return queries, cands


def _semi_hard_tail(pairs: DataFrame) -> DataFrame:
    """The shared q116/q117 scoring tail: cosine over _prep'd pair frames,
    the semi-hard band filter [NEG_LO, NEG_HI) applied BEFORE the
    per-anchor top-NEG_K rank window (so WindowGroupLimit sees only
    in-band pairs). One definition — the exact panel and the ANN rung can
    never diverge on the band rule or the tie-break."""
    from binwatch_spark.operators.similarity import _pair_dot_udf

    sim = _pair_dot_udf(F.col("q_emb"), F.col("c_emb")) / (
        F.col("_norm_q_emb") * F.col("_norm_c_emb")
    )
    banded = pairs.select(
        "query_id", "cand_id", sim.alias("sim")
    ).filter((F.col("sim") >= NEG_LO) & (F.col("sim") < NEG_HI))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    return (
        banded.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= NEG_K)
    )


# Semi-hard band sits at ~69-81° where per-plane disagreement is ~0.42, so
# expected hamming distance between an anchor and an in-band candidate is
# ~3.4 of 8 planes. Measured recall-vs-cost grid vs the q116 exact panel
# (sf0.001 / sf0.01, pinned in tests/test_similarity.py) over BOTH levers
# — probe radius r and independent table count L (q120's OR-of-tables
# rule applied to the mining path, VERDICT r08 #5). Cost = measured
# fraction of (anchor, candidate) pairs passing the block:
#   L=1 r=1:  recall ~0.09        cost  3.5%
#   L=1 r=2:  recall 0.27-0.28    cost 15.5%
#   L=1 r=3:  recall 0.64         cost 37%    <- single-table knee (r07)
#   L=2 r=2:  recall 0.50-0.51    cost 28%
#   L=3 r=2:  recall 0.62-0.69    cost 38%
#   L=2 r=3:  recall 0.86-0.88    cost 59-61% <- the >=0.8 knee (CHOSEN)
#   L=3 r=3:  recall 0.93-0.96    cost 73-74%
# The measurements track the independence model 1-(1-p_r)^L almost
# exactly (band pairs disagree per plane w.p. ~0.42 vs 0.5 for random
# pairs, so the LSH gap is inherently narrow at this band — ANY blocking
# scheme paying >=0.8 recall here costs >~55%; the production lever for
# a cheaper 0.8 is more planes per table with a tighter band, not more
# tables). L=2 r=3 is the chosen knee: recall clears 0.8 while candidate
# work stays ~60% of the exact cross join's.
NEG_PROBE_RADIUS = 3
# Before raising Q117_TABLES past ~4: the first-table-collision
# exclusivity filter is a per-pair bit_count conjunction that grows
# LINEARLY in the table index (t filters on table t's candidates — see
# the in-plan comment at the join below), so total filter work grows
# ~L²/2. At L=2 it is two cheap codegen compares; past ~4 switch the
# dedup strategy to one union + dropDuplicates((query_id, cand_id)) and
# re-measure — identical output either way (the oracle's OR admits each
# pair once no matter which table found it).
Q117_TABLES = 2


def _q117_oracle() -> str:
    buckets = ", ".join(
        f"{lsh_bucket_sql('embedding', t)} AS b{t}"
        for t in range(Q117_TABLES)
    )
    any_table = " OR ".join(
        f"bit_count(xor(q.b{t}, c.b{t})) <= {NEG_PROBE_RADIUS}"
        for t in range(Q117_TABLES)
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, {buckets}
  FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL),
c AS (
  SELECT vec_id AS cand_id, embedding AS c_emb, {buckets}
  FROM embeddings WHERE vec_id >= 20 AND embedding IS NOT NULL),
p AS (
  SELECT query_id, cand_id, {_COS} AS sim
  FROM q JOIN c ON ({any_table}))
SELECT query_id, cand_id, sim, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, cand_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
  FROM p WHERE sim >= {NEG_LO} AND sim < {NEG_HI})
WHERE rn <= {NEG_K}
"""


@register("q117_hard_negatives_ann", oracle=_q117_oracle())
def q117_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard negative mining, SCALE rung — q116's band + per-anchor
    top-{NEG_K} over MULTI-TABLE multi-probe LSH candidates instead of
    the O(|anchors|×|corpus|) cross join: {Q117_TABLES} independent
    hyperplane tables (q120's OR-of-tables rule applied to the mining
    path — VERDICT r08 #5), each probed at hamming radius
    {NEG_PROBE_RADIUS}. Measured vs the q116 exact panel: recall
    0.86-0.88 at 59-61% candidate cost (the full (L, radius) grid above
    NEG_PROBE_RADIUS; single-table radius 3 was 0.64 at 37% — the extra
    table buys the >=0.8 target the r07/r08 curve couldn't reach,
    floor-pinned at 0.8 in tests/test_similarity.py). Approximate BY A
    STATED RULE: the oracle spells the identical OR-of-tables
    hamming<={NEG_PROBE_RADIUS} predicate, so the driver hash-checks the
    blocked semantics end-to-end.

    Scale shape: per table, probe explosion rides the small broadcast
    anchor side (93 16-byte rows per anchor per table); the corpus keeps
    ONE bucket per row per table and each table's candidate join is an
    equi-join on bucket id — never a cross join (test_plans pins no
    CartesianProduct / no NestedLoop). Within a table every qualifying
    pair matches exactly ONE probe (mask == bucket xor); across tables,
    first-TABLE-collision uniqueness (table t>0 requires every earlier
    table to have missed — a codegen conjunction on the 8 B bucket ids
    both sides already carry) replaces the distinct stage the cross-table
    union would otherwise need, exactly q120's mechanics. Band filter
    runs BEFORE the rank window, so WindowGroupLimit sees only in-band
    pairs."""
    from binwatch_spark.functions.texthash import N_PLANES, lsh_bucket
    from binwatch_spark.operators.similarity import _prep, probe_masks

    queries, cands = _anchor_corpus_split(spark, sf_dir)
    q = _prep(queries, "q_emb")
    c = _prep(cands, "c_emb")
    for t in range(Q117_TABLES):
        q = q.withColumn(f"_b{t}", lsh_bucket("q_emb", t))
        c = c.withColumn(f"_b{t}", lsh_bucket("c_emb", t))
    masks = probe_masks(NEG_PROBE_RADIUS, N_PLANES)
    out = None
    for t in range(Q117_TABLES):
        from binwatch_spark.operators.similarity import probe_array

        probes = probe_array(f"_b{t}", masks)
        qt = q.select(
            "query_id",
            "q_emb",
            "_norm_q_emb",
            *[F.col(f"_b{s}").alias(f"_qb{s}") for s in range(t)],
            F.explode(probes).alias("_bk"),
        )
        ct = c.select(
            "cand_id",
            "c_emb",
            "_norm_c_emb",
            *[F.col(f"_b{s}").alias(f"_cb{s}") for s in range(t)],
            F.col(f"_b{t}").cast("bigint").alias("_bk"),
        )
        pt = ct.join(F.broadcast(qt), on="_bk")
        # First-table-collision exclusivity: table t keeps only pairs NOT
        # already matched by tables <t, via per-pair bit_count conjunctions
        # that grow linearly in t — fine at Q117_TABLES=2 (ADVICE r10); if
        # L grows past ~4, switch to a single union + dropDuplicates on
        # (query_id, cand_id) and compare cost — same output either way
        # (the oracle's OR admits each pair once regardless of which table
        # found it).
        for s in range(t):
            pt = pt.filter(
                F.bit_count(
                    F.col(f"_qb{s}").bitwiseXOR(F.col(f"_cb{s}"))
                )
                > NEG_PROBE_RADIUS
            )
        pt = pt.select(
            "query_id", "cand_id", "q_emb", "c_emb",
            "_norm_q_emb", "_norm_c_emb",
        )
        out = pt if out is None else out.unionByName(pt)
    return _semi_hard_tail(out)


# Hybrid retrieval: candidate-pool sizes, the RRF smoothing constant
# (Cormack et al.'s k=60), and the fused result size. Spelled identically
# in the oracle.
HYB_POOL = 50
RRF_K = 60
HYB_TOPK = 20


@register(
    "q123_hybrid_retrieval",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents WHERE doc_id >= 1
), dl AS (
  SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, avg(CAST(dlen AS DOUBLE)) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, t, count(*) AS tf FROM tok
  WHERE t IN {{terms}} GROUP BY doc_id, t
), df AS (
  SELECT t, count(*) AS df FROM tf GROUP BY t
), scored AS (
  SELECT tf.doc_id,
    ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
      * (tf.tf * ({{k1}} + 1))
      / (tf.tf + {{k1}} * (1 - {{b}} + {{b}} * dl.dlen / stats.avgdl)) AS s
  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
), lex AS (
  SELECT doc_id, round(sum(s), 6) AS bm25 FROM scored GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id LIMIT {HYB_POOL}
), lex_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM lex
), q AS (
  SELECT embedding AS q_emb FROM embeddings
  WHERE vec_id = 0 AND embedding IS NOT NULL
), c AS (
  SELECT vec_id AS doc_id, embedding AS c_emb FROM embeddings
  WHERE vec_id >= 1 AND embedding IS NOT NULL
), sem AS (
  SELECT doc_id, {{cos}} AS sim FROM c CROSS JOIN q
  ORDER BY sim DESC, doc_id LIMIT {HYB_POOL}
), sem_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY sim DESC, doc_id) AS sem_rank
  FROM sem
), fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         CAST(l.lex_rank AS INTEGER) AS lex_rank,
         CAST(s.sem_rank AS INTEGER) AS sem_rank,
         round(COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0)
               + COALESCE(1.0 / ({RRF_K} + s.sem_rank), 0), 6) AS rrf
  FROM lex_r l FULL OUTER JOIN sem_r s ON l.doc_id = s.doc_id)
SELECT doc_id, lex_rank, sem_rank, rrf FROM fused
ORDER BY rrf DESC, doc_id LIMIT {HYB_TOPK}
""".format(
        terms=repr(BM25_TERMS), k1=BM25_K1, b=BM25_B, cos=_COS
    ),
)
def q123_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval with reciprocal-rank fusion — the
    RAG-corpus ranking shape: BM25 (q90's scorer, shared via bm25_scores)
    and cosine-to-query each nominate a top-{HYB_POOL} candidate pool, the
    pools full-outer merge on doc id, and RRF
    1/({RRF_K}+rank) [Cormack et al.] fuses them into one top-{HYB_TOPK}.

    Scale shape: each side reduces to its pool with orderBy().limit() —
    TakeOrderedAndProject, a per-partition top-N + single merge, never a
    global sort — and the rank windows then run on the {HYB_POOL}-row
    bounded pools (the unpartitioned Window.orderBy is safe ONLY because
    its input is post-limit, constant-bounded). The query vector is a
    broadcast single row; the fusion join holds 2×{HYB_POOL} rows. At
    100 TB the corpus-sized work is exactly q90's filtered-aggregate scan
    plus one map-side cosine pass — no full-corpus window, no cross join
    against anything unbounded."""
    from binwatch_spark.operators.similarity import _pair_dot_udf, _prep
    from binwatch_spark.plans.text_queries import bm25_scores

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") >= 1)
    lex = (
        bm25_scores(docs)
        .select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(HYB_POOL)
    )
    lex_w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex_r = lex.select(
        "doc_id", F.row_number().over(lex_w).cast("int").alias("lex_rank")
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    q = _prep(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_emb")
        ),
        "q_emb",
    )
    c = _prep(
        emb.filter(F.col("vec_id") >= 1).select(
            F.col("vec_id").alias("doc_id"), F.col("embedding").alias("c_emb")
        ),
        "c_emb",
    )
    sim = _pair_dot_udf(F.col("q_emb"), F.col("c_emb")) / (
        F.col("_norm_q_emb") * F.col("_norm_c_emb")
    )
    sem = (
        c.crossJoin(F.broadcast(q))
        .select("doc_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(HYB_POOL)
    )
    sem_w = Window.orderBy(F.col("sim").desc(), "doc_id")
    sem_r = sem.select(
        "doc_id", F.row_number().over(sem_w).cast("int").alias("sem_rank")
    )

    rrf = F.round(
        F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    return (
        lex_r.join(sem_r, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(HYB_TOPK)
    )


CLUSTER_SAMPLE_TARGET = 12  # per-cluster quota for balanced curation


def _cluster_sample_sql() -> str:
    """q126's oracle as a reusable piece — q131's flagship composition
    embeds it verbatim as its thinning CTE (the sharing contract: the
    composite can never drift from the stage it reuses)."""
    return """
WITH assign AS (
  SELECT vec_id, cell_id FROM ({kmeans}) t
), sizes AS (
  SELECT cell_id, count(*) AS cluster_n FROM assign GROUP BY cell_id
), gated AS (
  SELECT a.vec_id, a.cell_id, s.cluster_n,
    CASE WHEN s.cluster_n <= {target} THEN 1000000
         ELSE (1000000 * {target}) // s.cluster_n
    END AS keep_below
  FROM assign a JOIN sizes s USING (cell_id))
SELECT vec_id, cell_id, cluster_n FROM gated
WHERE {h} % 1000000 < keep_below
""".format(
        kmeans=_kmeans_sql(),
        target=CLUSTER_SAMPLE_TARGET,
        h=polyhash_sql("CAST(vec_id AS VARCHAR)"),
    )


@register("q126_cluster_balanced_sample", oracle=_cluster_sample_sql())
def q126_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling — the diversity-preserving
    curation step (the SemDeDup/SSL-prototypes recipe): cluster the
    embedding space (q98's two Lloyd rounds, reused verbatim), then cap
    every cluster at ~{CLUSTER_SAMPLE_TARGET} docs via the deterministic
    content-hash gate (q36's rule over the vector id) with keep
    probability TARGET/cluster_n — over-represented modes are thinned,
    rare modes survive whole, and the subset is reproducible across
    engines and runs (no RNG).

    Scale shape: q98's kernel does the heavy lifting (one Arrow kernel
    per round, k driver-resident centroids); sizes is a k-row aggregate
    broadcast back; the gate is a map-side integer expression. The only
    corpus-sized shuffles are the ones q98 already pays."""
    from binwatch_spark.functions.texthash import polyhash
    from binwatch_spark.operators.similarity import kmeans_lloyd_rounds

    emb = load(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd_rounds(emb, "vec_id", "embedding", IVF_STRIDE).select(
        "vec_id", "cell_id"
    )
    sizes = assign.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("cluster_n")
    )
    keep_below = F.when(
        F.col("cluster_n") <= CLUSTER_SAMPLE_TARGET, F.lit(1000000)
    ).otherwise(
        F.expr(f"(1000000 * {CLUSTER_SAMPLE_TARGET}) div cluster_n")
    )
    gated = assign.join(F.broadcast(sizes), "cell_id").withColumn(
        "keep_below", keep_below
    )
    return gated.filter(
        polyhash(F.col("vec_id").cast("string")) % 1000000
        < F.col("keep_below")
    ).select("vec_id", "cell_id", "cluster_n")


PCA_ROUNDS = 4


def _pca_power_sql(k: int) -> str:
    """Oracle CTE builder for q148's power iteration (the q145/q147
    materialized-chain pattern): v0 is the first basis vector; round r
    computes u = sum over rows of (x·v) x with DECIMAL(28,10)-accumulated
    per-dimension sums (order-free, the registry convention), then
    normalizes driver-style in scalar SQL — the 64-term norm
    sum-of-squares is spelled in ascending dimension order, matching the
    Spark side's python loop, so every double stays bit-identical."""
    from binwatch_spark.functions.texthash import EMBED_DIM

    d = EMBED_DIM
    parts = [
        "emb AS MATERIALIZED (SELECT embedding AS x FROM embeddings"
        " WHERE embedding IS NOT NULL)",
        "v0 AS (SELECT "
        + ", ".join(
            f"{'1.0' if i == 0 else '0.0'} AS v{i}" for i in range(d)
        )
        + ")",
    ]
    for r in range(1, k + 1):
        prev = f"v{r - 1}"
        dot = " + ".join(
            f"CAST(e.x[{i + 1}] AS DOUBLE) * w.v{i}" for i in range(d)
        )
        sums = ", ".join(
            f"sum(CAST(({dot}) * CAST(e.x[{i + 1}] AS DOUBLE)"
            f" AS DECIMAL(28,10))) AS u{i}"
            for i in range(d)
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT {sums}"
            f" FROM emb e CROSS JOIN {prev} w)"
        )
        norm = " + ".join(
            f"CAST(g.u{i} AS DOUBLE) * CAST(g.u{i} AS DOUBLE)"
            for i in range(d)
        )
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT sqrt({norm}) AS nrm"
            f" FROM g{r} g)"
        )
        comps = ", ".join(
            f"CAST(g.u{i} AS DOUBLE) / n.nrm AS v{i}" for i in range(d)
        )
        parts.append(
            f"v{r} AS MATERIALIZED (SELECT {comps}"
            f" FROM g{r} g CROSS JOIN n{r} n)"
        )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" round(n.nrm, 6) AS lambda_n,"
        f" round(v.v0, 8) AS c0, round(v.v1, 8) AS c1,"
        f" round(v.v2, 8) AS c2, round(v.v3, 8) AS c3"
        f" FROM v{r} v CROSS JOIN n{r} n"
        for r in range(1, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


@register("q148_embedding_pca_power", oracle=_pca_power_sql(PCA_ROUNDS))
def q148_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER ITERATION
    — the dimensionality-reduction rung an embedding pipeline runs
    before whitening/compression (PCA-projected vectors make both the
    ANN index and semantic dedup cheaper per dimension). Each round is
    ONE map-side-combined aggregation: per row the scalar projection
    s = x·v against the driver-resident direction (a literal array —
    driver state O(dim), never O(data)),
    then per-dimension sums of s·x_d accumulate the un-normalized next
    direction u = Xᵀ(Xv); the driver normalizes. No shuffle ever carries
    more than the dim decimal partials per partition — at 100 TB each
    round is a single pass, the standard distributed power-iteration
    shape (and the Gram matrix is never materialized).

    Cross-engine float determinism, same contract as q147: per-row
    expressions are IEEE-identical (the dot folded in ascending
    dimension order on both engines, float32 loads cast to double —
    exact), per-dimension sums go through DECIMAL(28,10), and the
    normalization's sum-of-squares + sqrt + divides are spelled in the
    same order driver-side and in the oracle's scalar CTEs. Output per
    round: the Rayleigh-style norm estimate and the 4 leading
    components, rounded past ulp-drift range.

    Body: operators/similarity.power_iteration_rounds — a zip_with fold
    for s and one posexplode aggregate grouped by dimension, so codegen
    stays O(1) from the fixture's dim 64 to production dims (768–4096);
    tests/test_wide_dim.py pins it oracle-exact at dim 512."""
    from binwatch_spark.functions.texthash import EMBED_DIM
    from binwatch_spark.operators.similarity import power_iteration_rounds

    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("embedding").alias("x"))
        .persist()
    )
    try:
        rows = power_iteration_rounds(emb, "x", PCA_ROUNDS, dim=EMBED_DIM)
        return local_frame(
            spark,
            rows,
            "round bigint, lambda_n double, c0 double, c1 double,"
            " c2 double, c3 double",
        ).select(
            "round",
            F.round("lambda_n", 6).alias("lambda_n"),
            F.round("c0", 8).alias("c0"),
            F.round("c1", 8).alias("c1"),
            F.round("c2", 8).alias("c2"),
            F.round("c3", 8).alias("c3"),
        )
    finally:
        emb.unpersist()


# Production-blocking audit: plane count grown past the fixed 8 (the
# planes-∝-log(n) lever), probe radii summarized to this hamming depth.
Q149_PLANES = 12
Q149_MAX_D = 4


def _blocking_audit_sql() -> str:
    bucket = lsh_bucket_sql("embedding", n_planes=Q149_PLANES)
    return f"""
WITH e AS (
  SELECT {bucket} AS b FROM embeddings WHERE embedding IS NOT NULL
), h AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY b
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn FROM h
), same AS (
  SELECT CAST(0 AS BIGINT) AS hamming_d,
         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_pairs
  FROM h
), diff AS (
  SELECT CAST(bit_count(xor(a.b, c.b)) AS BIGINT) AS hamming_d,
         CAST(sum(a.n * c.n) AS BIGINT) AS n_pairs
  FROM h a JOIN h c ON a.b < c.b
  GROUP BY 1
), u AS (
  SELECT * FROM same UNION ALL SELECT * FROM diff
)
SELECT hamming_d, n_pairs,
       round(CAST(n_pairs AS DOUBLE)
             / (CAST(nn AS DOUBLE) * (nn - 1) / 2), 8) AS frac_of_all
FROM u CROSS JOIN tot
WHERE hamming_d <= {Q149_MAX_D} AND n_pairs > 0
ORDER BY hamming_d
"""


@register("q149_blocking_cost_audit", oracle=_blocking_audit_sql())
def q149_blocking_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-cost audit of the PRODUCTION LSH blocking config — plane
    count grown past the fixed 8 to Q149_PLANES=12 (texthash.
    hyperplanes_for, the prefix-stable planes-∝-log(n) family the q104
    docstring names as the 100 TB lever): for each hamming distance
    d ≤ {Q149_MAX_D}, how many vector pairs a radius-d probe set would
    admit, absolute and as a fraction of all n·(n-1)/2 pairs. This is the
    measurement a production team runs BEFORE picking (planes, radius) —
    q117's (L, radius) grid and tools/bench_semdedup_prod.py consume
    exactly this curve.

    The whole audit is O(n + B²) where B ≤ 2^planes is the BUCKET
    HISTOGRAM size — never O(n²): per-pair counts come from the
    convolution Σ n_u·n_v over bucket-value pairs at each distance, so the
    only join is the histogram against itself (≤4096 rows — a constant of
    the index config, broadcast; the one deliberate nested-loop in the
    family, bounded by design, same argument as the k-row centroid
    collects). Hash-exactness pins the ENTIRE 12-plane Arrow bucketer
    (texthash.make_lsh_bucket_udf — sequential per-dim accumulation, so
    every sign bit is bit-identical to the oracle's list_dot_product over
    the same 6-dp plane literals) on every vector: one flipped sign
    anywhere moves counts between distance rows."""
    from binwatch_spark.functions.texthash import (
        hyperplanes_for,
        make_lsh_bucket_udf,
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    bucket = make_lsh_bucket_udf(hyperplanes_for(Q149_PLANES))
    h = (
        emb.select(bucket(F.col("embedding")).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    try:
        nn = int(h.agg(F.sum("n")).first()[0] or 0)
        same = h.select(
            F.lit(0).cast("bigint").alias("hamming_d"),
            F.expr("n * (n - 1) DIV 2").cast("bigint").alias("p"),
        ).groupBy("hamming_d").agg(F.sum("p").cast("bigint").alias("n_pairs"))
        a, c = h.alias("a"), h.alias("c")
        diff = (
            a.join(F.broadcast(c), F.col("a.b") < F.col("c.b"))
            .select(
                F.bit_count(F.col("a.b").bitwiseXOR(F.col("c.b")))
                .cast("bigint")
                .alias("hamming_d"),
                (F.col("a.n") * F.col("c.n")).cast("bigint").alias("p"),
            )
            .groupBy("hamming_d")
            .agg(F.sum("p").cast("bigint").alias("n_pairs"))
        )
        all_pairs = F.lit(float(nn)) * F.lit(nn - 1) / F.lit(2)
        rows = (
            same.unionByName(diff)
            .filter(F.col("hamming_d") <= Q149_MAX_D)
            .filter(F.col("n_pairs") > 0)
            .select(
                "hamming_d",
                "n_pairs",
                F.round(
                    F.col("n_pairs").cast("double") / all_pairs, 8
                ).alias("frac_of_all"),
            )
            .orderBy("hamming_d")
            .collect()  # <= MAX_D+1 rows — the k-row driver pattern
        )
        return local_frame(
            spark, rows, "hamming_d bigint, n_pairs bigint, frac_of_all double"
        )
    finally:
        h.unpersist()
