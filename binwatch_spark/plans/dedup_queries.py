"""Deduplication query inventory (q23–q26, q34). Every query — including
MinHash-LSH and SimHash — has a full DuckDB oracle because all hashing is the
shared polynomial hash (functions.texthash) with fixed seeded constants,
generated into the SQL below from the same Python values the Spark plan uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binwatch_spark.functions.texthash import (
    BAND_ROWS,
    N_BANDS,
    SIMHASH_BITS,
    lsh_bucket_sql,
    minhash_sql,
    polyhash_sql,
)
from binwatch_spark.operators import dedup
from binwatch_spark.plans.registry import register
from binwatch_spark.tables import load

JACCARD_THRESHOLD = 0.8
SIMHASH_MAX_HAMMING = 3
COSINE_NEARDUP_THRESHOLD = 0.4

_TOKS = "list_distinct(string_split(lower(text), ' '))"
_JAC = (
    "CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE) / "
    "(len(x.toks) + len(y.toks) - len(list_intersect(x.toks, y.toks)))"
)


def _minhash_lsh_sql(src: str = "documents") -> str:
    sig_cols = ", ".join(
        f"{minhash_sql('hs', i)} AS mh{i}" for i in range(N_BANDS * BAND_ROWS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, concat_ws('-', {cols}) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)),
        )
        for b in range(N_BANDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM {src}
), th AS (
  SELECT doc_id, list_transform(toks, t -> {polyhash_sql('t')}) AS hs FROM base
), sig AS (
  SELECT doc_id, {sig_cols} FROM th
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT i, j, jac FROM (
  SELECT c.i, c.j, {_JAC} AS jac
  FROM cand c JOIN base x ON c.i = x.doc_id JOIN base y ON c.j = y.doc_id)
WHERE jac >= {JACCARD_THRESHOLD}
"""


@register("q23_minhash_lsh_dedup", oracle=_minhash_lsh_sql())
def q23_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH banding (16 bands × 8 rows; texthash.py constants)
    near-dup candidate generation with
    exact-Jaccard verification — the 100 TB near-dup path: signatures are
    map-side (fused tokens→band-keys kernel, one int64 per band), the only
    shuffle is the small (band_idx, band_key) exchange."""
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "text", "doc_id", JACCARD_THRESHOLD)


@register(
    "q24_token_jaccard_dedup",
    oracle=f"""
WITH s AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents)
SELECT i, j, jac FROM (
  SELECT x.doc_id AS i, y.doc_id AS j, {_JAC} AS jac
  FROM s x JOIN s y ON x.source = y.source AND x.doc_id < y.doc_id)
WHERE jac >= {JACCARD_THRESHOLD}
""",
)
def q24_token_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked by source — the
    blocked-pairwise rung of the dedup ladder (quadratic only within block)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, "text", "doc_id", "source", JACCARD_THRESHOLD)


def _simhash_sql() -> str:
    fp_bits = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h // {1 << b}) % 2 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH th AS (
  SELECT doc_id, source, list_transform({_TOKS}, t -> {polyhash_sql('t')}) AS hs
  FROM documents
), fp AS (
  SELECT doc_id, source, CAST({fp_bits} AS BIGINT) AS fp FROM th
)
SELECT a.doc_id AS i, b.doc_id AS j,
  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {SIMHASH_MAX_HAMMING}
"""


@register("q25_simhash_dedup", oracle=_simhash_sql())
def q25_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(24-bit) fingerprints, near-dup = hamming <= 3 within a source
    block. Fingerprints are map-side; pairing shuffles only (id, fp)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        docs, "text", "doc_id", "source", SIMHASH_MAX_HAMMING
    )


SHINGLE_K = 5
_SHINGLES = (
    f"list_distinct(list_transform(range(1, length(text) - {SHINGLE_K - 2}), "
    f"i -> substr(lower(text), CAST(i AS INTEGER), {SHINGLE_K})))"
)


def _shingle_lsh_sql() -> str:
    sig_cols = ", ".join(
        f"{minhash_sql('hs', i)} AS mh{i}" for i in range(N_BANDS * BAND_ROWS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, concat_ws('-', {cols}) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)),
        )
        for b in range(N_BANDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_SHINGLES} AS toks FROM documents
), th AS (
  SELECT doc_id, list_transform(toks, t -> {polyhash_sql('t')}) AS hs FROM base
), sig AS (
  SELECT doc_id, {sig_cols} FROM th
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT i, j, jac FROM (
  SELECT c.i, c.j, {_JAC} AS jac
  FROM cand c JOIN base x ON c.i = x.doc_id JOIN base y ON c.j = y.doc_id)
WHERE jac >= {JACCARD_THRESHOLD}
"""


@register("q37_shingle_minhash_dedup", oracle=_shingle_lsh_sql())
def q37_shingle_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram shingle MinHash-LSH near-dup pairs — the order-aware
    dedup rung (token-set MinHash q23 treats reordered text as identical;
    shingling doesn't). Shingles capture local order, so the candidate set is
    far more selective than token sets on templated corpora."""
    docs = load(spark, sf_dir, "documents")
    return dedup.shingle_minhash_lsh_pairs(
        docs, "text", "doc_id", JACCARD_THRESHOLD, k=SHINGLE_K
    )


_COS = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@register(
    "q26_embedding_neardup",
    oracle=f"""
SELECT i, j, sim FROM (
  SELECT a.vec_id AS i, b.vec_id AS j, {_COS} AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
WHERE sim >= {COSINE_NEARDUP_THRESHOLD}
""",
)
def q26_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, broadcast nested-loop). The
    LSH-bucketed variant (q33) is the scale path for the same predicate."""
    from binwatch_spark.operators.similarity import neardup_pairs

    emb = load(spark, sf_dir, "embeddings")
    return neardup_pairs(emb, "vec_id", "embedding", COSINE_NEARDUP_THRESHOLD)


@register(
    "q34_hash_dedup",
    oracle=(
        "SELECT sha256(text) AS text_sha256, min(doc_id) AS keeper_doc_id,"
        " count(*) AS dup_count FROM documents GROUP BY sha256(text)"
    ),
)
def q34_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on sha2-256: the at-scale form of q18 — the shuffle
    carries 32-byte digests, not documents."""
    docs = load(spark, sf_dir, "documents")
    return dedup.hash_dedup(docs, "text", "doc_id")


LEV_MAX_DIST = 150


@register(
    "q44_levenshtein_dedup",
    oracle=f"""
SELECT i, j, dist FROM (
  SELECT a.doc_id AS i, b.doc_id AS j,
         CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND a.source = b.source
   AND a.n_chars // 20 = b.n_chars // 20 AND a.doc_id < b.doc_id)
WHERE dist <= {LEV_MAX_DIST}
""",
)
def q44_levenshtein_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup scoring within (lang, source, length-bucket)
    blocks — the precision rung above MinHash/SimHash. Levenshtein is
    O(len²) per pair, so the operator REQUIRES blocking; here metadata
    blocks bound the pairs (77 at sf0.01, 6.3k at sf0.1), and at 100 TB
    the block key is an upstream LSH bucket instead. All-JVM (built-in
    levenshtein, no Python), one equi-join shuffle."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_lbkt", F.floor(F.col("n_chars") / 20)
    )
    return dedup.levenshtein_pairs(
        docs, "text", "doc_id", ["lang", "source", "_lbkt"], LEV_MAX_DIST
    )


SPAN_WINDOW = 8


@register(
    "q81_substring_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_WINDOW} + 2)) AS i
  FROM toks WHERE len(t) >= {SPAN_WINDOW}
), wins AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + {SPAN_WINDOW} - 1), ' ') AS win
  FROM pos
), dup AS (
  SELECT win FROM wins GROUP BY win HAVING count(*) >= 2
)
SELECT w.doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN d.win IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup,
       CAST(sum(CASE WHEN d.win IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_frac
FROM wins w LEFT JOIN dup d ON w.win = d.win
GROUP BY w.doc_id
""",
)
def q81_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al., ACL 2022): per-document fraction
    of distinct 8-token spans that recur elsewhere in the corpus — catches
    boilerplate and partial copies that document-level dedup (q18/q23)
    misses. The Spark plan groups spans by int64 xxhash64 map-side (16 B
    rows through every exchange; the oracle groups the span text — outputs
    agree absent a ~2⁻⁶⁴ hash collision). See
    operators/dedup.duplicated_span_stats for the plan audit."""
    docs = load(spark, sf_dir, "documents")
    return dedup.duplicated_span_stats(
        docs, "text", "doc_id", window=SPAN_WINDOW
    )


def _split_case_sql() -> str:
    # q73's split rule, not a copy of it: both the oracle CASE and the
    # DataFrame column come from pipeline_queries so the decontamination
    # train set can never drift from the split the pipeline actually uses.
    from binwatch_spark.plans.pipeline_queries import split_case_sql

    return split_case_sql()


@register(
    "q82_decontamination",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_split_case_sql()} AS split,
         string_split(lower(text), ' ') AS t
  FROM documents
), pos AS (
  SELECT doc_id, split, t, unnest(range(1, len(t) - {SPAN_WINDOW} + 2)) AS i
  FROM toks WHERE len(t) >= {SPAN_WINDOW}
), wins AS (
  SELECT DISTINCT doc_id, split,
         array_to_string(list_slice(t, i, i + {SPAN_WINDOW} - 1), ' ') AS win
  FROM pos
), train AS (
  SELECT DISTINCT win FROM wins WHERE split = 'train'
)
SELECT e.doc_id, e.split,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN t.win IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlap,
       CAST(sum(CASE WHEN t.win IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS contamination_frac
FROM wins e LEFT JOIN train t ON e.win = t.win
WHERE e.split <> 'train'
GROUP BY e.doc_id, e.split
""",
)
def q82_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage audit: n-gram span overlap of every val/test document
    (q73's deterministic content-hash split) against the train split —
    the decontamination signal pretraining pipelines apply before
    benchmark evaluation. Composes the q73 split expression with the q81
    span encoder; int64 span keys through every exchange. See
    operators/dedup.cross_split_contamination for the plan audit."""
    from binwatch_spark.plans.pipeline_queries import split_column

    docs = load(spark, sf_dir, "documents")
    with_split = docs.withColumn("_sp", split_column())
    return dedup.cross_split_contamination(
        with_split, "text", "doc_id", "_sp", "train", window=SPAN_WINDOW
    )


AUDIT_TOP_K = 20


@register(
    "q84_dup_span_audit",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_WINDOW} + 2)) AS i
  FROM toks WHERE len(t) >= {SPAN_WINDOW}
), wins AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + {SPAN_WINDOW} - 1), ' ') AS win
  FROM pos
)
SELECT win, count(*) AS n_docs FROM wins
GROUP BY win HAVING count(*) >= 2
ORDER BY n_docs DESC, win LIMIT {AUDIT_TOP_K}
""",
)
def q84_dup_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The human-readable companion to q81: the {AUDIT_TOP_K} most-shared
    8-token spans with their document counts — what an auditor reads to
    decide whether repeated spans are license boilerplate (strip), site
    chrome (strip), or legitimate quotes (keep). This is the one span
    query that must carry span TEXT through the aggregation; map-side
    partial aggregation collapses repeats per partition before the
    exchange, and the deterministic top-k (count desc, span asc) runs as
    TakeOrdered — per-partition k then a k·partitions merge, never a full
    sort."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_wins = F.size(toks) - SPAN_WINDOW + 1
    wins = F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(1), n_wins),
            lambda i: F.array_join(F.slice(toks, i, SPAN_WINDOW), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from binwatch_spark.tables import spread

    return (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(wins).alias("win"))
        .distinct()
        .groupBy("win")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("win"))
        .limit(AUDIT_TOP_K)
    )


@register(
    "q85_semantic_dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT i, j FROM (
    SELECT a.vec_id AS i, b.vec_id AS j, {_COS} AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
  WHERE sim >= {COSINE_NEARDUP_THRESHOLD}),
edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
comp(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
  WHERE c.label <= e.v)
SELECT node AS vec_id, min(label) AS cluster_id FROM comp GROUP BY node
""",
)
def q85_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup-style): embedding-cosine near-dup pairs
    (q26's exact predicate) collapsed into clusters with connected
    components — keep-one-per-cluster is the step that prunes
    paraphrase/translation duplicates document-level text dedup cannot
    see. Oracle: the identical clustering via a recursive CTE, so the
    composed pipeline (pair generator ∘ CC) is hash-checked end-to-end.

    This is the EXACT baseline: the pair generator is O(n²) by
    definition (triangle-blocked, bounded per-task memory, but quadratic
    work). The production rung for the same pipeline is
    q104_semantic_dedup_blocked — multi-probe LSH-bucket candidate
    edges, exact cosine verify, identical CC — which never goes
    all-pairs; use THIS query to audit THAT one on a panel."""
    from binwatch_spark.operators.similarity import neardup_pairs

    emb = load(spark, sf_dir, "embeddings")
    pairs = neardup_pairs(emb, "vec_id", "embedding", COSINE_NEARDUP_THRESHOLD)
    return dedup.connected_components(pairs.select("i", "j")).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


Q104_PROBE_RADIUS = 3  # hamming radius at the fixture's LOOSE 0.4 threshold


def _cc_contract_sql(rounds: int = 10) -> str:
    """Connected components over a ``pairs(i, j)`` CTE as unrolled
    min-contraction rounds + a remnant recursion — the DuckDB-side twin
    of the Kiveris star contraction (VERDICT r12 #5 follow-through).

    The naive recursive CTE (``comp`` accumulating every (node,
    reachable-smaller-label) pair) is Θ(Σ component²) rows — measured as
    the ENTIRE sf1.0 wall for q104/q120 once the pair stage was
    equi-joined (pairs: 4.1 s; comp over the 0.4-threshold giant
    component: >75 min, unfinished). Each contraction round maps every
    node to the min of its closed neighborhood (one GROUP BY + one join
    over the EDGE LIST, never node×label pairs) and rewrites edges
    between representatives; components shrink geometrically, the
    remnant recursion runs on whatever survives ``rounds`` rounds.

    Exactness (same output as the naive comp CTE): map(u) = min(closed
    nbhd) never increases, a component's global min maps to itself
    forever, and the min stays CONNECTED until its whole component has
    contracted onto it — an edge with exactly one endpoint mapping to m
    survives as (m, other), so m is isolated only when rep⁻¹(m) has no
    boundary, i.e. the component is done and rep IS the min. Hence
    label(node) = remnant-min of rep(node) when the remnant still has
    its edges, else rep(node) itself — identical to min-reachable-label.
    """
    parts = [
        "edges0 AS MATERIALIZED (SELECT i AS u, j AS v FROM pairs"
        " UNION SELECT j, i FROM pairs)",
        "nodes0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges0)",
        "rep0 AS MATERIALIZED (SELECT node, node AS rep FROM nodes0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"map{r} AS MATERIALIZED (SELECT u AS node, least(u, min(v)) AS rep"
            f" FROM edges{p} GROUP BY u)"
        )
        parts.append(
            f"edges{r} AS MATERIALIZED (SELECT DISTINCT m1.rep AS u, m2.rep AS v"
            f" FROM edges{p} e"
            f" JOIN map{r} m1 ON m1.node = e.u"
            f" JOIN map{r} m2 ON m2.node = e.v"
            f" WHERE m1.rep <> m2.rep)"
        )
        parts.append(
            f"rep{r} AS MATERIALIZED (SELECT rp.node, coalesce(m.rep, rp.rep) AS rep"
            f" FROM rep{p} rp"
            f" LEFT JOIN map{r} m ON m.node = rp.rep)"
        )
    parts.append(
        f"comp(node, label) AS (SELECT u, u FROM edges{rounds} UNION"
        f" SELECT e.v, c.label FROM comp c"
        f" JOIN edges{rounds} e ON e.u = c.node WHERE c.label <= e.v)"
    )
    parts.append(
        "small AS (SELECT node, min(label) AS label FROM comp"
        " GROUP BY node)"
    )
    body = ",\n".join(parts)
    return (
        body
        + f"""
SELECT rp.node AS vec_id, coalesce(s.label, rp.rep) AS cluster_id
FROM rep{rounds} rp LEFT JOIN small s ON s.node = rp.rep"""
    )


@register(
    "q104_semantic_dedup_blocked",
    # The blocking rule is stated as a BUCKET-KEY EQUI-JOIN (VERDICT r12
    # #5): bit_count(xor(a.bucket, b.bucket)) <= R is equivalent to
    # "b.bucket = xor(a.bucket, m) for the single mask m with
    # bit_count(m) <= R" — exactly the probe expansion the Spark side
    # runs — so DuckDB hash-joins candidates instead of planning an
    # all-pairs theta join, and the oracle survives sf1.0. Each (i, j)
    # appears once (one xor value → one mask), no dedup step needed.
    # The DOUBLE[] cast and the norm are computed ONCE per vector in e
    # (same doubles as _COS's per-pair recompute — sqrt of the identical
    # dot, multiplied in the identical order — so the hash is unchanged;
    # per-pair recompute was pure waste at millions of candidates).
    oracle=f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm,
         {lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings WHERE embedding IS NOT NULL
), masks AS (
  SELECT CAST(range AS BIGINT) AS m FROM range(256)
  WHERE bit_count(range) <= {Q104_PROBE_RADIUS}
), cand AS MATERIALIZED (
  SELECT p.vec_id AS i, b.vec_id AS j
  FROM (SELECT e.vec_id, xor(e.bucket, masks.m) AS pb FROM e, masks) p
  JOIN e b ON b.bucket = p.pb AND p.vec_id < b.vec_id
), pairs AS MATERIALIZED (
  SELECT i, j FROM (
    SELECT c.i, c.j,
           list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS sim
    FROM cand c JOIN e a ON a.vec_id = c.i JOIN e b ON b.vec_id = c.j)
  WHERE sim >= {COSINE_NEARDUP_THRESHOLD}),
{_cc_contract_sql()}
""",
)
def q104_semantic_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SCALE rung — q85's pipeline with the O(n²) pair
    generator replaced by multi-probe hyperplane-LSH blocking
    (operators/similarity.neardup_pairs_lsh): candidate edges are pairs
    whose 8-sign-bit buckets sit within hamming distance
    Q104_PROBE_RADIUS (q70's probe rule generalized; radius is the
    recall knob, exposed as the operator's ``radius`` argument),
    verified with the exact sequential-fold cosine, then collapsed by
    the SAME connected_components as q85/q42. Nothing in the plan is
    all-pairs: candidates come from a (id, probe_bucket) equi-join of
    16-byte rows, embeddings join back by high-cardinality id for the
    verify (test_plans pins no CartesianProduct / no NestedLoop).
    Approximate BY A STATED RULE, not by luck — the oracle spells the
    identical hamming<=3 blocking predicate, so driver hash-check covers
    the blocked semantics end-to-end; q85 remains the exact panel audit.

    Radius choice, measured (tests/test_invariants.py pins the curve):
    the fixture's deliberately LOOSE 0.4 cosine threshold puts true
    pairs at θ/π ≈ 0.37, where radius 1 recovers only ~0.21-0.25;
    radius 3 measures 0.68 (sf0.001) / 0.78 (sf0.01) at a stated cost
    of 93/256 ≈ 36% of the bucket-pair space (sum_{{w<=3}} C(8,w) = 93
    probes) vs radius 1's 9/256 ≈ 3.5%. At PRODUCTION SemDeDup
    thresholds (>= 0.95, θ/π ≈ 0.10) radius 1 already measures ~0.8 —
    at 100 TB run radius 1 and grow N_PLANES with log(n); the wide
    radius here exists because the fixture's band is far."""
    from binwatch_spark.operators.similarity import neardup_pairs_lsh

    emb = load(spark, sf_dir, "embeddings")
    pairs = neardup_pairs_lsh(
        emb,
        "vec_id",
        "embedding",
        COSINE_NEARDUP_THRESHOLD,
        radius=Q104_PROBE_RADIUS,
    )
    return dedup.connected_components(pairs.select("i", "j")).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


Q120_TABLES = 3
Q120_RADIUS = 1


def _multitable_oracle() -> str:
    """Bucket-key equi-join restatement (VERDICT r12 #5, same rewrite as
    q104): per table t, candidates are an equi-join of probe keys
    xor(b{t}, m) with bit_count(m) <= radius against exact b{t}; the
    OR-of-tables rule becomes a UNION (which also dedupes pairs that
    collide in more than one table — the OR form yielded each pair
    once, so UNION keeps the semantics identical)."""
    buckets = ", ".join(
        f"{lsh_bucket_sql('embedding', t)} AS b{t}" for t in range(Q120_TABLES)
    )
    per_table = "\n    UNION\n".join(
        f"""    SELECT p.vec_id AS i, b.vec_id AS j
    FROM (SELECT e.vec_id, xor(e.b{t}, masks.m) AS pb FROM e, masks) p
    JOIN e b ON b.b{t} = p.pb AND p.vec_id < b.vec_id"""
        for t in range(Q120_TABLES)
    )
    return f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm,
         {buckets}
  FROM embeddings WHERE embedding IS NOT NULL
), masks AS (
  SELECT CAST(range AS BIGINT) AS m FROM range(256)
  WHERE bit_count(range) <= {Q120_RADIUS}
), cand AS MATERIALIZED (
{per_table}
), pairs AS MATERIALIZED (
  SELECT i, j FROM (
    SELECT c.i, c.j,
           list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS sim
    FROM cand c JOIN e a ON a.vec_id = c.i JOIN e b ON b.vec_id = c.j)
  WHERE sim >= {COSINE_NEARDUP_THRESHOLD}),
{_cc_contract_sql()}
"""


@register("q120_semantic_dedup_multitable", oracle=_multitable_oracle())
def q120_semantic_dedup_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup via MULTI-TABLE LSH — the third blocking lever
    (q104 widens the probe radius of ONE table; this runs Q120_TABLES
    independent hyperplane tables at radius Q120_RADIUS and a pair is a
    candidate if ANY table agrees — the Indyk–Motwani production
    design). Measured on the fixture (operators/similarity.
    neardup_pairs_lsh_multitable docstring, pinned in test_invariants):
    recall 0.39-0.52 at ~10.5% candidate cost, vs q104's radius-3 0.68-
    0.78 at ~36% — the cheaper rung when a moderate-recall pass feeds a
    later exact audit. The oracle spells the identical OR-of-tables
    hamming<=1 predicate, so the blocked semantics are hash-checked.

    Scale: per table the candidate join is the same (id, probe-bucket)
    equi-join as q104 (never all-pairs; test_plans pins no
    CartesianProduct/NestedLoop); first-TABLE-collision uniqueness (each
    row carries all L bucket ids, 8 B each; table t emits only pairs
    every earlier table missed) replaces the distinct stage the
    cross-table union would otherwise need; the exact-cosine verify and
    connected components are q104's unchanged."""
    from binwatch_spark.operators.similarity import neardup_pairs_lsh_multitable

    emb = load(spark, sf_dir, "embeddings")
    pairs = neardup_pairs_lsh_multitable(
        emb,
        "vec_id",
        "embedding",
        COSINE_NEARDUP_THRESHOLD,
        n_tables=Q120_TABLES,
        radius=Q120_RADIUS,
    )
    return dedup.connected_components(pairs.select("i", "j")).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


Q94_PANEL_DOCS = 2_000  # audit panel bound, shared Spark call ↔ oracle


def _lsh_recall_sql() -> str:
    # Truth side: UNBLOCKED exact Jaccard over all pairs; LSH side: the
    # full q23 pipeline verbatim (nested CTE) — both from the same shared
    # SQL pieces the individual queries already hash-check. BOTH sides
    # read the SAME deterministic stride panel lsh_recall_audit uses
    # (stride = ceil(n / Q94_PANEL_DOCS), integer spelling matching the
    # Spark ceil-div), so the oracle stays hash-exact at ANY sf — at
    # sf0.01 (500 docs) the stride is 1 and the panel is the full corpus.
    return f"""
WITH st AS (
  SELECT greatest(1, (count(*) + {Q94_PANEL_DOCS} - 1) // {Q94_PANEL_DOCS})
    AS s FROM documents
), sampled AS (
  SELECT * FROM documents WHERE doc_id % (SELECT s FROM st) = 0
), truth AS (
  SELECT x.doc_id AS i, y.doc_id AS j
  FROM (SELECT doc_id, {_TOKS} AS toks FROM sampled) x
  JOIN (SELECT doc_id, {_TOKS} AS toks FROM sampled) y
    ON x.doc_id < y.doc_id
  WHERE {_JAC} >= {JACCARD_THRESHOLD}
), lsh AS (
  SELECT i, j FROM ({_minhash_lsh_sql(src="sampled")})
), paired AS (
  SELECT CASE WHEN t.i IS NOT NULL THEN 1 ELSE 0 END AS tt,
         CASE WHEN l.i IS NOT NULL THEN 1 ELSE 0 END AS ll
  FROM truth t FULL OUTER JOIN lsh l ON t.i = l.i AND t.j = l.j)
SELECT CAST(coalesce(sum(tt), 0) AS BIGINT) AS n_true,
       CAST(coalesce(sum(ll), 0) AS BIGINT) AS n_lsh,
       CAST(coalesce(sum(tt * ll), 0) AS BIGINT) AS n_hit,
       CASE WHEN coalesce(sum(tt), 0) = 0 THEN NULL
            ELSE round(CAST(coalesce(sum(tt * ll), 0) AS DOUBLE) / sum(tt), 8)
       END AS recall
FROM paired
"""


@register("q94_lsh_recall", oracle=_lsh_recall_sql())
def q94_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the MinHash-LSH rung (q23's exact configuration)
    against the unblocked exact-Jaccard truth set — the q89-for-dedup:
    the measured number that justifies replacing exact near-dedup with the
    banded rung at 100 TB. Truth is O(n²) so the audit runs on a
    deterministic 2k-doc stride panel (both sides see the same universe —
    the ratio stays unbiased; see operators/dedup.lsh_recall_audit for the
    sampling contract). The oracle encodes the SAME stride rule, so it is
    hash-exact at any sf: at the driver's sf0.01 (500 docs) the stride is
    1 and the unsampled path is what gets checked end-to-end."""
    docs = load(spark, sf_dir, "documents")
    return dedup.lsh_recall_audit(
        docs, "text", "doc_id", JACCARD_THRESHOLD,
        max_exact_docs=Q94_PANEL_DOCS,
    )


def _drop_list_sql() -> str:
    # q34's digest dedup + q42's recursive-CTE clustering, composed with
    # exact-precedence into the actionable artifact.
    return f"""
WITH RECURSIVE s AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
pairs AS (
  SELECT i, j FROM (
    SELECT x.doc_id AS i, y.doc_id AS j, {_JAC} AS jac
    FROM s x JOIN s y ON x.source = y.source AND x.doc_id < y.doc_id)
  WHERE jac >= {JACCARD_THRESHOLD}),
edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
comp(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
  WHERE c.label <= e.v),
cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM comp GROUP BY node),
groups AS (
  SELECT sha256(text) AS dig, min(doc_id) AS keeper FROM documents
  GROUP BY sha256(text)),
exact_drop AS (
  SELECT d.doc_id, g.keeper AS keeper_doc_id
  FROM documents d JOIN groups g ON sha256(d.text) = g.dig
  WHERE d.doc_id <> g.keeper),
near_drop AS (
  SELECT cc.doc_id, cc.cluster_id AS keeper_doc_id FROM cc
  WHERE cc.doc_id <> cc.cluster_id
    AND cc.doc_id NOT IN (SELECT doc_id FROM exact_drop))
SELECT doc_id, keeper_doc_id, 'exact' AS reason FROM exact_drop
UNION ALL
SELECT doc_id, keeper_doc_id, 'near' AS reason FROM near_drop
"""


@register("q96_dedup_drop_list", oracle=_drop_list_sql())
def q96_dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's actionable output: one (doc_id, keeper_doc_id,
    reason) row per document the pipeline should DROP — exact duplicates
    point at their digest-group keeper (q34's semantics), near-dup cluster
    members point at their cluster canonical (q42's min-label), with exact
    taking precedence when a document is both. This is the artifact a
    curation run materializes and anti-joins against the corpus; q95 shows
    the aggregate view, this is the row-level one.

    Keeper pointers are ONE hop: a near-dup keeper may itself be an exact
    drop when its identical twin lives in another source block (blocked
    near-dup can't see across blocks); consumers chase the chain or drop
    by doc_id only — both engines agree on the same one-hop convention.

    Scale: the digest join shuffles 32-byte keys; the anti-join and CC are
    the proven q34/q42 shapes; reasons are literals — no new shuffle."""
    docs = load(spark, sf_dir, "documents")
    groups = (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("_dig"))
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )
    exact_drop = (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("_dig"))
        .join(groups, "_dig")
        .filter(F.col("doc_id") != F.col("keeper_doc_id"))
        .select("doc_id", "keeper_doc_id")
    ).persist()
    # two consumers: the union + the anti-join
    exact_drop.count()
    cc = dedup.connected_components(
        dedup.jaccard_pairs(
            docs, "text", "doc_id", "source", JACCARD_THRESHOLD
        ).select("i", "j")
    )
    near_drop = (
        cc.filter(F.col("doc_id") != F.col("cluster_id"))
        .join(exact_drop.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("cluster_id").alias("keeper_doc_id"))
    )
    return exact_drop.withColumn("reason", F.lit("exact")).unionByName(
        near_drop.withColumn("reason", F.lit("near"))
    )


def _keep_best_sql() -> str:
    # q96's dedup skeleton (digest groups + recursive-CTE clustering) with
    # the keeper rule upgraded from min-id to ARGMAX QUALITY (ties by id);
    # the quality expression is q28's, spelled identically.
    from binwatch_spark.plans.text_queries import _stop_list_sql

    qual = f"""
qraw AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens,
    len(list_filter(string_split(lower(text), ' '),
        t -> list_contains({_stop_list_sql("en")}, t))) AS hits
  FROM documents),
qual AS (
  SELECT doc_id,
    round(least(CAST(n_tokens AS DOUBLE) / 50, CAST(1 AS DOUBLE))
      * CAST(0.5 AS DOUBLE)
      + (CAST(hits AS DOUBLE) / n_tokens) * CAST(0.5 AS DOUBLE), 6)
      AS quality
  FROM qraw)"""
    return f"""
WITH RECURSIVE s AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
pairs AS (
  SELECT i, j FROM (
    SELECT x.doc_id AS i, y.doc_id AS j, {_JAC} AS jac
    FROM s x JOIN s y ON x.source = y.source AND x.doc_id < y.doc_id)
  WHERE jac >= {JACCARD_THRESHOLD}),
edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
comp(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
  WHERE c.label <= e.v),
cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM comp GROUP BY node),
{qual},
exr AS (
  SELECT d.doc_id, sha256(d.text) AS dig, q.quality,
    row_number() OVER (PARTITION BY sha256(d.text)
                       ORDER BY q.quality DESC, d.doc_id) AS rn
  FROM documents d JOIN qual q USING (doc_id)),
keep AS (SELECT dig, doc_id AS keeper FROM exr WHERE rn = 1),
exact_drop AS (
  SELECT e.doc_id, k.keeper AS keeper_doc_id
  FROM exr e JOIN keep k USING (dig) WHERE e.rn > 1),
nk AS (
  SELECT cluster_id, doc_id AS keeper FROM (
    SELECT cc.cluster_id, cc.doc_id,
      row_number() OVER (PARTITION BY cc.cluster_id
                         ORDER BY q.quality DESC, cc.doc_id) AS rn
    FROM cc JOIN qual q USING (doc_id)) WHERE rn = 1),
near_drop AS (
  SELECT cc.doc_id, nk.keeper AS keeper_doc_id
  FROM cc JOIN nk USING (cluster_id)
  WHERE cc.doc_id <> nk.keeper
    AND cc.doc_id NOT IN (SELECT doc_id FROM exact_drop))
SELECT doc_id, keeper_doc_id, 'exact' AS reason FROM exact_drop
UNION ALL
SELECT doc_id, keeper_doc_id, 'near' AS reason FROM near_drop
"""


@register("q106_keep_best_drop_list", oracle=_keep_best_sql())
def q106_keep_best_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q96's row-level drop list with the curation-grade keeper rule: each
    duplicate group keeps its HIGHEST-QUALITY member (q28's composite
    score, ties by doc_id) instead of the lowest id — the rule real
    pipelines want, because near-dup clusters routinely mix a clean
    original with truncated or boilerplate-wrapped copies, and min-id
    keeps whichever was crawled first. Exact groups rank within their
    sha256 digest; near clusters (q42's source-blocked Jaccard + CC,
    unchanged) rank within their cluster; exact precedence as q96.

    Scale: quality is a map-side expression (q28's, the shared
    quality_features); both keeper ranks are windows over HIGH-CARDINALITY
    keys (32-byte digest / cluster id) with WindowGroupLimit-friendly
    rank-1 selection — no new shuffle class beyond q96's, just a quality
    column riding the same exchanges."""
    from binwatch_spark.operators import text

    docs = load(spark, sf_dir, "documents")
    feats = text.quality_features(F.col("text"))
    qual = docs.select("doc_id", feats["quality"].alias("_q"))
    from pyspark.sql import Window

    ranked = (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("_dig"))
        .join(qual, "doc_id")
        .select(
            "doc_id",
            F.row_number()
            .over(
                Window.partitionBy("_dig").orderBy(
                    F.col("_q").desc(), F.col("doc_id")
                )
            )
            .alias("_rn"),
            F.first("doc_id")
            .over(
                Window.partitionBy("_dig").orderBy(
                    F.col("_q").desc(), F.col("doc_id")
                )
            )
            .alias("_keeper"),
        )
    )
    exact_drop = (
        ranked.filter(F.col("_rn") > 1)
        .select("doc_id", F.col("_keeper").alias("keeper_doc_id"))
        .persist()
    )
    # two consumers: the union + the anti-join
    exact_drop.count()
    cc = dedup.connected_components(
        dedup.jaccard_pairs(
            docs, "text", "doc_id", "source", JACCARD_THRESHOLD
        ).select("i", "j")
    )
    wc = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col("doc_id")
    )
    near_drop = (
        cc.join(qual, "doc_id")
        .select("doc_id", "cluster_id", F.first("doc_id").over(wc).alias("_keeper"))
        .filter(F.col("doc_id") != F.col("_keeper"))
        .join(exact_drop.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("_keeper").alias("keeper_doc_id"))
    )
    return exact_drop.withColumn("reason", F.lit("exact")).unionByName(
        near_drop.withColumn("reason", F.lit("near"))
    )


INCR_MOD = 5  # doc_id % INCR_MOD == 0 → the "incoming" batch; else corpus


def _incr_verdict_ctes(sfx: str, corpus: str, incoming: str) -> str:
    """CTE chain computing q107's per-doc verdicts for the ``incoming``
    CTE probed against the ``corpus`` CTE (both must already be defined in
    the enclosing WITH). Final CTE: ``verd{sfx}`` (doc_id, verdict,
    match_doc_id). Cross-frame variant of q23's oracle: both sides compute
    the same 128-permutation MinHash bands; candidates join on (band_idx,
    key) ACROSS frames; exact Jaccard verifies; digest equality handles
    exact. Parameterized so q107 (one round) and q122 (probe → append
    keepers → probe again) state the SAME semantics from one builder."""
    sig_cols = ", ".join(
        f"{minhash_sql('hs', i)} AS mh{i}" for i in range(N_BANDS * BAND_ROWS)
    )

    def bands(side: str) -> str:
        return " UNION ALL ".join(
            "SELECT doc_id, {b} AS band_idx, concat_ws('-', {cols}) AS band_key"
            " FROM sig_{side}{sfx}".format(
                b=b,
                cols=", ".join(
                    f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)
                ),
                side=side,
                sfx=sfx,
            )
            for b in range(N_BANDS)
        )

    return f"""base_c{sfx} AS (SELECT doc_id, {_TOKS} AS toks FROM {corpus}),
base_i{sfx} AS (SELECT doc_id, {_TOKS} AS toks FROM {incoming}),
th_c{sfx} AS (SELECT doc_id, list_transform(toks, t -> {polyhash_sql('t')}) AS hs FROM base_c{sfx}),
th_i{sfx} AS (SELECT doc_id, list_transform(toks, t -> {polyhash_sql('t')}) AS hs FROM base_i{sfx}),
sig_c{sfx} AS (SELECT doc_id, {sig_cols} FROM th_c{sfx}),
sig_i{sfx} AS (SELECT doc_id, {sig_cols} FROM th_i{sfx}),
bands_c{sfx} AS ({bands('c')}),
bands_i{sfx} AS ({bands('i')}),
coldk{sfx} AS (
  SELECT band_idx, band_key FROM bands_c{sfx}
  GROUP BY band_idx, band_key HAVING count(*) <= {dedup.BAND_KEY_CAP}),
cand{sfx} AS (
  SELECT DISTINCT bi.doc_id AS i, bc.doc_id AS j
  FROM bands_i{sfx} bi
  JOIN coldk{sfx} k
    ON bi.band_idx = k.band_idx AND bi.band_key = k.band_key
  JOIN bands_c{sfx} bc
    ON bi.band_idx = bc.band_idx AND bi.band_key = bc.band_key),
near{sfx} AS (
  SELECT i AS doc_id, min(j) AS m FROM (
    SELECT c.i, c.j, {_JAC} AS jac
    FROM cand{sfx} c JOIN base_i{sfx} x ON c.i = x.doc_id
                JOIN base_c{sfx} y ON c.j = y.doc_id)
  WHERE jac >= {JACCARD_THRESHOLD} GROUP BY i),
cdig{sfx} AS (SELECT sha256(text) AS dig, min(doc_id) AS m FROM {corpus} GROUP BY sha256(text)),
exact{sfx} AS (
  SELECT inc.doc_id, cdig{sfx}.m FROM {incoming} inc
  JOIN cdig{sfx} ON sha256(inc.text) = cdig{sfx}.dig),
verd{sfx} AS (
  SELECT inc.doc_id,
    CASE WHEN e.m IS NOT NULL THEN 'drop_exact'
         WHEN n.m IS NOT NULL THEN 'drop_near'
         ELSE 'keep' END AS verdict,
    coalesce(e.m, n.m) AS match_doc_id
  FROM {incoming} inc
  LEFT JOIN exact{sfx} e ON inc.doc_id = e.doc_id
  LEFT JOIN near{sfx} n ON inc.doc_id = n.doc_id)"""


def _incremental_dedup_sql() -> str:
    return f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % {INCR_MOD} <> 0),
incoming AS (SELECT * FROM documents WHERE doc_id % {INCR_MOD} = 0),
{_incr_verdict_ctes('', 'corpus', 'incoming')}
SELECT doc_id, verdict, match_doc_id FROM verd
"""


@register("q107_incremental_dedup", oracle=_incremental_dedup_sql())
def q107_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape a production pipeline actually runs:
    an INCOMING batch (doc_id % 5 == 0 here; a crawl delta in production)
    deduped against the EXISTING corpus without ever re-deduping the
    corpus itself. Per incoming doc: 'drop_exact' when its sha256 matches
    any corpus doc, else 'drop_near' when exact Jaccard >= 0.8 against a
    band-index candidate, else 'keep'; match_doc_id is the smallest
    matching corpus doc (exact precedence).

    Scale shape: the corpus side is touched exactly the way a persisted
    dedup INDEX would be — a digest frame (32-byte keys) and a MinHash
    band frame ((band_idx, int64 key) rows, q23's fused map-side kernel),
    both from dedup._index_frames — and the probe is
    dedup.incremental_dedup_with_index, the same one q118/q122 run on the
    stored, bucketed index tables. Candidates come from
    the cross-frame band equi-join (never all-pairs) under the
    HOT-BUCKET CAP (dedup.BAND_KEY_CAP, r10 scale-decade finding: hot
    band keys made the uncapped join O(n²) on this vocabulary — 356M
    candidate rows / 215 s per probe at sf1.0, vs 5.2 s capped; the
    oracle's coldk CTE spells the identical rule, and the measured
    recall cost is 3/71 near verdicts at sf0.01); only candidates pay
    the exact-Jaccard verify; all joins are keyed. The oracle recomputes
    the identical two-sided band index in SQL, so the whole incremental
    path — cap included — is hash-checked."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    incoming = docs.filter(F.col("doc_id") % INCR_MOD == 0)
    digests, bands = dedup._index_frames(corpus, "text", "doc_id")
    return dedup.incremental_dedup_with_index(
        incoming, corpus, digests, bands, "text", "doc_id", JACCARD_THRESHOLD
    )


@register("q118_stream_index_dedup", oracle=_incremental_dedup_sql())
def q118_stream_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized dedup index wired into the STREAMING path — the
    production shape a CDC/crawl pipeline runs continuously: the corpus
    index is built ONCE (operators/dedup.build_dedup_index — bucketed
    digest table + bucketed (band_idx, key) band table), then each
    arriving micro-batch is probed against it inside foreachBatch
    (incremental_dedup_with_index: digest join for exact dups, band
    equi-join under the hot-bucket cap for near candidates, exact
    Jaccard verify fetching corpus rows BY ID) and the per-doc verdicts
    (keep / drop_exact / drop_near, with the matched corpus doc) are
    appended downstream. q107 is this exact semantics as one batch query;
    q110 proves the stream-static join alone — this composes the REAL
    artifact: the stream never re-scans or re-hashes the corpus, and the
    index tables are re-resolved per micro-batch so a concurrently
    growing index is picked up batch-over-batch.

    Verdicts are per-doc against the CORPUS only (q107's contract — no
    intra-incoming dedup), so the union of per-micro-batch probes equals
    the one-shot batch result and the whole streaming path is
    hash-checked against q107's batch oracle verbatim.

    Scale: the probe side is delta-sized; the digest probe joins 32-byte
    keys against the bucketed table (stored side exchange-free); band
    candidates come from the bucketed (doc_id, band_idx, band_key) table;
    only candidates touch corpus text."""
    from binwatch_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_with_index,
    )
    from binwatch_spark.plans.pipeline_queries import (
        _run_bounded_stream_foreach,
    )

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    incoming = docs.filter(F.col("doc_id") % INCR_MOD == 0).select(
        "doc_id", "text"
    )
    digest_t, bands_t = build_dedup_index(
        corpus, "text", "doc_id", prefix="q118_dedup_index"
    )
    first = incoming.filter(F.col("doc_id") % 10 == 0)
    second = incoming.filter(F.col("doc_id") % 10 != 0)

    def probe(batch_df: DataFrame) -> DataFrame:
        return incremental_dedup_with_index(
            batch_df,
            corpus,
            spark.table(digest_t),
            spark.table(bands_t),
            "text",
            "doc_id",
            JACCARD_THRESHOLD,
        )

    return _run_bounded_stream_foreach(
        spark, "q118_stream_", [("b0", first), ("b1", second)], probe
    )


def _index_loop_sql() -> str:
    return f"""
WITH corpus0 AS (SELECT * FROM documents WHERE doc_id % {INCR_MOD} <> 0),
b AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
c AS (SELECT * FROM documents
      WHERE doc_id % {INCR_MOD} = 0 AND doc_id % 10 <> 0),
{_incr_verdict_ctes('_b', 'corpus0', 'b')},
keep_b AS (
  SELECT d.* FROM documents d
  JOIN verd_b v ON d.doc_id = v.doc_id AND v.verdict = 'keep'),
corpus1 AS (SELECT * FROM corpus0 UNION ALL SELECT * FROM keep_b),
{_incr_verdict_ctes('_c', 'corpus1', 'c')}
SELECT 'b0' AS batch, doc_id, verdict, match_doc_id FROM verd_b
UNION ALL
SELECT 'b1' AS batch, doc_id, verdict, match_doc_id FROM verd_c
"""


@register("q122_index_update_loop", oracle=_index_loop_sql())
def q122_index_update_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL daily-crawl index-maintenance loop, batch form: build the
    corpus index once (build_dedup_index), probe delta batch B against
    it, APPEND B's accepted docs to the index (update_dedup_index —
    bucketed-table appends, no rebuild, no corpus re-scan), then probe
    delta batch C against the UPDATED index — so a C doc duplicating a
    B keeper is correctly dropped even though neither is in the original
    corpus. q107 proves one probe; q118 streams the probes; this is the
    maintenance step between them, and the oracle states both rounds
    from the same CTE builder (corpus1 = corpus0 ∪ B-keepers), so the
    append semantics — not just one probe — are hash-checked.

    B's verdicts are materialized to parquet BEFORE the index append:
    the probe reads the index tables lazily, and evaluating it after the
    append would let B probe its own keepers (a batch deduping against
    itself violates q107's corpus-only contract — and a cache-evicted
    persist() would do exactly that silently).

    Scale: the appends write delta-sized bucketed files into the
    existing bucket layout (future probes stay exchange-free on the
    stored side); everything else inherits q107's shape."""
    import tempfile

    from binwatch_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_with_index,
        update_dedup_index,
    )

    docs = load(spark, sf_dir, "documents")
    corpus0 = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    b = docs.filter(F.col("doc_id") % 10 == 0)
    c = docs.filter(
        (F.col("doc_id") % INCR_MOD == 0) & (F.col("doc_id") % 10 != 0)
    )
    prefix = "q122_dedup_index"
    digest_t, bands_t = build_dedup_index(
        corpus0, "text", "doc_id", prefix=prefix
    )
    verd_b_lazy = incremental_dedup_with_index(
        b,
        corpus0,
        spark.table(digest_t),
        spark.table(bands_t),
        "text",
        "doc_id",
        JACCARD_THRESHOLD,
    )
    # The spill must outlive this call (the returned DataFrame reads it
    # lazily), so removal is deferred to interpreter exit — without it a
    # bench sweep (3 runs) leaked one parquet temp dir per invocation
    # (ADVICE r07 #5).
    import atexit
    import shutil

    spill = tempfile.mkdtemp(prefix="q122_verd_b_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    verd_b_lazy.write.mode("overwrite").parquet(spill)
    # re-read with the writer's own schema: skips the footer-inference job
    # on a structure this function just built (same class as
    # tables._SCHEMA_CACHE)
    verd_b = spark.read.schema(verd_b_lazy.schema).parquet(spill)

    keep_b = docs.join(
        verd_b.filter(F.col("verdict") == "keep").select("doc_id"), "doc_id"
    )
    update_dedup_index(keep_b, "text", "doc_id", prefix=prefix)
    # resolved after the append, so C probes the updated index
    verd_c = incremental_dedup_with_index(
        c,
        corpus0.unionByName(keep_b),
        spark.table(digest_t),
        spark.table(bands_t),
        "text",
        "doc_id",
        JACCARD_THRESHOLD,
    )
    return verd_b.withColumn("batch", F.lit("b0")).unionByName(
        verd_c.withColumn("batch", F.lit("b1"))
    ).select("batch", "doc_id", "verdict", "match_doc_id")


@register(
    "q142_source_overlap_matrix",
    oracle="""
WITH d AS (
  SELECT DISTINCT sha256(text) AS dig, source FROM documents)
SELECT a.source AS src_a, b.source AS src_b,
  CAST(count(*) AS BIGINT) AS shared_digests
FROM d a JOIN d b ON a.dig = b.dig AND a.source < b.source
GROUP BY a.source, b.source
""",
)
def q142_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix — the curation diagnostic that
    answers "which of my crawls/dumps duplicate each other" BEFORE
    deciding mixture weights (two sources sharing half their content
    would otherwise be double-weighted): for every source pair, the
    number of distinct content digests present in both. Runs on exact
    digests (q34's identity rule); the near-dup analogue swaps the digest
    for a q23 band-cluster id.

    Scale shape: distinct (digest, source) first — ONE shuffle carrying
    32-byte digests, map-side combined; the self-join is digest-keyed
    (co-partitioned, no broadcast of the corpus), and per-digest fan-out
    is bounded by the SOURCE count (≤ k² pairs per digest for k sources,
    k = mixture cardinality ~dozens), so the join output is tiny even at
    100 TB. Output is a ≤ k²-row matrix."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        F.sha2(F.col("text"), 256).alias("dig"), "source"
    ).distinct()
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.dig") == F.col("b.dig"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_digests"))
    )


@register(
    "q143_dedup_impact",
    oracle="""
WITH k AS (
  SELECT min(doc_id) AS keeper FROM documents GROUP BY sha256(text)),
t AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    doc_id IN (SELECT keeper FROM k) AS is_keeper
  FROM documents)
SELECT source,
  CAST(count(*) AS BIGINT) AS docs_total,
  CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
  CAST(sum(CASE WHEN is_keeper THEN n_tokens ELSE 0 END) AS BIGINT)
    AS tokens_kept
FROM t GROUP BY source
""",
)
def q143_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact accounting — "what did exact dedup cost each source":
    per source, docs/tokens before vs after keep-first digest dedup
    (q34's keeper rule). The report a curation run publishes next to its
    drop list; read together with q142 it tells you WHO the removed
    duplicates were shared with.

    Shape: keeper set is the digest aggregate (32-byte shuffle); the
    membership flag is a keeper-side semi-join back on doc_id; the final
    per-source aggregate is map-side combined. Integer-only output."""
    docs = load(spark, sf_dir, "documents")
    keepers = (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("_dig"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    ).join(
        keepers.withColumn("is_keeper", F.lit(True)), "doc_id", "left"
    ).withColumn("is_keeper", F.coalesce("is_keeper", F.lit(False)))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_total"),
        F.sum(F.when(F.col("is_keeper"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.sum(F.when(F.col("is_keeper"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )


def _split_leakage_sql() -> str:
    # q24's blocked-pair CTE + q73's split rule, composed: the leakage a
    # hash split CANNOT prevent (exact dups co-locate by construction;
    # near dups need not).
    from binwatch_spark.plans.pipeline_queries import split_case_sql

    return f"""
WITH s AS (
  SELECT doc_id, source, {_TOKS} AS toks, {split_case_sql()} AS split
  FROM documents),
p AS (
  SELECT x.split AS sx, y.split AS sy
  FROM s x JOIN s y ON x.source = y.source AND x.doc_id < y.doc_id
  WHERE {_JAC} >= {JACCARD_THRESHOLD})
SELECT least(sx, sy) AS split_a, greatest(sx, sy) AS split_b,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY least(sx, sy), greatest(sx, sy)
"""


@register("q144_split_leakage", oracle=_split_leakage_sql())
def q144_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit for NEAR duplicates: q73's content-hash
    split provably co-locates EXACT duplicates, but near-dups (q24's
    blocked Jaccard pairs) can land on opposite sides — this matrix
    counts near-dup pairs by split pair, and its off-diagonal rows
    (train-test, train-val, test-val) are the contamination a curation
    run must drive to zero (by dropping or re-assigning one member —
    q82's decontamination is the substring-grade version of the same
    audit). Shares the pair generator with q24 and the split rule with
    q73 on both engines.

    Scale: the pair stage is q24's (block-size gated, LSH cutover); the
    split label is a map-side expression joined by doc_id; output is a
    ≤6-row matrix."""
    from binwatch_spark.plans.pipeline_queries import split_column

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        docs, "text", "doc_id", "source", JACCARD_THRESHOLD
    ).select("i", "j")
    lab = docs.select("doc_id", split_column().alias("split"))
    joined = (
        pairs.join(
            lab.select(
                F.col("doc_id").alias("i"), F.col("split").alias("sx")
            ),
            "i",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("j"), F.col("split").alias("sy")
            ),
            "j",
        )
    )
    return (
        joined.select(
            F.least("sx", "sy").alias("split_a"),
            F.greatest("sx", "sy").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
