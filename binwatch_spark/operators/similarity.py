"""Similarity search over embedding columns: exact cosine kNN (baseline) and
random-hyperplane-LSH bucketed ANN (the scale path).

Cosine similarity is computed as a *sequential* double fold (zip_with +
aggregate) so results are bit-identical to DuckDB's list_dot_product — this
keeps even the approximate-ANN query oracle-checkable, because the "random"
hyperplanes are fixed seeded constants shared with the generated SQL
(functions.texthash.HYPERPLANES).

Per-row work (double cast, self-norm) is precomputed ONCE before pairing —
`sqrt(dot(a,a))` per row instead of per pair — which cuts the pairwise
expression to a single fold with no change in float results (same ops, same
association, just not recomputed).

Scale posture: brute force is a broadcast nested-loop over candidate
partitions — right for one-off queries; the LSH variant buckets candidates
map-side (bucket = 8 sign bits), turning the cross join into an equi-join on
bucket id — candidate count per query drops ~2^8 and the join shuffles only
bucket-matched rows. Multi-probe (lsh_knn(multiprobe=True), q70) additionally
probes every one-bit-flip bucket to recover neighbors split off by a single
hyperplane — the recall lever at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from binwatch_spark.functions.texthash import lsh_bucket


def _dot(x: Column, y: Column) -> Column:
    """Sequential left-to-right double fold — DuckDB list_dot_product parity."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
    )


import pandas as pd  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402
from pyspark.sql.types import DoubleType  # noqa: E402


@pandas_udf(DoubleType())
def _pair_dot_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
    """Arrow-vectorized dot product for the pairwise hot path.

    Spark's higher-order functions (aggregate/zip_with) are CodegenFallback —
    interpreted per row — and a BroadcastNestedLoopJoin evaluates its
    condition per pair, so a JVM-expression dot product dominates pairwise
    similarity cost (~40 s for 2M pairs at sf0.1). This UDF is vectorized
    ACROSS pairs but accumulates SEQUENTIALLY over dimensions —
    acc = (((0 + t1) + t2) + ...) elementwise — the exact IEEE order of the
    sequential fold and of DuckDB's list_dot_product, so results stay
    bit-identical to the oracle while running ~30× faster.
    """
    import numpy as np

    a = np.stack(xs.to_numpy())
    b = np.stack(ys.to_numpy())
    acc = np.zeros(len(a), dtype=np.float64)
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return pd.Series(acc)


def cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine similarity of two float-array columns (un-prepped
    convenience form)."""
    ad = F.transform(a, lambda v: v.cast("double"))
    bd = F.transform(b, lambda v: v.cast("double"))
    return _dot(ad, bd) / (F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd)))


def _prep(df: DataFrame, emb_col: str, with_bucket: bool = False) -> DataFrame:
    """Precompute the double-cast array and its norm (and optionally the LSH
    bucket) map-side, once per row."""
    dbl = F.transform(F.col(emb_col), lambda v: v.cast("double"))
    out = df.withColumn(emb_col, dbl).withColumn(
        f"_norm_{emb_col}", F.sqrt(_dot(F.col(emb_col), F.col(emb_col)))
    )
    if with_bucket:
        out = out.withColumn("_bucket", lsh_bucket(emb_col))
    return out


def probe_masks(radius: int, n_planes: int) -> list[int]:
    """All xor masks of popcount <= radius over n_planes sign bits, 0 first
    (own bucket), then ascending weight/value — the multi-probe LSH probe
    set at hamming radius ``radius``. Every (query, candidate) pair whose
    buckets differ by xor d matches on EXACTLY the probe m == d, so probe
    explosion never duplicates a pair and no distinct stage is needed —
    at any radius, not just 1."""
    from itertools import combinations

    masks: list[int] = []
    for w in range(radius + 1):
        masks.extend(
            sorted(
                sum(1 << b for b in bits)
                for bits in combinations(range(n_planes), w)
            )
        )
    return masks


def probe_array(bucket_col: str, masks: list[int]) -> Column:
    """``array(CAST((bucket ^ m) AS BIGINT), ...)`` over the probe masks,
    built as ONE parsed SQL expression. The per-mask Column loop costs ~3
    py4j round trips per mask — pure driver time, ~0.4 s at radius 3's 93
    masks (r13 profiling: expression CONSTRUCTION, not planning, dominated
    the multi-probe queries' wall) — while the string form is a single
    parse. The parsed tree is the same xor + cast per element."""
    body = ",".join(f"CAST(({bucket_col} ^ {m}) AS BIGINT)" for m in masks)
    return F.expr(f"array({body})")


def _topk(pairs: DataFrame, sim: Column, k: int, query_id: str, cand_id: str) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col(cand_id))
    return (
        pairs.select(query_id, cand_id, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    q_emb: str = "q_emb",
    c_emb: str = "c_emb",
) -> DataFrame:
    """Exact top-k per query by cosine; queries broadcast (small side)."""
    q = _prep(queries, q_emb)
    c = _prep(candidates, c_emb)
    pairs = c.crossJoin(F.broadcast(q))
    sim = _pair_dot_udf(F.col(q_emb), F.col(c_emb)) / (
        F.col(f"_norm_{q_emb}") * F.col(f"_norm_{c_emb}")
    )
    return _topk(pairs, sim, k, query_id, cand_id)


def lsh_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    q_emb: str = "q_emb",
    c_emb: str = "c_emb",
    multiprobe: bool | int = False,
) -> DataFrame:
    """Approximate top-k: only candidates in the query's LSH bucket are
    scored. Equi-join on bucket id instead of a cross join.

    multiprobe=True (or 1) probes the query's own bucket PLUS every bucket
    at hamming distance 1 (one flipped sign bit) — the classic multi-probe
    LSH recall lever (Lv et al., VLDB'07). A near neighbor that lands just
    on the other side of ONE hyperplane is recovered at the cost of probing
    N_PLANES extra buckets, i.e. expected candidate work grows ~(N_PLANES+1)
    / 2^N_PLANES of the corpus instead of 1/2^N_PLANES — still an equi-join,
    never a cross join. An integer radius R probes ALL buckets within
    hamming distance R (sum_{w<=R} C(N_PLANES, w) probes) — the recall
    lever for FARTHER targets (q117's semi-hard band sits at cosine
    0.15-0.35, where radius-1 recall is single-digit percent). Only the
    QUERY side is exploded; the corpus keeps one bucket per row, so at
    100 TB the big side is untouched and the probe explosion rides the
    small broadcast side. Deterministic (fixed seeded hyperplanes) →
    DuckDB-expressible as a hamming<=R bucket join, so the query stays
    fully oracle-checked."""
    from binwatch_spark.functions.texthash import N_PLANES

    q = _prep(queries, q_emb, with_bucket=True)
    radius = int(multiprobe)
    if radius:
        probes = probe_array("_bucket", probe_masks(radius, N_PLANES))
        q = q.withColumn("_bucket", F.explode(probes))
    c = _prep(candidates, c_emb, with_bucket=True)
    pairs = c.join(F.broadcast(q), on="_bucket")
    sim = _pair_dot_udf(F.col(q_emb), F.col(c_emb)) / (
        F.col(f"_norm_{q_emb}") * F.col(f"_norm_{c_emb}")
    )
    return _topk(pairs, sim, k, query_id, cand_id)


def _assign_cells(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    cent_bc,
    n_probe: int,
) -> DataFrame:
    """Attach the n_probe nearest centroid ids (by cosine, tiebreak on
    centroid id) to each row — FULLY map-side.

    ``cent_bc`` is a Spark broadcast of (cid int64[], emb float64[C,D],
    norm float64[C]) — the same driver-side materialization a
    BroadcastHashJoin build side pays, done once in ivf_knn.  Each Arrow
    batch scores rows×centroids in one numpy kernel (sequential
    accumulation over dims, bit-identical to the _dot fold / DuckDB
    list_dot_product) and lexsorts (sim desc, cid asc) per row, so the
    plan has NO exchange before the cell-id equi-join (VERDICT r04 #6:
    the old form ran a per-id row_number window — a shuffle of the full
    candidate set).  Degenerate zero-norm rows (NaN sim) rank last here
    rather than first; the fixture has none and the rung is approximate.
    """
    import numpy as np

    n = int(n_probe)

    @pandas_udf("array<bigint>")
    def top_cells(embs: pd.Series, norms: pd.Series) -> pd.Series:
        cids_, cemb_, cnorm_ = cent_bc.value
        raw = embs.to_numpy()
        # NULL embeddings get an empty cell list (explode drops the row) —
        # np.stack on a batch containing None would fail the whole task.
        valid = np.array([e is not None for e in raw], dtype=bool)
        out: list[list[int]] = [[] for _ in range(len(raw))]
        if valid.any():
            a = np.stack(raw[valid]).astype(np.float64)
            acc = np.zeros((a.shape[0], cids_.shape[0]), dtype=np.float64)
            for d in range(a.shape[1]):
                acc = acc + a[:, d : d + 1] * cemb_[:, d][None, :]
            nm = norms.to_numpy()[valid].astype(np.float64)
            sims = acc / (nm[:, None] * cnorm_[None, :])
            for r, idx in enumerate(np.nonzero(valid)[0]):
                order = np.lexsort((cids_, -sims[r]))
                out[idx] = cids_[order[:n]].tolist()
        return pd.Series(out)

    top_cells = top_cells.asNondeterministic()
    return df.withColumn(
        "_cid",
        F.explode(top_cells(F.col(emb_col), F.col(f"_norm_{emb_col}"))),
    )


def ivf_knn(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probe: int = 2,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    q_emb: str = "q_emb",
    c_emb: str = "c_emb",
    cent_id: str = "cent_id",
    cent_emb: str = "cent_emb",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: candidates are partitioned into
    cells by nearest centroid (map-side, centroids broadcast); each query
    scores only the cells of its n_probe nearest centroids.

    This is the coarse-quantizer scale path past LSH: cell count grows with
    data (√n rule), the candidate list per query is n_probe/n_cells of the
    corpus, and the only shuffle is the equi-join on cell id. Centroids here
    are caller-provided (deterministic subsampling in the query layer; k-means
    at scale) so the whole query stays oracle-checkable."""
    import numpy as np

    cent_rows = (
        _prep(centroids, cent_emb)
        .select(
            F.col(cent_id).alias("_cid"),
            F.col(cent_emb).alias("_cent_emb"),
            F.col(f"_norm_{cent_emb}").alias("_cent_norm"),
        )
        .collect()
    )
    if not cent_rows:
        empty = queries.sparkSession.createDataFrame(
            [], f"{query_id} bigint, {cand_id} bigint, sim double, rank int"
        )
        return empty
    cent_bc = queries.sparkSession.sparkContext.broadcast(
        (
            np.array([r["_cid"] for r in cent_rows], dtype=np.int64),
            np.stack(
                [np.asarray(r["_cent_emb"], dtype=np.float64) for r in cent_rows]
            ),
            np.array([r["_cent_norm"] for r in cent_rows], dtype=np.float64),
        )
    )
    c = _assign_cells(_prep(candidates, c_emb), cand_id, c_emb, cent_bc, 1)
    q = _assign_cells(_prep(queries, q_emb), query_id, q_emb, cent_bc, n_probe)
    pairs = c.join(F.broadcast(q), on="_cid")
    sim = _pair_dot_udf(F.col(q_emb), F.col(c_emb)) / (
        F.col(f"_norm_{q_emb}") * F.col(f"_norm_{c_emb}")
    )
    return _topk(pairs, sim, k, query_id, cand_id)


def neardup_pairs(
    df: DataFrame, id_col: str, emb_col: str, threshold: float, n_blocks: int = 16
) -> DataFrame:
    """All embedding pairs with cosine >= threshold (i < j). Exact.

    Triangle-blocked distributed all-pairs: rows are hashed into B blocks by
    id, each row is routed (via a B-way explode) to every block-pair group
    (p, q) it participates in, and each of the B(B+1)/2 groups scores its two
    blocks against each other in one numpy kernel — vectorized across pairs
    but accumulating sequentially over dimensions, bit-identical to the
    fold/list_dot_product order the oracle uses. Cross-block pairs are
    counted only in their (p, q) group and same-block pairs only in (p, p),
    so every i<j pair is emitted exactly once.

    Nothing is ever collected to the driver. Per-task memory is bounded by
    TWO blocks (~2n/B rows), independent of corpus size; the price is B×
    row replication through one shuffle — the standard trade for exact
    all-pairs. At 100 TB pick B ≈ n / rows-that-fit-per-task and prefer the
    LSH-bucketed variant (q33) when approximate recall is acceptable; exact
    all-pairs is O(n²) work no matter how it is scheduled."""
    import numpy as np

    B = n_blocks

    def seq_sq_norm(m: np.ndarray) -> np.ndarray:
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for d in range(m.shape[1]):
            acc = acc + m[:, d] * m[:, d]
        return np.sqrt(acc)

    def block_pairs(key, pdf):
        p, q = key
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        blks = pdf["_blk"].to_numpy()[order]
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["_emb"].iloc[order]]
        )
        acc = np.zeros((len(ids), len(ids)), dtype=np.float64)
        for d in range(mat.shape[1]):
            acc = acc + mat[:, d][:, None] * mat[:, d][None, :]
        norms = seq_sq_norm(mat)
        sim = acc / (norms[:, None] * norms[None, :])
        mask = (ids[:, None] < ids[None, :]) & (sim >= threshold)
        if p != q:
            # Same-block pairs belong to this block's own (p, p) group.
            mask &= blks[:, None] != blks[None, :]
        ii, jj = np.nonzero(mask)
        return pd.DataFrame({"i": ids[ii], "j": ids[jj], "sim": sim[ii, jj]})

    routed = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(emb_col).alias("_emb"),
            F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("_blk"),
        )
        .withColumn("_other", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .withColumn("_gp", F.least(F.col("_blk"), F.col("_other")))
        .withColumn("_gq", F.greatest(F.col("_blk"), F.col("_other")))
        .drop("_other")
    )
    return routed.groupBy("_gp", "_gq").applyInPandas(
        block_pairs, schema="i bigint, j bigint, sim double"
    )


def neardup_pairs_lsh(
    df: DataFrame, id_col: str, emb_col: str, threshold: float,
    radius: int = 1,
    n_planes: int | None = None,
) -> DataFrame:
    """Blocked embedding near-dup pairs — the SCALE rung for the same
    cosine >= threshold predicate ``neardup_pairs`` (q26/q85's exact
    generator) evaluates all-pairs: candidates come from multi-probe
    random-hyperplane-LSH buckets (all pairs whose sign-bit buckets are
    within hamming distance ``radius`` — default 1: own bucket plus one
    flipped plane, the q70 probe rule), and ONLY candidates get the exact
    cosine verify. Approximate by design: a pair split by more than
    ``radius`` hyperplanes is missed.
    Recall follows the sign-bit geometry — each plane splits a pair with
    probability θ/π (θ the pair's angle), so at SemDeDup-grade thresholds
    (cosine >= 0.95, θ/π ≈ 0.10) hamming<=1 recovers ≈ 0.81 of true
    pairs, while at the fixture's deliberately loose 0.4 threshold
    (θ/π ≈ 0.37, expected hamming ≈ 3/8) the measured recall is 0.25 at
    sf0.01 (tests/test_invariants.py pins the subset + sim-parity
    relationship and the measured floor). The recall levers at a given
    threshold are radius (hamming<=2 ⇒ 0.49 measured) and plane count;
    the q104 oracle encodes the SAME blocking rule either way, so the
    composed pipeline stays hash-exact, not recall-fuzzy — q85 is the
    exact panel audit.

    Scale shape — never all-pairs:
    * candidate generation joins (id, probe_bucket) rows ONLY: the probe
      explode replicates 16-byte id/bucket rows 9×, never the embedding
      payload; each qualifying pair matches on exactly ONE probe (equal
      buckets match at xor=0, hamming-1 buckets at the single flipped
      bit), so no distinct is needed;
    * the verify joins embeddings back BY ID — two corpus-keyed hash
      joins (high-cardinality keys), so the wide vectors cross the
      exchange once per side, not 9×;
    * per-bucket candidate work is (n/2^N_PLANES)² expected — at 100 TB
      grow N_PLANES with log(n) (more sign bits = more, smaller buckets)
      exactly as IVF grows its cell count by the √n rule.
    Output: (i, j, sim) with i < j, sim the verified exact cosine.

    ``n_planes`` (default: the fixed 8, via the JVM-side fold bucketer)
    grows the sign-bit count — THE production lever: planes ∝ log(n)
    keeps expected bucket occupancy (and so per-bucket candidate work)
    constant as the corpus grows. Past 8 planes the bucket comes from
    texthash.make_lsh_bucket_udf over texthash.hyperplanes_for (Arrow
    kernel, prefix-stable plane family — the low 8 bits ARE the
    historical bucket); tools/bench_semdedup_prod.py measures this rung's
    recall-vs-cost against planted ground truth (VERDICT r10 #3)."""
    from binwatch_spark.functions.texthash import N_PLANES

    if n_planes is None or n_planes == N_PLANES:
        n_planes = N_PLANES
        base = _prep(
            df.filter(F.col(emb_col).isNotNull()), emb_col, with_bucket=True
        )
    else:
        from binwatch_spark.functions.texthash import (
            hyperplanes_for,
            make_lsh_bucket_udf,
        )

        bucket_udf = make_lsh_bucket_udf(hyperplanes_for(n_planes))
        base = _prep(
            df.filter(F.col(emb_col).isNotNull()), emb_col
        ).withColumn("_bucket", bucket_udf(F.col(emb_col)))
    base = base.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_emb"),
        F.col(f"_norm_{emb_col}").alias("_norm"),
        "_bucket",
    )
    probes = probe_array("_bucket", probe_masks(int(radius), n_planes))
    left = base.select(F.col("_id").alias("i"), F.explode(probes).alias("_bucket"))
    right = base.select(F.col("_id").alias("j"), "_bucket")
    cands = left.join(right, "_bucket").filter(F.col("i") < F.col("j")).select(
        "i", "j"
    )
    # Explicit repartition between candidate generation and verify (r10
    # scale finding): the bucket join EXPANDS — its input is slim
    # (id, bucket) rows but its output is the candidate pair set, orders
    # of magnitude larger at wide radii. AQE coalesces the pre-join
    # exchange on INPUT bytes (~30 MB at sf1.0 → 2 partitions) and the
    # verify's embedding joins broadcast, so without this the entire
    # candidate expansion AND the Arrow dot kernel ran in those 2 tasks
    # (measured: 2-task straggler stages dominating q104's 325 s at
    # sf1.0). A user-specified partition count is exempt from AQE
    # coalescing; the pair rows are 16 B so the extra shuffle is cheap
    # relative to the unlocked parallelism.
    cands = cands.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "i", "j"
    )
    ei = base.select(
        F.col("_id").alias("i"), F.col("_emb").alias("_ei"), F.col("_norm").alias("_ni")
    )
    ej = base.select(
        F.col("_id").alias("j"), F.col("_emb").alias("_ej"), F.col("_norm").alias("_nj")
    )
    sim = _pair_dot_udf(F.col("_ei"), F.col("_ej")) / (
        F.col("_ni") * F.col("_nj")
    )
    return (
        cands.join(ei, "i")
        .join(ej, "j")
        .select("i", "j", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("i", "j", "sim")
    )


def neardup_pairs_lsh_multitable(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    threshold: float,
    n_tables: int | None = None,
    radius: int = 1,
) -> DataFrame:
    """Multi-TABLE LSH near-dup pairs — the third recall lever (besides
    probe radius and plane count, both in ``neardup_pairs_lsh``): L
    independent hyperplane tables each bucket the corpus; a pair is a
    candidate if ANY table places it within hamming ``radius``. Under
    table independence per-table recall r would compound to 1-(1-r)^L
    (the Indyk–Motwani multi-table design); MEASURED at the fixture's
    loose 0.4 threshold the tables correlate (same geometry, same hard
    pairs) and L=3 radius-1 lands at 0.39 (sf0.01) / 0.52 (sf0.001) for
    ~10.5% candidate cost (3×9/256) — about the radius-2 single-table
    recall at ~0.7× its 37/256 cost, while radius-3 single-table buys
    0.68-0.78 at ~36%. All three levers (radius, plane count, table
    count) are therefore real but none is free; the measured curve is
    pinned in tests/test_invariants.py and the caller picks by recall
    target. At production SemDeDup thresholds table independence holds
    far better (fewer near-boundary pairs), which is why L tables at
    radius 0-1 is the standard at scale.

    Scale shape mirrors the single-table rung: per table, probe explosion
    replicates (id, bucket) rows only; each candidate pair matches
    exactly one probe within its table, and FIRST-TABLE-collision
    uniqueness (each side carries all L bucket ids — L×8 B — and table
    t>0 requires every earlier table to have missed) removes the
    cross-table distinct the union would otherwise need. Verify joins
    embeddings back by id; output (i, j, sim) with i < j."""
    from binwatch_spark.functions.texthash import N_PLANES, N_TABLES

    L = int(n_tables or N_TABLES)
    base = _prep(df.filter(F.col(emb_col).isNotNull()), emb_col)
    for t in range(L):
        base = base.withColumn("_b%d" % t, lsh_bucket(emb_col, t))
    base = base.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_emb"),
        F.col(f"_norm_{emb_col}").alias("_norm"),
        *[f"_b{t}" for t in range(L)],
    )
    bcols = [f"_b{t}" for t in range(L)]
    cands = None
    for t in range(L):
        probes = probe_array(f"_b{t}", probe_masks(int(radius), N_PLANES))
        left = base.select(
            F.col("_id").alias("i"),
            *[F.col(b).alias(f"{b}_i") for b in bcols[:t]],
            F.explode(probes).alias("_bk"),
        )
        right = base.select(
            F.col("_id").alias("j"),
            *[F.col(b).alias(f"{b}_j") for b in bcols[:t]],
            F.col(f"_b{t}").alias("_bk"),
        )
        pairs_t = left.join(right, "_bk").filter(F.col("i") < F.col("j"))
        # first-table-collision: emit from table t only if every earlier
        # table missed the pair (codegen conjunction — no distinct stage)
        for s in range(t):
            pairs_t = pairs_t.filter(
                F.bit_count(
                    F.col(f"_b{s}_i").bitwiseXOR(F.col(f"_b{s}_j"))
                )
                > radius
            )
        pairs_t = pairs_t.select("i", "j")
        cands = pairs_t if cands is None else cands.unionByName(pairs_t)
    # same expansion-vs-AQE-coalescing guard as neardup_pairs_lsh: spread
    # the candidate pairs before the broadcast-verify joins so the Arrow
    # dot kernel runs at full parallelism
    cands = cands.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "i", "j"
    )
    ei = base.select(
        F.col("_id").alias("i"), F.col("_emb").alias("_ei"), F.col("_norm").alias("_ni")
    )
    ej = base.select(
        F.col("_id").alias("j"), F.col("_emb").alias("_ej"), F.col("_norm").alias("_nj")
    )
    sim = _pair_dot_udf(F.col("_ei"), F.col("_ej")) / (
        F.col("_ni") * F.col("_nj")
    )
    return (
        cands.join(ei, "i")
        .join(ej, "j")
        .select("i", "j", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("i", "j", "sim")
    )


def quantize_int8(df: DataFrame, emb_col: str, id_col: str) -> DataFrame:
    """Symmetric int8 quantization of an embedding column, exploded to
    (id, dim, q, scale) rows.

    The 100 TB storage/IO lever for similarity search: int8 vectors are 4×
    smaller than float32 (16-32× smaller than the raw text), and ANN
    candidate scoring over int8 dot products is SIMD-friendly downstream.
    Per vector: scale = 127/max|x| (0 for an all-zero vector), q_i =
    floor(x_i·scale + 0.5) — the explicit floor(+0.5) rounding is chosen
    over round() because engines disagree on half-even vs half-up, while
    floor is exact everywhere. All pure column expressions (codegen): one
    scan, no shuffle, no UDF.
    """
    emb = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    maxabs = F.aggregate(
        emb, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    return (
        df.select(F.col(id_col), emb.alias("_emb"), scale.alias("_scale"))
        .select(
            F.col(id_col),
            F.col("_scale").alias("scale"),
            F.posexplode(
                F.transform(
                    F.col("_emb"),
                    lambda x: F.floor(x * F.col("_scale") + F.lit(0.5)).cast("int"),
                )
            ).alias("dim", "q"),
        )
    )


def kmeans_lloyd_rounds(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    stride: int,
    rounds: int = 2,
) -> DataFrame:
    """Distributed Lloyd's k-means for a FIXED number of rounds with
    deterministic stride seeding (cent_id = vec_id of every stride-th
    vector, q38/q89's IVF convention) — the coarse-quantizer TRAINING step
    the IVF rung consumes, in the textbook distributed shape: centroids
    are DRIVER-RESIDENT (k·dim doubles — k is bounded by design, this is
    the one collect() a k-means round is supposed to have; Lloyd's is a
    driver-coordinated iteration in every production implementation), the
    assignment is ONE map-side Arrow kernel per round over the closure-
    shipped centroid matrix (no pair join, no pair shuffle — the n·k
    arithmetic happens inside the kernel), and the update is posexplode to
    (cell, pos, x) rows plus ONE hash aggregate grouped by (cell, pos),
    whose exchange carries k·dim partial sums per task. Neither stage
    spells centroid values into the plan (they travel as closure data and
    collected rows), the update's codegen is O(1) at any dim, and the
    dimension is whatever the collected positions span.

    Determinism contract (the whole point — this makes an ITERATIVE ML
    loop oracle-checkable): the kernel accumulates the n·k dot products
    over dimensions IN INDEX ORDER (one vectorized n×k elementwise
    multiply-add per dimension), bit-identical to DuckDB's sequential
    list_dot_product; squared distance composes as ``e·e − 2·e·c + c·c``;
    argmin ties break to the LOWEST cent_id (centroid columns sorted by
    id, numpy argmin returns the first minimum); and updated centroids
    are ROUNDED to 6 dp before the next round — the fixed-point
    quantization both engines agree on, absorbing their different
    partial-aggregation summation orders exactly like the q90 contract.
    Without that rounding, ulp drift in the round-1 means could flip a
    near-tied round-2 assignment. Output: final-round assignment
    (id, cell_id, dist2 rounded 6).
    """
    import numpy as np

    from binwatch_spark.tables import spread

    # NULL embeddings are excluded (the schema admits them; a null row
    # would poison np.stack in the kernel and a null SEED would poison the
    # centroid matrix) — same normalization q93/q38 apply.
    e = spread(emb.filter(F.col(vec_col).isNotNull()), id_col).select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("_e"),
    )
    e = e.persist()
    # eager fill: every round's kernel pass reads it
    e.count()

    def assign_with(cent_rows: list) -> DataFrame:
        # cent_rows sorted by cent_id so argmin's first-minimum rule IS
        # the lowest-id tiebreak.
        cids = np.array([r[0] for r in cent_rows], dtype=np.int64)
        cmat = np.array([r[1] for r in cent_rows], dtype=np.float64)
        c2 = np.empty(len(cent_rows), dtype=np.float64)
        for k in range(len(cent_rows)):  # sequential fold per centroid
            acc = 0.0
            for d in range(cmat.shape[1]):
                acc += cmat[k, d] * cmat[k, d]
            c2[k] = acc

        @pandas_udf("cell_id bigint, dist2 double")
        def nearest(es: pd.Series) -> pd.DataFrame:
            E = np.stack(es.to_numpy())
            n = E.shape[0]
            dots = np.zeros((n, len(cids)), dtype=np.float64)
            e2 = np.zeros(n, dtype=np.float64)
            for d in range(E.shape[1]):  # index-order accumulation
                dots += E[:, d : d + 1] * cmat[:, d][None, :]
                e2 += E[:, d] * E[:, d]
            d2 = e2[:, None] - 2.0 * dots + c2[None, :]
            best = np.argmin(d2, axis=1)  # first min = lowest cent_id
            return pd.DataFrame(
                {"cell_id": cids[best], "dist2": d2[np.arange(n), best]}
            )

        return e.withColumn("_a", nearest(F.col("_e")))

    cent_rows = sorted(
        (r[0], r[1])
        for r in e.filter(F.col(id_col) % stride == 0)
        .select(F.col(id_col), "_e")
        .collect()
    )
    assigned = None
    for rnd in range(rounds):
        assigned = assign_with(cent_rows)
        if rnd == rounds - 1:
            break
        # round(avg, 6) is the contract quantization: it absorbs the
        # partial-aggregation summation order, so the rebuilt centroids
        # match the oracle's round(avg(emb[i]), 6) exactly.
        update_df = (
            assigned.select(
                F.col("_a.cell_id").alias("_cid"),
                F.posexplode(F.col("_e")).alias("_pos", "_xv"),
            )
            .groupBy("_cid", "_pos")
            .agg(F.round(F.avg("_xv"), 6).alias("_c"))
        )
        by_cid: dict = {}
        for lr in update_df.collect():
            by_cid.setdefault(lr["_cid"], {})[lr["_pos"]] = lr["_c"]
        cent_rows = sorted(
            (cid, [m[i] for i in range(len(m))]) for cid, m in by_cid.items()
        )
    return assigned.select(
        F.col(id_col),
        F.col("_a.cell_id").alias("cell_id"),
        F.round(F.col("_a.dist2"), 6).alias("dist2"),
    )


def power_iteration_rounds(
    emb: DataFrame,
    vec_col: str,
    rounds: int,
    dim: int,
) -> list[tuple]:
    """Distributed power iteration for the top principal direction — the
    q148 kernel. Each round projects s = x·v with a zip_with/aggregate
    fold (HOFs are CodegenFallback — a runtime loop, O(1) codegen at any
    dim; the 0.0-seeded left fold is the same IEEE chain as the oracle's
    list_dot_product), then posexplodes to (pos, x_d) and runs ONE hash
    aggregate grouped by pos over ``cast(s·x_d as decimal(28,10))`` — the
    shuffle carries dim partial rows per task.

    Decimal addition is exact and order-free, so the per-dimension totals,
    and with them every emitted round, are bit-identical to the DuckDB
    oracle. Driver state is O(dim) — the direction vector, whose starting
    value ``dim`` sizes; each round is one map-side-combined pass (the
    standard distributed power-iteration shape; the Gram matrix is never
    materialized). Returns [(round, norm, c0, c1, c2, c3)].
    """
    import math

    v = [1.0] + [0.0] * (dim - 1)
    rows: list[tuple] = []
    for r in range(1, rounds + 1):
        varr = F.array(*[F.lit(float(c)) for c in v])
        s = F.aggregate(
            F.zip_with(F.col(vec_col), varr, lambda p, q: p.cast("double") * q),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        round_df = (
            emb.select(
                s.alias("_s"),
                F.posexplode(F.col(vec_col)).alias("_pos", "_xv"),
            )
            .groupBy("_pos")
            .agg(
                F.sum(
                    (F.col("_s") * F.col("_xv").cast("double")).cast(
                        "decimal(28,10)"
                    )
                ).alias("_u")
            )
        )
        by_pos = {lr["_pos"]: lr["_u"] for lr in round_df.collect()}
        u = [float(by_pos[i]) for i in range(dim)]
        nrm_sq = 0.0
        for i in range(dim):
            nrm_sq = nrm_sq + u[i] * u[i]
        nrm = math.sqrt(nrm_sq)
        v = [u[i] / nrm for i in range(dim)]
        rows.append((r, nrm, v[0], v[1], v[2], v[3]))
    return rows


def embedding_dim_stats(emb: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension moments over an embedding column: (dim, n, mean,
    var_pop, min_v, max_v) — THE single definition shared by the q93 plan
    and its numpy reference test. One posexplode + ONE hash aggregate on
    dim (map-side partial aggregation reduces each task to d partial
    rows); variance from the (sum, sumsq, n) moments; mean/var rounded to
    6 dp (summation-order contract), min/max exact."""
    v = emb.filter(F.col(vec_col).isNotNull()).select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x")
    )
    s, n = F.sum("x"), F.count(F.lit(1))
    return v.groupBy(F.col("dim").cast("bigint").alias("dim")).agg(
        n.alias("n"),
        F.round(s / n, 6).alias("mean"),
        F.round(
            F.sum(F.col("x") * F.col("x")) / n - (s / n) * (s / n), 6
        ).alias("var_pop"),
        F.min("x").alias("min_v"),
        F.max("x").alias("max_v"),
    )
