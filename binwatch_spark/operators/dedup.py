"""Deduplication operators: exact, hash-keyed, n-gram Jaccard, MinHash-LSH,
SimHash — the dedup ladder a 100 TB training-data pipeline needs.

Scale posture per rung:
- exact:        shuffle on sha2(text) (32-byte key, not the document).
- jaccard:      blocked pairwise — only within a blocking key; exact arrays.
- MinHash-LSH:  signatures map-side; the only shuffle is the tiny
                (band_idx, band_key) exchange; candidate pairs then verified
                exactly. This is the 100 TB near-dup path.
- SimHash:      64→24-bit fingerprints map-side; hamming-distance pairing
                within blocks.

All hashing uses functions.texthash so each operator has a bit-exact DuckDB
oracle (see plans/dedup_queries.py). Hot kernels (MinHash signatures, SimHash
fingerprints, shingle extraction, exact-set verification) run as
Arrow-vectorized pandas UDFs with integer/set math identical to the HOF
spelling — Catalyst's project collapse re-evaluates shared interpreted
subexpressions otherwise (see each function's docstring).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from binwatch_spark.functions.texthash import (
    N_BANDS,
    SIMHASH_BITS,
    make_minhash_band_udf,
    polyhash,
)
from binwatch_spark.operators.text import char_shingles, distinct_tokens
from binwatch_spark.tables import spread

# A "tokenizer" below is any Column->Column producing array<string> dedup
# units from the text column: distinct_tokens (order-insensitive) or
# char_shingles (order-aware).

# Persisted intermediates (signature/token caches) are filled with a
# count() right after persist(), before the consuming joins: concurrent
# scans of a lazily-filled cache race and re-run the Arrow kernel per side
# (observed 43 s vs 11 s at sf0.1 for q23's signature table). The plans
# that follow the same two-consumer persist pattern do the same.

# Index-probe hot-bucket cap: band keys with more than this many member
# docs in the band table are excluded from candidate generation (the
# standard production LSH guard against degenerate buckets; see the
# comment in incremental_dedup_with_index for the measured r10 motivation).
# Spelled identically in the q107/q122 oracles (HAVING count(*) <= cap),
# so the rule is hash-checked end-to-end.
#
# Interaction with _band_fold's int64 folding (ADVICE r10): the fold's
# collision argument is precision-only — a collision that merges two
# DISTINCT string band keys adds candidates that exact-Jaccard
# verification later removes. The cap changes that failure mode: a merged
# key's member count is the SUM of two real buckets, so a collision could
# push a key over the cap and silently exclude TRUE candidates —
# verification cannot repair recall. Both engines count membership on the
# SAME folded representation (the oracle's HAVING runs on the identical
# fold), so the engines can never diverge; the exposure is purely
# statistical recall vs an unfolded ideal, with probability bounded by the
# birthday term n_keys²/2⁶⁴ per band (~1e-10 at 1e4 distinct band keys per
# band, ~1e-4 at 1e7) — and a collision only matters at all when the
# merged count straddles the cap. Accepted; revisit the fold width only if
# per-band distinct keys approach 1e8 (at 100 TB the band count, not the
# key width, is the lever).
BAND_KEY_CAP = 100


def hash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup keyed on sha2-256 of the text: at scale the shuffle moves
    32-byte digests instead of documents."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha256"))
        .groupBy("text_sha256")
        .agg(
            F.min(id_col).alias("keeper_" + id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _with_token_sets(df: DataFrame, text_col: str, tokenizer=distinct_tokens) -> DataFrame:
    return df.withColumn("_toks", tokenizer(F.col(text_col)))


def _small_vocab_from_toks(
    toks_df: DataFrame, skip_sample: bool = False
) -> list[str] | None:
    """Global token dictionary IF it fits the int64 bitmask path (≤63 words),
    else None; ``toks_df`` carries a pre-tokenized ``_toks`` column (pass a
    persisted frame so the tokenizer kernel runs once across gate + verify).

    The *decision* must not itself be a scale-killer: at web scale the
    distinct-token set is billions of strings, so an unconditional
    distinct+collect dies on the driver before any pairing starts. A
    single-pass map-side approx_count_distinct (one aggregate row to the
    driver) gates the exact collect; only when the approximate count is
    already near the 63-word bound do we pay the (then tiny, LIMIT-bounded)
    distinct sort-collect.

    The probe itself is two-stage: a 1024-doc SAMPLE first (distinct of a
    subset lower-bounds the global distinct, so sample > bound ⇒ global >
    bound — exploding 1k cached rows instead of the corpus), then the full
    corpus pass only in the rare small-vocabulary case the sample can't
    rule out.

    ``skip_sample``: callers that already know the corpus is small (e.g.
    jaccard_pairs, whose block-size probe returns the exact row count as a
    by-product) pass True to drop the sample job — the full-corpus approx
    pass doubles as the persist-cache fill the main query needs anyway, so
    for small corpora the sample stage is pure fixed-cost (one extra Spark
    job, ~0.3 s on local)."""
    if not skip_sample:
        sample = toks_df.limit(1024).select(F.explode("_toks").alias("t"))
        if sample.agg(F.approx_count_distinct("t").alias("n")).first()[0] > 80:
            return None
    toks = toks_df.select(F.explode("_toks").alias("t"))
    approx = toks.agg(F.approx_count_distinct("t").alias("n")).first()[0]
    if approx > 80:  # approx err is ~2-5%; 80 is safely above the 63 bound
        return None
    vocab = [r[0] for r in toks.distinct().orderBy("t").limit(64).collect()]
    return vocab if len(vocab) <= 63 else None


def _mask_expr(toks: Column, vocab: list[str]) -> Column:
    """Token set → int64 bitmask under a ≤63-word dictionary (map literal of
    per-token single-bit masks folded with bitwise OR)."""
    entries: list[Column] = []
    for idx, w in enumerate(vocab):
        entries.append(F.lit(w))
        entries.append(F.lit(1 << idx).cast("bigint"))
    bit_map = F.create_map(*entries)
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc.bitwiseOR(F.element_at(bit_map, t)),
    )


def _mask_jaccard(mi: Column, mj: Column) -> Column:
    """Jaccard from bitmasks: identical integer inter/union counts as the
    array form, but popcount is whole-stage-codegen integer work instead of
    interpreted array intersection."""
    inter = F.bit_count(mi.bitwiseAND(mj))
    union = F.bit_count(mi.bitwiseOR(mj))
    return inter.cast("double") / union


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float,
    max_block_docs: int = 100_000,
) -> DataFrame:
    """Exact token-set Jaccard over pairs sharing a blocking key.

    Blocking bounds the quadratic term to within-block pairs — but block
    cardinality is DATA-dependent, and a hot metadata key (one `source`
    holding 10% of a 100 TB corpus) degenerates quadratically.  So the
    block sizes are probed FIRST (one count-per-key aggregate over just the
    blocking column — map-side partial combine, a few bytes per key through
    the exchange, no tokenization forced): if the largest block exceeds
    ``max_block_docs``, metadata blocking is swapped for the MinHash-LSH
    band blocking of the q23 rung (minhash_lsh_pairs) whose candidate count
    is bounded by true similarity, not by key skew.  The cutover trades
    exact within-block recall for banded recall (≈0.95 at threshold 0.8);
    the gate bound marks where the exact form stops being computable.
    Output: (i, j, jac) with i < j.
    """
    probe = (
        df.groupBy(F.col(block_col))
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("_max"), F.sum("_n").alias("_total"))
        .first()
    )
    max_blk, total_docs = probe["_max"] or 0, probe["_total"] or 0
    if max_blk > max_block_docs:
        return minhash_lsh_pairs(df, text_col, id_col, threshold)
    # Tokenize ONCE into a persisted frame: the vocabulary gate and both
    # join sides read it, and re-running the Arrow kernel per consumer costs
    # a full corpus pass each time.
    toks_df = _with_token_sets(spread(df, id_col), text_col).select(
        F.col(id_col), F.col(block_col).alias("_blk"), "_toks"
    ).persist()
    # The block probe already told us the exact corpus size; below 200k
    # docs the full-corpus vocabulary pass is cheaper than the sample
    # pre-gate it exists to protect (see _small_vocab_from_toks).
    vocab = _small_vocab_from_toks(toks_df, skip_sample=total_docs <= 200_000)
    if vocab is not None:
        # Dictionary-encoded bitmask path: token sets become one int64 per
        # doc, so the pair stage shuffles 16 bytes/row and verifies with
        # popcount in codegen instead of interpreted array intersection.
        sets = toks_df.select(
            F.col(id_col),
            "_blk",
            _mask_expr(F.col("_toks"), vocab).alias("_mask"),
        )
        a = sets.select(
            F.col(id_col).alias("i"), "_blk", F.col("_mask").alias("_mi")
        )
        b = sets.select(
            F.col(id_col).alias("j"), "_blk", F.col("_mask").alias("_mj")
        )
        pairs = a.join(b, on="_blk").filter(F.col("i") < F.col("j"))
        jac = _mask_jaccard(F.col("_mi"), F.col("_mj"))
        return pairs.select("i", "j", jac.alias("jac")).filter(
            F.col("jac") >= threshold
        )
    left = toks_df.select(
        F.col(id_col).alias("i"), "_blk", F.col("_toks").alias("_ti")
    )
    right = toks_df.select(
        F.col(id_col).alias("j"), "_blk", F.col("_toks").alias("_tj")
    )
    # Size-ratio prefilter (lossless): jac ≤ min(|A|,|B|)/max(|A|,|B|), so
    # pairs failing the ratio can't reach the threshold — pruned with two
    # codegen size() compares BEFORE the interpreted array_intersect runs.
    szi, szj = F.size(F.col("_ti")), F.size(F.col("_tj"))
    ratio_ok = F.least(szi, szj).cast("double") >= F.greatest(szi, szj) * threshold
    pairs = left.join(right, on="_blk").filter((F.col("i") < F.col("j")) & ratio_ok)
    inter = F.size(F.array_intersect(F.col("_ti"), F.col("_tj")))
    union = F.size(F.col("_ti")) + F.size(F.col("_tj")) - inter
    jac = inter.cast("double") / union
    return pairs.select("i", "j", jac.alias("jac")).filter(F.col("jac") >= threshold)


def _band_keyed(
    frame: DataFrame, id_col: str, band_keys: Column, *carry: Column
) -> DataFrame:
    """(id, *carry, bk0..bk{N_BANDS-1}) from an array<bigint> band-key
    column (make_minhash_band_udf or make_shingle_minhash_band_udf) — the
    one band keyer every LSH stage and the dedup index share, so the band
    layout can never fork."""
    return frame.withColumn("_bks", band_keys).select(
        F.col(id_col),
        *carry,
        *[F.col("_bks")[b].alias(f"bk{b}") for b in range(N_BANDS)],
    )


def _band_exploded(
    keyed: DataFrame, id_col: str, out_id: str, prefix: str
) -> DataFrame:
    """(id, bk0..bk{N-1}) → one row per (doc, band): (out_id, {prefix}0..,
    band_idx, band_key), each row carrying the doc's FULL key vector so
    the first-collision predicate can be evaluated join-side. Readers that
    need only (out_id, band_idx, band_key) — the dedup index and its
    probe — select those and Spark prunes the carried vector."""
    return keyed.select(
        F.col(id_col).alias(out_id),
        *[F.col(f"bk{b}").alias(f"{prefix}{b}") for b in range(N_BANDS)],
        F.posexplode(
            F.array(*[F.col(f"bk{b}") for b in range(N_BANDS)])
        ).alias("band_idx", "band_key"),
    )


def _first_collision_cond() -> Column:
    """A pair is emitted ONLY from the first band where it collides: for
    every band k earlier than the joined band_idx, the two key vectors
    (ak*/jk* columns from _band_exploded) must differ. The single
    spelling of the uniqueness rule — candidates need no distinct."""
    cond = F.lit(True)
    for k in range(N_BANDS - 1):
        cond = cond & (
            (F.lit(k) >= F.col("band_idx"))
            | (F.col(f"ak{k}") != F.col(f"jk{k}"))
        )
    return cond


def _band_candidate_pairs(
    keyed: DataFrame, id_col: str, persist: bool = True
) -> DataFrame:
    """Candidate (i, j) pairs, i < j, from a band-keyed frame (id +
    bk0..bk{N-1}).

    Explode to (band_idx, band_key) and self-join on the band key — the
    canonical LSH bucket join, ONE shuffle. Each exploded row also carries
    its document's full key vector so a pair is emitted ONLY from the
    first band where it collides (codegen conjunction over the earlier
    bands): candidate pairs are unique BY CONSTRUCTION, with no distinct()
    stage. That matters because near-identical documents collide in nearly
    all N_BANDS bands — on an exact-dup-heavy corpus (documents at sf0.1:
    2.9M true pairs) a distinct() would shuffle ~16× the candidate count
    (90M rows) to collapse duplicates. The carried key vectors cost
    N_BANDS× the band-row width, a fixed insurance premium independent of
    corpus degeneracy. ``persist``: minhash_lsh_pairs consumes the pairs
    twice (a bounds probe plus the verify join) and persists; a
    single-consumer caller (lsh_recall_audit's fused verify) passes False
    so the candidate blocks aren't pinned in executor storage for
    nothing."""
    out = (
        _band_exploded(keyed, id_col, "i", "ak")
        .join(_band_exploded(keyed, id_col, "j", "jk"), ["band_idx", "band_key"])
        .filter((F.col("i") < F.col("j")) & _first_collision_cond())
        .select("i", "j")
    )
    return out.persist() if persist else out


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    tokenizer=distinct_tokens,
    verify: str = "auto",
    band_fn=None,
    vectorized_max_docs: int = 100_000,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verification.

    Bands fold BAND_ROWS-row slices of the signature to one int64 key;
    documents sharing any band key become candidates (one shuffle on the
    small (band_idx, band_key) pair), then candidates are verified with
    exact Jaccard — no false positives, banded recall ≈ 0.95 at the 0.8
    threshold (→1 above 0.85; see the banding-parameter note in
    functions.texthash). Output: (i, j, jac) with i < j.

    band_fn: fused Column->Column producing the N_BANDS int64 band keys
    straight from the input column; the default is make_minhash_band_udf
    over ``tokenizer(text)``, and the shingle rung passes its text kernel
    (make_shingle_minhash_band_udf). The K signature values never leave
    the kernel, so the plan has no K-column extraction or re-hash stage.
    """
    text = F.col(text_col)
    band_keys = (
        band_fn(text)
        if band_fn is not None
        else make_minhash_band_udf()(tokenizer(text))
    )
    # Materialize the band-key table: it feeds both sides of the candidate
    # self-join (aliasing defeats exchange reuse), and at real scale an LSH
    # pipeline persists its signature table for exactly this reason. Tiny:
    # (id, N_BANDS keys) per document. Eager count so concurrent join
    # stages don't race to fill the lazy cache (each recomputing the UDF
    # pipeline; observed 43 s vs 11 s at sf0.1).
    keyed = _band_keyed(spread(df, id_col), id_col, band_keys).persist()
    keyed.count()
    cands = _band_candidate_pairs(keyed, id_col)

    if verify == "vectorized":
        # Exact set Jaccard against a broadcast id→frozenset dictionary —
        # for tokenizers whose vocabulary is known to be large (shingles),
        # where the bitmask path can't apply. Joining the token arrays onto
        # the pairs instead would ship ~|pairs| × 2 × |set| strings through
        # the shuffle and Arrow (hundreds of MB at sf0.1); the broadcast
        # moves each document's set ONCE and the pair stream stays 16 B/row.
        # The dictionary scales with the candidate set, not the corpus —
        # but on a near-dup-heavy 100 TB corpus candidate docs ≈ corpus, so
        # the branch is gated: ONE map-side approx aggregate over the
        # persisted pair stream upper-bounds the candidate-doc count (no
        # distinct shuffle just to decide), and anything over
        # vectorized_max_docs auto-cuts over to the join form below.
        bounds = cands.agg(
            F.approx_count_distinct("i").alias("ni"),
            F.approx_count_distinct("j").alias("nj"),
        ).first()
        if bounds["ni"] + bounds["nj"] <= vectorized_max_docs:
            cand_ids = (
                cands.select(F.col("i").alias("_cid"))
                .union(cands.select(F.col("j")))
                .distinct()
            )
            # Semi-join BEFORE tokenizing: Catalyst does not push a join
            # below a Python UDF projection, so tokenize-then-filter would
            # run the Arrow kernel over the whole corpus to keep
            # ~|candidate docs| rows (observed 3.7 s vs 0.3 s at sf0.1).
            survivors = spread(df, id_col).join(
                cand_ids, F.col(id_col) == F.col("_cid"), "left_semi"
            )
            rows = (
                _with_token_sets(survivors, text_col, tokenizer)
                .select(F.col(id_col), F.col("_toks"))
                .collect()
            )
            sets = {r[0]: frozenset(r[1]) for r in rows}
            bc = df.sparkSession.sparkContext.broadcast(sets)

            @F.pandas_udf("double")
            def pair_jaccard(i: pd.Series, j: pd.Series) -> pd.Series:
                lookup = bc.value

                def jac_of(a, b):
                    sa, sb = lookup[a], lookup[b]
                    inter = len(sa & sb)
                    return inter / (len(sa) + len(sb) - inter)

                return pd.Series(
                    [jac_of(a, b) for a, b in zip(i.to_numpy(), j.to_numpy())],
                    dtype="float64",
                )

            # Nondeterministic marking is an OPTIMIZER FENCE, not a semantics
            # claim: the downstream threshold filter otherwise pushes through
            # the projection and the plan evaluates the UDF twice (one
            # ArrowEvalPython feeding the Filter, another feeding the
            # Project) — doubling the stage's python-worker demand, which is
            # what forces mid-stage worker forks (see worker_daemon).
            pair_jaccard = pair_jaccard.asNondeterministic()

            return (
                cands.withColumn("jac", pair_jaccard(F.col("i"), F.col("j")))
                .filter(F.col("jac") >= threshold)
                .select("i", "j", "jac")
            )

    # Join-form verify: token sets/masks are built in ONE linear map-side
    # Arrow pass over the corpus (persisted — the vocabulary gate and both
    # pair joins all read it; no driver materialization anywhere) and
    # joined onto the pair stream — the spill-safe path that survives
    # candidate-docs ≈ corpus. Shingle tokenizers land in the array branch
    # (for verify="vectorized" overflow we skip the vocabulary probe
    # entirely; otherwise _small_vocab_from_toks's approx gate rejects
    # large vocabularies in one map-side pass).
    # spread(): the fixture corpus scans as one splittable unit, so without
    # a repartition the tokenize kernel and the vocabulary-gate aggregate
    # run on a single core (observed 17 s single-task vs ~1 s spread).
    toks_all = _with_token_sets(spread(df, id_col), text_col, tokenizer).select(
        F.col(id_col).alias("_id"), "_toks"
    ).persist()
    # Eager fill: both pair joins scan this cache inside one query; a lazy
    # fill lets the two scans race and re-run the tokenize kernel per side.
    toks_all.count()
    vocab = None if verify == "vectorized" else _small_vocab_from_toks(toks_all)
    if vocab is not None:
        # Verify with dictionary-encoded bitmasks (see jaccard_pairs): two
        # joins of an int64 per doc + codegen popcount. No broadcast hint:
        # at 100 TB the mask table scales with the corpus — AQE broadcasts
        # it at runtime when it is actually small.
        masks = toks_all.select(
            "_id",
            _mask_expr(F.col("_toks"), vocab).alias("_mask"),
        ).persist()
        joined = (
            cands.join(
                masks.withColumnRenamed("_mask", "_mi"),
                cands.i == F.col("_id"),
            )
            .drop("_id")
            .join(
                masks.withColumnRenamed("_mask", "_mj"),
                cands.j == F.col("_id"),
            )
            .drop("_id")
        )
        jac = _mask_jaccard(F.col("_mi"), F.col("_mj"))
        return joined.select("i", "j", jac.alias("jac")).filter(
            F.col("jac") >= threshold
        )
    joined = (
        cands.join(toks_all.withColumnRenamed("_toks", "_ti"), cands.i == F.col("_id"))
        .drop("_id")
        .join(toks_all.withColumnRenamed("_toks", "_tj"), cands.j == F.col("_id"))
        .drop("_id")
    )
    inter = F.size(F.array_intersect(F.col("_ti"), F.col("_tj")))
    union = F.size(F.col("_ti")) + F.size(F.col("_tj")) - inter
    jac = inter.cast("double") / union
    return joined.select("i", "j", jac.alias("jac")).filter(
        F.col("jac") >= threshold
    )


def simhash(text: Column) -> Column:
    """SimHash fingerprint over the low SIMHASH_BITS bits of token polyhashes:
    bit b of the fingerprint is set iff the signed bit-b vote over all tokens
    is positive.

    Evaluated by one Arrow-vectorized kernel (make_simhash_fp_udf): the HOF
    spelling (SIMHASH_BITS separate F.aggregate votes) gets the token-hash
    array inlined into every vote by project collapse, re-running the
    interpreted per-char fold 24x per row — 43x slower than DuckDB on the
    same query. Integer math is identical, so the DuckDB oracle still
    hash-matches."""
    from binwatch_spark.functions.texthash import make_simhash_fp_udf

    return make_simhash_fp_udf()(distinct_tokens(text))


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, block_col: str, max_hamming: int
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance within a block.
    Output: (i, j, hamming) with i < j."""
    # Persist the fingerprint frame: both join sides read it, and without a
    # materialization point each side re-runs the SimHash Arrow kernel over
    # the corpus — two python runners per task in one stage, which is
    # exactly the worker-demand spike that triggers mid-stage forks.
    fps = spread(df, id_col).select(
        F.col(id_col), F.col(block_col).alias("_blk"), simhash(F.col(text_col)).alias("_fp")
    ).persist()
    fps.count()
    a = fps.select(
        F.col(id_col).alias("i"), F.col("_blk"), F.col("_fp").alias("_fi")
    )
    b = fps.select(
        F.col(id_col).alias("j"), F.col("_blk"), F.col("_fp").alias("_fj")
    )
    pairs = a.join(b, on="_blk").filter(F.col("i") < F.col("j"))
    hamming = F.bit_count(F.col("_fi").bitwiseXOR(F.col("_fj")))
    return pairs.select(
        "i", "j", hamming.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def shingle_minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float, k: int = 5
) -> DataFrame:
    """Near-dup pairs over character k-gram shingles — the order-aware rung
    of the dedup ladder (token-set MinHash treats reordered text as
    identical; shingling doesn't). Same banding + exact-Jaccard verify as
    minhash_lsh_pairs; band keys come from the fused text→band-key numpy
    kernel (make_shingle_minhash_band_udf — shingle strings and signature
    values never materialize), and because the shingle vocabulary is
    naturally large, candidate verification takes the vectorized exact-set path rather than
    the ≤63-word bitmask (shingle extraction runs as an Arrow kernel only
    for the verified candidates)."""
    from binwatch_spark.functions.texthash import (
        make_shingle_minhash_band_udf,
        make_shingles_udf,
    )

    shingles_udf = make_shingles_udf(k)
    return minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        threshold,
        tokenizer=lambda c: shingles_udf(c),
        verify="vectorized",
        band_fn=make_shingle_minhash_band_udf(k),
    )


def levenshtein_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    max_dist: int,
) -> DataFrame:
    """Edit-distance near-dup pairs within a blocking key: (i, j, dist) with
    i < j and dist <= max_dist.

    Levenshtein is O(len²) per pair and CANNOT run all-pairs at any scale —
    the operator contract requires explicit blocking columns (metadata, or
    an upstream LSH bucket id) that bound the quadratic term. Inside a
    block everything is JVM codegen (`levenshtein` is a built-in), so the
    pair stage is one equi-join shuffle on the block key with no Python.
    This is the precision rung of the dedup ladder: MinHash/SimHash find
    candidates cheaply; edit distance scores borderline survivors."""
    base = spread(df, id_col).select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        *[F.col(c) for c in block_cols],
    )
    a = base.select(
        F.col(id_col).alias("i"), F.col("_txt").alias("_ta"), *block_cols
    )
    b = base.select(
        F.col(id_col).alias("j"), F.col("_txt").alias("_tb"), *block_cols
    )
    pairs = a.join(b, on=block_cols).filter(F.col("i") < F.col("j"))
    # Bounded DP: the 3-arg built-in (Spark >= 3.5) runs a banded Levenshtein
    # that early-exits once the distance provably exceeds max_dist, returning
    # -1. On long near-miss pairs the full O(len_a * len_b) table is the
    # dominant cost of the whole operator; the band cuts it to
    # O(max_dist * len). -1 maps to "no pair" — identical output to computing
    # the full distance and filtering, which is what the DuckDB oracle does.
    #
    # The threshold filter is `dist >= 0` ONLY: the bounded built-in already
    # guarantees any non-negative return is <= max_dist, and a redundant
    # `dist <= max_dist` conjunct gets pushed into the join condition where
    # codegen evaluates the DP a second time per candidate pair (no
    # cross-conjunct subexpression elimination there) — measured 3.98 s →
    # 2.6 s at sf0.1 from dropping it. spread() on the input keeps the DP
    # parallel when the corpus arrives as one splittable scan unit.
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
    return pairs.select(
        "i", "j", dist.cast("bigint").alias("dist")
    ).filter(F.col("dist") >= 0)


# Pair graphs at or below this edge count take the driver union-find fast
# path (~16 B/edge collected via Arrow ⇒ ≤ ~8 MB at the default); larger
# graphs run the distributed loops. Same gated-and-bounded pattern as the
# LSH verify cutover: the driver materialization is decided by ONE count on
# the (persisted) pair stream, never unconditionally.
DRIVER_CC_MAX_EDGES = 500_000


def _driver_union_find(pairs: DataFrame) -> DataFrame:
    """Union-find with path compression and union-by-min — exact same
    (doc_id, cluster_id = component minimum) contract as the distributed
    loops, for graphs small enough that per-round job overhead dominates
    any cluster algorithm (an sf0.1 dup graph is 3k nodes; a 6-round
    distributed loop spends seconds scheduling no-op shuffles)."""
    pdf = pairs.select("i", "j").toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for i, j in zip(pdf["i"].to_numpy(), pdf["j"].to_numpy()):
        i, j = int(i), int(j)
        parent.setdefault(i, i)
        parent.setdefault(j, j)
        ri, rj = find(i), find(j)
        if ri != rj:
            # union by MIN so every root is its component's minimum — the
            # cluster_id contract needs no second pass
            if ri < rj:
                parent[rj] = ri
            else:
                parent[ri] = rj
    rows = [(v, find(v)) for v in parent]
    # Arrow-path local frame: this result feeds downstream joins in
    # q96/q106/q131, so a pickled Python RDD here would re-fork Python
    # workers on every consuming action (see tables.local_frame).
    from binwatch_spark.tables import local_frame

    return local_frame(
        pairs.sparkSession, rows, "doc_id long, cluster_id long"
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 25,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Collapse near-dup pairs (i, j) into clusters: (doc_id, cluster_id)
    where cluster_id is the minimum doc id reachable through the pair graph
    — the step after pair generation in every dedup pipeline (pick one
    canonical doc per cluster, drop the rest).

    Pregel-style min-label propagation with POINTER JUMPING: each round
    takes the minimum over (own label, neighbors' labels, label-of-label).
    The neighbor term moves information one hop; the label-of-label term
    (labels self-joined on label = node) doubles the effective reach per
    round, so convergence is O(log diameter) rounds instead of O(diameter)
    — on a local[32] run each round costs ~1 s of fixed job overhead, and
    at cluster scale each round is a full shuffle barrier, so round count
    IS the cost model. Convergence is detected in the same single action
    that materializes the round (an aggregate counting changed labels), not
    with a separate probe job. At 100 TB the same DataFrame shapes extend
    to the alternating large-star/small-star variant (Kiveris et al.);
    pointer-jumped propagation is the right default for clique-like dup
    graphs.

    Each round ends with an EAGER ``localCheckpoint``: iterative DataFrame
    plans otherwise nest the previous round's plan inside the next one, so
    lineage (and AQE's plan-string rendering) grows exponentially and OOMs
    the driver after ~8 rounds regardless of data size. Truncating lineage
    per round keeps plan size constant; on a cluster the same call pins the
    round result on executor-local storage (or swap in ``checkpoint()``
    against a reliable dir when executor loss must be survivable).

    Graphs with <= driver_max_edges edges short-circuit to a driver
    union-find (gated by one count on the persisted pair stream): at that
    size every distributed round is scheduling overhead, not compute.
    Pass driver_max_edges=0 to force the distributed loop (tests do)."""
    pairs = pairs.select("i", "j").persist()
    if driver_max_edges and pairs.count() <= driver_max_edges:
        out = _driver_union_find(pairs)
        pairs.unpersist()
        return out
    edges = (
        pairs.select("i", "j")
        .union(pairs.select(F.col("j").alias("i"), F.col("i").alias("j")))
        .localCheckpoint()
    )
    # edges is materialized by the eager localCheckpoint — the pair cache
    # has served its purpose (gate count + edge build); drop it so repeated
    # calls in a long-lived session don't accumulate cache entries.
    pairs.unpersist()
    # Seed labels with the closed-neighborhood minimum — exactly what round
    # one's neighbor-propagation would compute from identity labels, for the
    # price of one aggregate instead of a full join+union+checkpoint round.
    # Cliques (the common near-dup shape) converge at the first convergence
    # check this way.
    labels = (
        edges.groupBy(F.col("i").alias("node"))
        .agg(F.least(F.first("i"), F.min("j")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = edges.join(labels, edges["j"] == labels["node"]).select(
            F.col("i").alias("node"), "label"
        )
        jump = (
            labels.alias("a")
            .join(labels.alias("b"), F.col("a.label") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
        )
        round_df = (
            labels.unionByName(nbr_min)
            .unionByName(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_labels = round_df.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .agg(
                F.sum(
                    F.when(F.col("n.label") != F.col("o.label"), 1).otherwise(0)
                ).alias("ch")
            )
            .first()["ch"]
        )
        labels = new_labels
        if not changed:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def connected_components_star(
    pairs: DataFrame, max_iter: int = 50,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    100 TB-scale variant behind the same (doc_id, cluster_id) interface as
    ``connected_components``.

    Why a second algorithm: pointer-jumped label propagation converges in
    O(log d) rounds of the graph DIAMETER — great for the clique-like graphs
    near-dup pairs usually form, but a path-like dup chain (serial crawl
    snapshots) makes d large. The star algorithm contracts the graph itself:

    - large-star: every node attaches its strictly-LARGER neighbors to the
      minimum of its closed neighborhood (keeps edges pointing sharply
      downhill without creating long chains),
    - small-star: every node folds itself and its smaller-or-equal
      neighbors onto that minimum (flattens local stars),

    alternating until the edge set reaches a fixed point, which Kiveris et
    al. prove takes O(log² n) rounds on ANY graph shape (empirically
    ~log n), each round two groupBy-min aggregates + an equi-join — no
    label table join against the full edge list. At the fixed point every
    component is a star centered at its minimum node, so labels fall out of
    the final edge list directly. Per-round ``localCheckpoint`` bounds
    lineage exactly as in ``connected_components``. Both algorithms are
    property-tested to identical labelings on random graphs
    (tests/test_graph.py). Same bounded driver union-find gate as
    ``connected_components`` (driver_max_edges=0 forces distributed)."""
    pairs = pairs.select("i", "j").persist()
    if driver_max_edges and pairs.count() <= driver_max_edges:
        out = _driver_union_find(pairs)
        pairs.unpersist()
        return out
    base = pairs.select(
        F.col("i").cast("long").alias("u"), F.col("j").cast("long").alias("v")
    )
    all_nodes = (
        base.select(F.col("u").alias("node"))
        .union(base.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # canonical undirected edge list, larger endpoint first, no self loops
    edges = (
        base.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    # all_nodes and edges are both materialized (eager localCheckpoints);
    # release the gate's pair cache before iterating.
    pairs.unpersist()
    n_edges = edges.count()
    converged = n_edges == 0  # edgeless graph is trivially a star forest
    for _ in range(max_iter):
        round_input, n_input = edges, n_edges
        # large-star: m(u) = min of closed neighborhood; attach every
        # strictly-larger neighbor v of u to m(u). (v > u >= m ⇒ output
        # stays canonical larger-first and self-loop-free.)
        bidir = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("_m")
        )
        edges = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # small-star: m(u) = min(u's smaller neighbors); fold u and all its
        # smaller neighbors onto m(u). Edges are canonical (u > v) so the
        # grouped min IS the closed-neighborhood min below u.
        mins2 = edges.groupBy("u").agg(F.min("v").alias("_m"))
        round_df = (
            edges.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("_m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("_m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        new_edges = round_df.localCheckpoint()
        n_new = new_edges.count()
        # Fixed point of the FULL round (large∘small): set equality vs the
        # round's input. Count equality gates the anti-join so the extra
        # job runs only on candidate fixed points; Kiveris et al. prove the
        # composite's potential strictly decreases until a star forest, so
        # a full-round fixed point IS a star forest.
        converged = (
            n_new == n_input
            and new_edges.join(round_input, ["u", "v"], "left_anti")
            .limit(1)
            .count()
            == 0
        )
        edges, n_edges = new_edges, n_new
        if converged:
            break
    # fixed point: every component is a star centered at its minimum, so
    # each non-center node appears exactly once as the larger endpoint.
    star = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    if not converged:
        # max_iter exhausted before the fixed point (ADVICE r04): a node can
        # still hang off two different centers, which would emit duplicate
        # (doc_id, cluster_id) rows through the left join below. Degrade the
        # same way connected_components does — one label per node — instead
        # of silently corrupting output. (Labels may then split a true
        # component across clusters, the documented max_iter contract.)
        star = star.groupBy("node").agg(F.min("label").alias("label"))
    return (
        all_nodes.join(star, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def _span_hashes(text_col: str, window: int) -> Column:
    """array<bigint> of xxhash64 keys, one per ``window``-token span of the
    lowercased whitespace-tokenized text — the shared map-side span encoder
    for substring dedup and decontamination (span text never leaves the
    expression; every exchange downstream moves int64s)."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    n_wins = F.size(toks) - window + 1
    # sequence(a, b) runs DESCENDING when a > b — guard short docs to an
    # empty array so explode drops them instead of slicing nonsense.
    return F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(1), n_wins),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, window), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def duplicated_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
) -> DataFrame:
    """Substring-level duplication metrics: per document, the fraction of
    its distinct ``window``-token spans that also appear in at least one
    OTHER document (or repeat within it) — the span-dedup signal from
    "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
    ACL 2022), where exactly-repeated 50-token spans mark boilerplate and
    cross-document contamination that document-level dedup (q18/q23) misses.

    Plan shape: windows are built MAP-SIDE with codegen-friendly
    expressions (split → sequence → slice → array_join; no Python), then
    immediately collapsed to an int64 ``xxhash64`` key so every downstream
    exchange moves 16 B/row instead of the span text — the 100 TB posture:
    distinct (doc, span) pairs, one count-per-span aggregate, one semi-ish
    left join back, one per-doc aggregate, all on (int64, int64) rows.
    Grouping by a 64-bit hash instead of the span string merges true
    distinct spans only on a hash collision (~2⁻⁶⁴ per pair; immaterial vs
    the dedup decision it feeds). Output: (id, n_windows, n_dup, dup_frac)
    for every document with ≥ window tokens.
    """
    wins = _span_hashes(text_col, window)
    # Persist + eager fill: the (doc, span) pair set feeds BOTH the
    # span-frequency aggregate and the join-back side; without the cache
    # each consumer re-runs scan+explode+distinct (observed 4.5 s → 1.6 s
    # at sf0.1).
    pairs = (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(wins).alias("_wh"))
        .distinct()
        .persist()
    )
    pairs.count()
    dup = (
        pairs.groupBy("_wh")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_wh", F.lit(1).alias("_isdup"))
    )
    return (
        pairs.join(dup, "_wh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_isdup"), F.lit(0))).alias("n_dup"),
        )
        .select(
            F.col(id_col),
            "n_windows",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_windows")).alias(
                "dup_frac"
            ),
        )
    )


def cross_split_contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col: str,
    train_value: str = "train",
    window: int = 8,
) -> DataFrame:
    """Benchmark-decontamination check: for every NON-train document, how
    many of its distinct ``window``-token spans also occur in the train
    split — the n-gram overlap test used to audit eval leakage in
    pretraining pipelines (the deciding signal before dropping or
    quarantining an eval document).

    Plan: one map-side span-hash pass over the corpus (shared _span_hashes
    encoder), distinct (doc, span) pairs, the train span set reduced to
    distinct int64 keys, then ONE left-semi-style join of eval spans
    against it and a per-doc aggregate — every exchange carries int64 keys
    only, so the shape survives a 100 TB corpus joined against a fixed
    benchmark set (broadcast the benchmark side when it is the small one).
    Output: (id, split, n_spans, n_overlap, contamination_frac) for every
    eval document with ≥ window tokens.
    """
    pairs = (
        spread(df, id_col)
        .select(
            F.col(id_col),
            F.col(split_col).alias("_split"),
            F.explode(_span_hashes(text_col, window)).alias("_wh"),
        )
        .distinct()
        .persist()
    )
    pairs.count()
    train_spans = (
        pairs.filter(F.col("_split") == train_value).select("_wh").distinct()
    )
    evals = pairs.filter(F.col("_split") != train_value)
    hits = (
        evals.join(train_spans.withColumn("_hit", F.lit(1)), "_wh", "left")
        .groupBy(id_col, "_split")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
    )
    return hits.select(
        F.col(id_col),
        F.col("_split").alias("split"),
        "n_spans",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.col("n_spans")).alias(
            "contamination_frac"
        ),
    )


def exact_jaccard_allpairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    array_fallback_max_docs: int = 4_000,
) -> DataFrame:
    """UNBLOCKED exact token-Jaccard pairs — the ground-truth generator for
    recall audits (lsh_recall_audit), NOT a production dedup rung: it is
    honestly O(n²) and exists to measure the approximate rungs against.
    Callers bound n (lsh_recall_audit stride-samples first).

    Two physical forms, same output: under a ≤63-word global vocabulary
    (the _small_vocab_from_toks gate) each token set is one int64 bitmask
    and the pair stage is a BroadcastNestedLoopJoin over 16 B rows with
    popcount Jaccard — pure codegen, ~25M pair evaluations/sec/core.
    Otherwise the token-array form with the lossless size-ratio prefilter
    runs — interpreted array_intersect is ~100× the popcount cost, so the
    array form ENFORCES the tighter ``array_fallback_max_docs`` bound
    (raises rather than silently stalling for hours on an unsampled
    corpus; lsh_recall_audit re-strides to this bound before retrying).
    Output: (i, j) with i < j.
    """
    toks_df = (
        _with_token_sets(spread(df, id_col), text_col)
        .select(F.col(id_col), "_toks")
        .persist()
    )
    n_docs = toks_df.count()  # doubles as the eager cache fill
    vocab = _small_vocab_from_toks(toks_df, skip_sample=True)
    if vocab is None and n_docs > array_fallback_max_docs:
        toks_df.unpersist()
        raise ValueError(
            f"exact_jaccard_allpairs: {n_docs} docs with a >63-word "
            f"vocabulary exceeds array_fallback_max_docs="
            f"{array_fallback_max_docs}; stride-sample the input first "
            "(see lsh_recall_audit)"
        )
    if vocab is not None:
        sets = toks_df.select(
            F.col(id_col), _mask_expr(F.col("_toks"), vocab).alias("_mask")
        )
        a = sets.select(F.col(id_col).alias("i"), F.col("_mask").alias("_mi"))
        b = sets.select(F.col(id_col).alias("j"), F.col("_mask").alias("_mj"))
        pairs = a.crossJoin(F.broadcast(b)).filter(F.col("i") < F.col("j"))
        return pairs.filter(
            _mask_jaccard(F.col("_mi"), F.col("_mj")) >= threshold
        ).select("i", "j")
    left = toks_df.select(F.col(id_col).alias("i"), F.col("_toks").alias("_ti"))
    right = toks_df.select(F.col(id_col).alias("j"), F.col("_toks").alias("_tj"))
    szi, szj = F.size(F.col("_ti")), F.size(F.col("_tj"))
    ratio_ok = F.least(szi, szj).cast("double") >= F.greatest(szi, szj) * threshold
    pairs = left.crossJoin(F.broadcast(right)).filter(
        (F.col("i") < F.col("j")) & ratio_ok
    )
    inter = F.size(F.array_intersect(F.col("_ti"), F.col("_tj")))
    union = szi + szj - inter
    return pairs.filter(inter.cast("double") / union >= threshold).select("i", "j")


def lsh_recall_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    max_exact_docs: int = 20_000,
) -> DataFrame:
    """Recall audit of the MinHash-LSH near-dup rung (minhash_lsh_pairs,
    q23's exact configuration) against the UNBLOCKED exact-Jaccard truth
    set — the measurement that justifies replacing exact dedup with the
    banded rung at scale (the banding analysis in functions.texthash
    predicts ≈0.95 recall at threshold 0.8; this query measures it on the
    actual corpus). The verified LSH output is a SUBSET of the truth set
    by construction (same tokenizer, same Jaccard, same threshold), so
    recall = |LSH| / |truth| — the join below re-derives the intersection
    rather than assuming it, so a drift between the two paths shows up as
    n_hit < n_lsh instead of silently inflating recall.

    Scale posture: the truth side is O(n²) and CANNOT run on the full
    corpus — past ``max_exact_docs`` the audit runs on a deterministic
    stride sample (id % ceil(n/bound) == 0), which is exactly how recall
    is audited in production (a sampled panel, the approximate index
    measured against brute force on the panel; q89 does the same for ANN).
    Both sides see the SAME sampled universe, so the ratio stays unbiased.
    Output: one row (n_true, n_lsh, n_hit, recall).
    """
    n_docs = df.count()
    stride = max(1, -(-n_docs // max_exact_docs))  # ceil div
    universe = (
        df if stride == 1 else df.filter(F.col(id_col) % stride == 0)
    )
    toks_df = (
        _with_token_sets(spread(universe, id_col), text_col)
        .select(F.col(id_col), "_toks")
        .persist()
    )
    toks_df.count()
    vocab = _small_vocab_from_toks(toks_df, skip_sample=True)
    if vocab is not None:
        # Fused small-vocabulary path: ONE persisted frame carries the
        # int64 token mask AND the N_BANDS band keys per document, so the
        # truth side (BroadcastNestedLoopJoin + popcount), the LSH
        # candidate stage (_band_candidate_pairs) and the LSH verify
        # (mask join + popcount) all read the same cache — one tokenize
        # pass, one Arrow kernel pass, zero pandas verification. The naive
        # composition (exact_jaccard_allpairs + minhash_lsh_pairs) runs
        # the tokenizer and its persist/probe job chain once PER SIDE —
        # measured 3.4× slower on the sf0.1 panel.
        keyed = _band_keyed(
            toks_df,
            id_col,
            make_minhash_band_udf()(F.col("_toks")),
            _mask_expr(F.col("_toks"), vocab).alias("_mask"),
        ).persist()
        keyed.count()
        m_i = keyed.select(F.col(id_col).alias("i"), F.col("_mask").alias("_mi"))
        m_j = keyed.select(F.col(id_col).alias("j"), F.col("_mask").alias("_mj"))
        truth = (
            m_i.crossJoin(F.broadcast(m_j))
            .filter(F.col("i") < F.col("j"))
            .filter(_mask_jaccard(F.col("_mi"), F.col("_mj")) >= threshold)
            .select("i", "j")
        )
        cands = _band_candidate_pairs(
            keyed.select(F.col(id_col), *[f"bk{b}" for b in range(N_BANDS)]),
            id_col,
            persist=False,  # single consumer here (the verify join below)
        )
        lsh = (
            cands.join(F.broadcast(m_i), "i")
            .join(F.broadcast(m_j), "j")
            .filter(_mask_jaccard(F.col("_mi"), F.col("_mj")) >= threshold)
            .select("i", "j")
        )
    else:
        # Large-vocabulary fallback: the generic composition (each side
        # re-tokenizes, so the probe-only toks_df cache is released), on a
        # panel honoring BOTH bounds — the caller's max_exact_docs stride
        # (already applied above; the q94 oracle mirrors that rule, so the
        # panel must NEVER widen past it) AND the array form's tighter
        # bound (the interpreted array-intersect truth is ~100× the
        # popcount cost). The extra bound filters the EXISTING universe
        # (conjunctive), so the fallback panel is a strict subset of the
        # caller's panel for ANY stride pair — re-striding from df with a
        # larger non-multiple stride would select ids the caller's rule
        # excludes. When the caller's stride already satisfies the array
        # bound (q94: 2000 ≤ 4000) the panel is untouched and stays
        # hash-consistent with the oracle's stride rule.
        toks_df.unpersist()
        array_bound = 4_000
        fb_stride = -(-n_docs // array_bound)
        if fb_stride > stride:
            # Round up to a MULTIPLE of the caller's stride: the panel
            # filter conjoins with the already-applied id % stride == 0, so
            # a non-multiple fb_stride would shrink the panel to
            # ~n/lcm(stride, fb_stride) docs — a far noisier recall
            # estimate than the ~n/fb_stride intended (e.g. stride 5,
            # fb_stride 21 → lcm 105). A multiple keeps the conjunction
            # exactly id % fb_stride == 0 while preserving the strict
            # subset-of-caller's-panel property.
            fb_stride = stride * (-(-fb_stride // stride))
            universe = universe.filter(F.col(id_col) % fb_stride == 0)
        truth = exact_jaccard_allpairs(
            universe, text_col, id_col, threshold, array_bound
        )
        lsh = minhash_lsh_pairs(universe, text_col, id_col, threshold).select(
            "i", "j"
        )
    t = truth.select("i", "j", F.lit(1).alias("_t"))
    ls = lsh.select("i", "j", F.lit(1).alias("_l"))
    both = t.join(ls, ["i", "j"], "full_outer")
    tt = F.coalesce(F.col("_t"), F.lit(0))
    ll = F.coalesce(F.col("_l"), F.lit(0))
    return both.agg(
        F.coalesce(F.sum(tt), F.lit(0)).cast("bigint").alias("n_true"),
        F.coalesce(F.sum(ll), F.lit(0)).cast("bigint").alias("n_lsh"),
        F.coalesce(F.sum(tt * ll), F.lit(0)).cast("bigint").alias("n_hit"),
        F.when(
            F.coalesce(F.sum(tt), F.lit(0)) == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                F.coalesce(F.sum(tt * ll), F.lit(0)).cast("double") / F.sum(tt),
                8,
            )
        )
        .alias("recall"),
    )


# Cumulative wall-clock spent inside index BUILD/APPEND (the one-time,
# amortized-across-a-day-of-probes cost), accumulated here so bench.py can
# split it out of q118/q122's recurring probe cost (VERDICT r07 #4: the
# 2× bar should track the recurring cost, not conflate it with
# construction). A 1-slot list so importers share the accumulator.
INDEX_BUILD_SECONDS: list[float] = [0.0]


def build_dedup_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    prefix: str = "dedup_index",
    num_buckets: int = 16,
) -> tuple[str, str]:
    """Materialize the corpus dedup INDEX that incremental_dedup_with_index
    probes — the at-rest artifact that lets a crawl delta dedup WITHOUT
    re-scanning or re-hashing the corpus:

    - ``{prefix}_digest``: (digest sha256, keeper_doc_id), bucketed on
      digest — the exact-dup lookup;
    - ``{prefix}_bands``: (doc_id, band_idx, band_key), one row per (doc,
      band), bucketed+sorted on band_key — the near-dup candidate index.

    At 100 TB both writes are one pass over the corpus (digest is a
    map-side expression; band keys are the fused Arrow kernel) plus the
    bucketed write's own shuffle — paid ONCE, amortized over every
    incremental batch. Returns the two table names."""
    import time

    from binwatch_spark.operators.storage import write_bucketed

    t0 = time.perf_counter()
    digest, bands = _index_frames(docs, text_col, id_col)
    # clear_stale_location: the index namespace is owned by this builder
    # and rebuilt wholesale — safe to clear a leftover from a dead session.
    # The two table writes are independent jobs over different shuffles —
    # submitted concurrently (guide §2.6) so the second write's scan/
    # shuffle back-fills the first's task tail instead of waiting for it.
    # inheritable_thread_target carries the caller's local properties (job
    # group, scheduler pool) and tags onto the worker threads' jobs.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(docs.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fd = pool.submit(
            inherit(write_bucketed), digest, f"{prefix}_digest", "digest",
            num_buckets, clear_stale_location=True,
        )
        fb = pool.submit(
            inherit(write_bucketed), bands, f"{prefix}_bands", "band_key",
            num_buckets, clear_stale_location=True,
        )
        fd.result()
        fb.result()
    INDEX_BUILD_SECONDS[0] += time.perf_counter() - t0
    return f"{prefix}_digest", f"{prefix}_bands"


def _band_rows(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, band_idx, band_key), one row per (doc, band): the stored
    band-table layout, and the incoming side of its probe."""
    keyed = _band_keyed(
        spread(docs, id_col),
        id_col,
        make_minhash_band_udf()(distinct_tokens(F.col(text_col))),
    )
    return _band_exploded(keyed, id_col, "doc_id", "bk").select(
        "doc_id", "band_idx", "band_key"
    )


def _index_frames(
    docs: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The two index frames (digest, bands) for a doc set — ONE
    construction shared by build, append and q107's in-plan probe, so the
    stored layouts can never drift."""
    digest = docs.groupBy(
        F.sha2(F.col(text_col), 256).alias("digest")
    ).agg(F.min(id_col).alias("keeper_doc_id"))
    return digest, _band_rows(docs, text_col, id_col)


def update_dedup_index(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    prefix: str = "dedup_index",
    num_buckets: int = 16,
) -> None:
    """Append a verified-new batch (the 'keep' verdicts of an incremental
    probe) to the materialized dedup index — the MAINTENANCE step of the
    daily-crawl loop: build once (build_dedup_index), then per delta batch
    probe → keep → APPEND the keepers, so tomorrow's delta dedups against
    today's accepted docs without any corpus re-scan or index rebuild.

    Appends ride Spark's bucketed-table append (same bucket spec → new
    files land in the right buckets; the stored side of future probe joins
    stays exchange-free). Digests are grouped WITHIN the batch (min id per
    digest); across appends a digest can legitimately recur only if the
    caller violates the keepers-only contract — the probe side still
    resolves it safely (min keeper, see incremental_dedup_with_index).

    ``num_buckets`` must match the build-time spec (Spark rejects a
    mismatched bucketed append) — pass the same value given to
    build_dedup_index for non-default indexes."""
    import time

    from binwatch_spark.operators.storage import write_bucketed

    t0 = time.perf_counter()
    # same persist + concurrent-write shape as build_dedup_index: the two
    # appends otherwise each recompute the delta's upstream join/tokenize
    src = new_docs.persist()
    src.count()
    try:
        digest, bands = _index_frames(src, text_col, id_col)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        inherit = inheritable_thread_target(src.sparkSession)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fd = pool.submit(
                inherit(write_bucketed), digest, f"{prefix}_digest", "digest",
                num_buckets, mode="append",
            )
            fb = pool.submit(
                inherit(write_bucketed), bands, f"{prefix}_bands", "band_key",
                num_buckets, mode="append",
            )
            fd.result()
            fb.result()
    finally:
        src.unpersist()
    INDEX_BUILD_SECONDS[0] += time.perf_counter() - t0


def incremental_dedup_with_index(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    digests: DataFrame,
    bands: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Dedup an incoming batch against a corpus dedup index given as its
    two frames in the _index_frames layout: ``digests`` (digest,
    keeper_doc_id) finds exact dups, ``bands`` (doc_id, band_idx,
    band_key) yields near-dup candidates, and candidates are verified by
    exact Jaccard against ``corpus_docs`` fetched BY ID — the corpus is
    never scanned for hashing. Output: (id, verdict, match_doc_id) with
    exact precedence: 'drop_exact' when the sha256 matches a corpus doc,
    else 'drop_near' when a candidate's Jaccard >= threshold, else
    'keep'; match_doc_id is the smallest matching corpus doc.

    The one cross-frame probe: q107 passes _index_frames(corpus) built in
    the same plan; q118 and q122 pass spark.table() of the bucketed tables
    build_dedup_index/update_dedup_index maintain."""
    new_bands = _band_rows(new_docs, text_col, id_col).withColumnRenamed(
        "doc_id", "i"
    )
    index_bands = bands.select(
        F.col("doc_id").alias("j"), "band_idx", "band_key"
    )
    # HOT-BUCKET CAP (the standard production LSH guard, r10 scale
    # finding): a band key shared by B index docs contributes O(B) rows
    # per colliding probe doc while adding almost no precision — at the
    # fixture's 31-token vocabulary the decade run measured 640k band
    # rows collapsing onto 78k distinct keys (hottest: 15k docs), so the
    # uncapped candidate join produced 356M rows for a 5k-doc probe
    # (215 s); keys with <=BAND_KEY_CAP members carry only 0.11% of that
    # pair mass. Keys above the cap are excluded from candidate
    # generation BY A STATED RULE — the oracle spells the identical
    # HAVING count(*) <= cap predicate, so the (tiny, measured) recall
    # effect is hash-checked, not hidden. The hot set is provably small
    # (<= table_rows / cap keys), so it broadcasts for an anti-join; the
    # count runs against the CURRENT band table, so index appends
    # (update_dedup_index) move keys across the cap exactly as the
    # oracle's recomputed view does. With hot keys gone the candidate
    # volume is small enough that a plain per-pair distinct dedups the
    # pairs (first-collision uniqueness would need per-band hotness to
    # stay correct under the cap).
    hot = (
        index_bands.groupBy("band_idx", "band_key")
        .count()
        .filter(F.col("count") > BAND_KEY_CAP)
        .select("band_idx", "band_key")
    )
    cold_index = index_bands.join(
        F.broadcast(hot), ["band_idx", "band_key"], "left_anti"
    )
    cands = (
        new_bands.join(cold_index, ["band_idx", "band_key"])
        .select("i", "j")
        .dropDuplicates(["i", "j"])
    )
    # SAME tokenizer as the band keys (operators.text.distinct_tokens):
    # verifying against a hand-spelled token expression could silently
    # diverge from the candidate generator if tokenization ever changes.
    toks = distinct_tokens(F.col(text_col))
    ti = new_docs.select(F.col(id_col).alias("i"), toks.alias("_ti"))
    tj = corpus_docs.select(F.col(id_col).alias("j"), toks.alias("_tj"))
    inter = F.size(F.array_intersect(F.col("_ti"), F.col("_tj")))
    union_sz = F.size("_ti") + F.size("_tj") - inter
    near = (
        cands.join(ti, "i")
        .join(tj, "j")
        .filter(inter.cast("double") / union_sz >= threshold)
        .groupBy(F.col("i").alias(id_col))
        .agg(F.min("j").alias("_near"))
    )
    # min over matching keepers: one digest row per digest is the index
    # contract, but an append-maintained index (update_dedup_index) can
    # carry a duplicate digest if a caller ever appended non-keepers —
    # resolving by min here keeps the verdict deterministic (and matches
    # the oracle's GROUP BY digest, min(doc_id) corpus view) instead of
    # silently duplicating output rows.
    exact = (
        new_docs.select(id_col, F.sha2(F.col(text_col), 256).alias("digest"))
        .join(digests, "digest")
        .groupBy(id_col)
        .agg(F.min("keeper_doc_id").alias("_exact"))
    )
    return (
        new_docs.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_exact").isNotNull(), F.lit("drop_exact"))
            .when(F.col("_near").isNotNull(), F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            F.coalesce(F.col("_exact"), F.col("_near")).alias("match_doc_id"),
        )
    )
