"""Deterministic text hashing shared between Spark plans and DuckDB oracles.

The near-dup family (MinHash-LSH, SimHash, hyperplane LSH) is normally
impossible to oracle-check because engines disagree on hash functions. We
make them checkable by building everything on one primitive both engines can
evaluate identically: a polynomial rolling hash over character codes,

    h = fold(chars, 0, (acc, c) -> (acc * 131 + ascii(c)) mod 1_000_000_007)

expressed as Spark higher-order functions (JVM codegen, no UDF) and as the
equivalent DuckDB ``list_reduce`` — same integer arithmetic, same result.
All randomized parameters (MinHash permutations, LSH hyperplanes) are fixed
seeded constants embedded in BOTH the Spark plan and the generated SQL.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

POLY_PRIME = 1_000_000_007
POLY_MULT = 131

# MinHash: K affine permutations h_i(x) = (A[i]*x + B[i]) mod POLY_PRIME over
# token polyhashes, banded as N_BANDS bands of BAND_ROWS rows. Tuned for the
# Jaccard >= 0.8 dedup threshold: the S-curve midpoint is (1/b)^(1/r) =
# (1/16)^(1/8) ≈ 0.71, giving P(candidate) ≈ 0.95 at s=0.8 (→1 above 0.85)
# while pairs at s=0.5 collide at ~6% — the previous (8, 4) banding had its
# midpoint at 0.59 and emitted 40% of s=0.5 pairs as candidates, which on a
# templated corpus made exact verification the dominant cost (159k
# candidates for 256 true pairs at sf0.1). Banding params are embedded in
# the generated oracle SQL too, so both engines see the same candidate set.
MINHASH_K = 128
N_BANDS = 16
BAND_ROWS = 8
_rnd = random.Random(42)
MINHASH_A = [_rnd.randrange(1, POLY_PRIME) for _ in range(MINHASH_K)]
MINHASH_B = [_rnd.randrange(0, POLY_PRIME) for _ in range(MINHASH_K)]

# SimHash uses the low SIMHASH_BITS bits of the token polyhash.
SIMHASH_BITS = 24

# Random-hyperplane LSH for cosine: N_PLANES fixed planes over 64-dim
# embeddings; bucket = sign-bit integer. Values rounded to 6 decimals so the
# literals embedded in SQL are exactly the doubles Spark uses.
# N_TABLES independent plane sets (seeds 42, 43, 44, ...) support
# multi-TABLE LSH — the third recall lever besides probe radius and plane
# count: a pair missed by one table's buckets is recovered if ANY other
# table agrees, recall 1-(1-r)^L for per-table recall r. Table 0 is the
# original seed-42 set, so every single-table caller (q33/q70/q104...)
# keeps its exact historical buckets.
N_PLANES = 8
EMBED_DIM = 64
N_TABLES = 3
HYPERPLANE_TABLES: list[list[list[float]]] = [
    [
        [round(float(v), 6) for v in row]
        for row in np.random.RandomState(42 + t).randn(N_PLANES, EMBED_DIM)
    ]
    for t in range(N_TABLES)
]
HYPERPLANES: list[list[float]] = HYPERPLANE_TABLES[0]

# Minimal public stopword lists for the language-ID heuristic (language code →
# high-frequency function words). Deliberately tiny: the operator contract is
# the scoring shape, not lexicon quality.
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "zu"],
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
}


def _polyhash_py(token: str) -> int:
    """Python twin of polyhash() — identical integer arithmetic (exact, so
    Spark HOF / this / DuckDB all agree bit-for-bit)."""
    acc = 0
    for c in token:
        acc = (acc * POLY_MULT + ord(c)) % POLY_PRIME
    return acc


# Worker-lifetime token→hash memo: vocabulary is tiny relative to token
# occurrences (dictionary-encoding assumption), so each distinct token is
# hashed once per executor, not once per occurrence.
_token_hash_cache: dict[str, int] = {}


def _hash_tokens(tokens) -> "np.ndarray":
    cache = _token_hash_cache
    out = np.empty(len(tokens), dtype=np.int64)
    for k, t in enumerate(tokens):
        v = cache.get(t)
        if v is None:
            cache[t] = v = _polyhash_py(t)
        out[k] = v
    return out


_MINHASH_A_COL = np.array(MINHASH_A, dtype=np.int64)[:, None]
_MINHASH_B_COL = np.array(MINHASH_B, dtype=np.int64)[:, None]


def make_minhash_sig_udf():
    """Arrow-vectorized MinHash signature: array<string> tokens → array<bigint>
    of MINHASH_K values. Same affine-permutation math as minhash_sql, the
    oracles' DuckDB spelling (all int64, max |A*h+B| < 2^63, exact). The
    dedup operators key with the fused make_minhash_band_udf instead; this
    unfolded form is the collision-free reference tools/audit_band_caps.py
    measures the int64 band fold against."""
    @F.pandas_udf("array<bigint>")
    def minhash_sig(tokens: pd.Series) -> pd.Series:
        def sig(ts):
            if ts is None or len(ts) == 0:
                return None
            h = _hash_tokens(ts)[None, :]
            return ((_MINHASH_A_COL * h + _MINHASH_B_COL) % POLY_PRIME).min(axis=1)

        return tokens.apply(sig)

    return minhash_sig


def make_simhash_fp_udf():
    """Arrow-vectorized SimHash fingerprint: array<string> tokens → bigint.
    Bit b set iff the ±1 vote over token-hash bit b is positive — exactly
    operators.dedup.simhash's HOF semantics (null/empty token list → 0)."""
    bits = np.arange(SIMHASH_BITS, dtype=np.int64)

    @F.pandas_udf("bigint")
    def simhash_fp(tokens: pd.Series) -> pd.Series:
        def fp(ts):
            if ts is None or len(ts) == 0:
                return 0
            h = _hash_tokens(ts)
            votes = (((h[:, None] >> bits) & 1) * 2 - 1).sum(axis=0)
            return int(((votes > 0).astype(np.int64) << bits).sum())

        return tokens.apply(fp)

    return simhash_fp


def _band_fold(mins: "np.ndarray") -> "np.ndarray":
    """Fold a MINHASH_K signature into N_BANDS one-int64 band keys: a
    polynomial combine of each BAND_ROWS-row slice with natural int64
    wraparound. Band-key equality is then equivalent to slice equality up
    to 64-bit fold collisions, which downstream exact-Jaccard verification
    removes — so the LSH bucket join can shuffle one int64 per band instead
    of the slice (or the whole signature)."""
    sl = mins.reshape(N_BANDS, BAND_ROWS)
    out = np.zeros(N_BANDS, dtype=np.int64)
    with np.errstate(over="ignore"):
        for r in range(BAND_ROWS):
            out = out * np.int64(1_000_003) + sl[:, r]
    return out


def _batch_minhash_mins(hash_segments: list) -> list:
    """MinHash signatures for a BATCH of token-hash arrays, vectorized
    across the whole batch instead of per document.

    Why batch-level: the per-doc form evaluates the (K, n_tok) affine grid
    one small matrix at a time — ~30 µs of Python/numpy dispatch per
    document dominates at 10k-row Arrow batches. Here the batch's hashes
    are flattened once, the K affine permutations are evaluated over the
    UNIQUE hash values only (batch vocabulary ≪ occurrences — the same
    dictionary-encoding assumption as the token-hash memo), and each
    document's minimum is taken with one gather + ``minimum.reduceat``
    sweep per permutation. Bit-identical to the per-doc form: min over a
    document's multiset of permuted hashes equals min over the gathered
    table rows, and the affine arithmetic is the same exact int64
    (|A·h + B| < 2^63, as the per-doc proof).

    Input: list of int64 arrays (None/empty allowed). Output: list of
    (K,) int64 min arrays (None where input was None/empty)."""
    segs = [
        (i, h) for i, h in enumerate(hash_segments) if h is not None and len(h)
    ]
    out: list = [None] * len(hash_segments)
    if not segs:
        return out
    flat = np.concatenate([h for _, h in segs])
    lens = np.fromiter((len(h) for _, h in segs), dtype=np.int64, count=len(segs))
    bounds = np.zeros(len(segs), dtype=np.int64)
    np.cumsum(lens[:-1], out=bounds[1:])
    mins = np.empty((len(segs), MINHASH_K), dtype=np.int64)
    avg_seg = len(flat) / len(segs)
    uniq = inv = None
    if avg_seg >= 64:
        uniq, inv = np.unique(flat, return_inverse=True)
    if uniq is not None and len(uniq) * 2 <= len(flat):
        # Dictionary-reuse path for LONG documents: affine over the batch
        # vocabulary only, then one gather + segment-min sweep per
        # permutation (2-3× measured at reuse ≥ 2 with ≥64-token docs).
        # Gated twice because each alternative regime measured SLOWER than
        # the per-doc grid on real shapes: reduceat pays ~µs-level
        # per-segment overhead (a loss on short docs), and a dense
        # (docs × K × vocab) masked-min materialization was 6× worse on
        # the 31-word-vocabulary fixture corpus.
        for k in range(MINHASH_K):
            table = (
                _MINHASH_A_COL[k, 0] * uniq + _MINHASH_B_COL[k, 0]
            ) % POLY_PRIME
            mins[:, k] = np.minimum.reduceat(table[inv], bounds)
    else:
        # Default: the fused per-doc affine grid (identical math, same
        # output) — 5000 short docs cost ~0.15 s single-threaded, so this
        # is never the stage bottleneck.
        for row, (_, h) in enumerate(segs):
            mins[row] = (
                (_MINHASH_A_COL * h[None, :] + _MINHASH_B_COL) % POLY_PRIME
            ).min(axis=1)
    for row, (i, _) in enumerate(segs):
        out[i] = mins[row]
    return out


def _batch_band_keys(hash_segments: list) -> list:
    """_batch_minhash_mins folded to N_BANDS int64 band keys (vectorized
    _band_fold across the batch)."""
    segs = [i for i, h in enumerate(hash_segments) if h is not None and len(h)]
    mins_list = _batch_minhash_mins(hash_segments)
    out: list = [None] * len(hash_segments)
    if not segs:
        return out
    m = np.stack([mins_list[i] for i in segs]).reshape(-1, N_BANDS, BAND_ROWS)
    keys = np.zeros((m.shape[0], N_BANDS), dtype=np.int64)
    with np.errstate(over="ignore"):
        for r in range(BAND_ROWS):
            keys = keys * np.int64(1_000_003) + m[:, :, r]
    for row, i in enumerate(segs):
        out[i] = keys[row]
    return out


def make_minhash_band_udf():
    """Arrow-vectorized fused tokens → LSH band keys: the MinHash signature
    (same math as make_minhash_sig_udf) folded to N_BANDS int64 keys via
    _band_fold, so the 128 signature values never leave the kernel.
    Batch-vectorized via _batch_band_keys (unique-hash table + segment-min
    sweeps — one numpy dispatch per permutation, not per document)."""

    @F.pandas_udf("array<bigint>")
    def minhash_bands(tokens: pd.Series) -> pd.Series:
        hashes = [
            _hash_tokens(ts) if ts is not None and len(ts) else None
            for ts in tokens
        ]
        return pd.Series(_batch_band_keys(hashes))

    return minhash_bands


def make_shingle_minhash_band_udf(k: int):
    """Fused text → LSH band keys for character k-gram shingles:
    lowercase, rolling polyhash over every gram position, then the K affine
    permutations and _band_fold, all in one numpy pass, so no shingle
    string or signature value ever leaves the kernel. Bit-identical to
    make_minhash_band_udf over make_shingles_udf(k): the rolling hash
    (acc*131+ord)%P per window equals _polyhash_py of the substring, and
    min over the multiset of window hashes equals min over the distinct
    set, so skipping dedup is exact."""

    @F.pandas_udf("array<bigint>")
    def shingle_bands(texts: pd.Series) -> pd.Series:
        def gram_hashes(t):
            if t is None:
                return None
            low = t.lower()
            n = len(low) - k + 1
            if n <= 0:
                return None
            codes = np.fromiter(map(ord, low), dtype=np.int64, count=len(low))
            acc = codes[:n].copy()
            for j in range(1, k):
                acc = (acc * POLY_MULT + codes[j : j + n]) % POLY_PRIME
            return acc

        return pd.Series(_batch_band_keys([gram_hashes(t) for t in texts]))

    return shingle_bands


def make_shingles_udf(k: int):
    """Arrow-vectorized distinct character k-gram extraction: string →
    array<string>. Exact twin of operators.text.char_shingles — exists
    because the HOF spelling inlines lower(text) into every one of the
    ~len(text) substr lambda evaluations (O(len²) string copying per row).
    Order of first appearance matches array_distinct/list_distinct."""

    @F.pandas_udf("array<string>")
    def shingles(texts: pd.Series) -> pd.Series:
        def sh(t):
            if t is None:
                return None
            low = t.lower()
            if len(low) < k:
                return []
            return list(dict.fromkeys(low[i : i + k] for i in range(len(low) - k + 1)))

        return texts.apply(sh)

    return shingles




def polyhash(col: Column) -> Column:
    """Polynomial char hash of a string column (Spark side, pure HOFs)."""
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * POLY_MULT + x) % POLY_PRIME,
    )


def polyhash_sql(expr: str) -> str:
    """The identical hash as DuckDB SQL over an expression yielding VARCHAR."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {POLY_MULT} + b) % {POLY_PRIME})"
    )


def make_polyhash_udf():
    """Arrow-vectorized, worker-memoized polyhash for a STRING column of
    token occurrences (string → bigint). Exact twin of the HOF ``polyhash``
    (same per-char fold), which remains the spec and the SQL-generation
    source; this form exists for occurrence-level hashing (q105's CMS
    updates), where the interpreted per-char HOF fold would run once per
    occurrence — the token→hash memo hashes each distinct token once per
    worker instead (dictionary-encoding assumption, as _hash_tokens)."""

    @F.pandas_udf("bigint")
    def ph(tokens: pd.Series) -> pd.Series:
        raw = tokens.to_numpy()
        if not tokens.isna().any():
            return pd.Series(_hash_tokens(raw))
        # NULL strings null-propagate, matching the HOF twin polyhash()
        # (aggregate over split(NULL) is NULL) — the memoized fast path
        # above stays the common case since call sites are non-null by
        # construction (q105 exploded tokens, q111 chunk_text).
        cache = _token_hash_cache
        out: list = []
        for t in raw:
            if t is None or (isinstance(t, float) and np.isnan(t)):
                out.append(None)
            else:
                v = cache.get(t)
                if v is None:
                    cache[t] = v = _polyhash_py(t)
                out.append(v)
        return pd.Series(out, dtype="object")

    return ph


def minhash_sql(hashes_expr: str, i: int) -> str:
    a, b = MINHASH_A[i], MINHASH_B[i]
    return (
        f"list_min(list_transform({hashes_expr}, "
        f"h -> ({a} * h + {b}) % {POLY_PRIME}))"
    )


def hyperplanes_for(
    n_planes: int, dim: int = EMBED_DIM, table: int = 0
) -> list[list[float]]:
    """First ``n_planes`` rows of the table's seeded gaussian stream —
    PREFIX-STABLE: randn fills row-major from one sequential stream, so
    hyperplanes_for(8) == HYPERPLANE_TABLES[table] exactly and growing the
    plane count (the 100 TB lever: planes ∝ log n keeps expected bucket
    occupancy constant) only APPENDS planes; every bucket id's low 8 bits
    stay the historical bucket. Same 6-dp rounding as the module
    constants so SQL-embedded literals are the doubles Spark uses."""
    rows = np.random.RandomState(42 + table).randn(n_planes, dim)
    return [[round(float(v), 6) for v in row] for row in rows]


def make_lsh_bucket_udf(planes: list[list[float]]):
    """Arrow-vectorized sign-bit bucketer for an ARBITRARY plane matrix —
    the parameterized twin of lsh_bucket for plane counts past the fixed
    8 (per-plane zip_with folds are CodegenFallback, interpreted per row
    per plane — fine at 8, not at the log(n)-grown counts the production
    dedup rung uses). Accumulates each dot SEQUENTIALLY over dimensions
    (one vectorized multiply-add per dim, the _pair_dot_udf pattern), so
    every sign decision is bit-identical to the fold/list_dot_product
    chain — a BLAS matmul's pairwise accumulation could flip a
    near-zero sign."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    P = np.array(planes, dtype=np.float64)
    weights = (1 << np.arange(len(planes), dtype=np.int64))

    @pandas_udf(LongType())
    def bucket(es: pd.Series) -> pd.Series:
        E = np.stack(es.to_numpy()).astype(np.float64)
        acc = np.zeros((E.shape[0], P.shape[0]), dtype=np.float64)
        for d in range(E.shape[1]):
            acc += E[:, d : d + 1] * P[:, d][None, :]
        return pd.Series((acc >= 0).astype(np.int64) @ weights)

    return bucket


def lsh_bucket(embedding: Column | str, table: int = 0) -> Column:
    """Sign-bit bucket id of an array<float|double> embedding: bit j set iff
    dot(embedding, plane_j) >= 0. Pure zip_with/aggregate — JVM-side, and the
    sequential fold matches DuckDB's list_dot_product associativity.
    ``table`` selects one of the N_TABLES independent plane sets (0 = the
    historical single-table planes).

    Built as ONE parsed Spark-SQL expression instead of per-plane Column
    calls: the literal-at-a-time form cost ~650 py4j round trips (~0.5 s of
    driver wall per call site — q120 paid it three times), while parsing the
    identical tree is ~20 ms. ``repr(float)`` literals with the ``D`` suffix
    round-trip to the exact same IEEE doubles as ``F.lit``, the fold order
    is unchanged, so the result is bit-identical (oracle-checked)."""
    if not isinstance(embedding, str):
        raise TypeError(
            "lsh_bucket takes the embedding COLUMN NAME (the expression is "
            "built as one parsed SQL string; a Column object has no stable "
            "SQL form in Spark 4)"
        )
    emb_sql = f"`{embedding}`"
    parts = ["CAST(0 AS BIGINT)"]
    for j, row in enumerate(HYPERPLANE_TABLES[table]):
        arr = "array(" + ",".join(f"{v!r}D" for v in row) + ")"
        dot = (
            f"aggregate(zip_with({emb_sql}, {arr},"
            " (x, p) -> CAST(x AS DOUBLE) * p),"
            " 0.0D, (acc, v) -> acc + v)"
        )
        parts.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << j} ELSE 0 END)")
    return F.expr(" + ".join(parts))


def lsh_bucket_sql(
    emb_expr: str, table: int = 0, n_planes: int | None = None
) -> str:
    planes = (
        HYPERPLANE_TABLES[table]
        if n_planes is None
        else hyperplanes_for(n_planes, table=table)
    )
    parts = []
    for j, plane_row in enumerate(planes):
        plane = (
            "CAST(["
            + ", ".join(repr(v) for v in plane_row)
            + "] AS DOUBLE[])"
        )
        parts.append(
            f"CASE WHEN list_dot_product(CAST({emb_expr} AS DOUBLE[]), {plane}) >= 0"
            f" THEN {1 << j} ELSE 0 END"
        )
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"
