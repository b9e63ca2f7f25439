"""Reference-implementation checks for the numeric pipeline queries: each
operator's distributed result must equal a transparent single-process
re-implementation (pure Python / numpy) on a small in-memory dataset —
independent of the DuckDB oracle, so a bug shared by both SQL spellings
can't hide.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat sat on the hat"),
    (2, "a dog barked at the cat"),
    (3, "the cat sat on the mat"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _bigram_lm_reference(rows, add_k):
    toks = {i: t.lower().split(" ") for i, t in rows}
    bigrams = {
        i: [(ts[j], f"{ts[j]} {ts[j + 1]}") for j in range(len(ts) - 1)]
        for i, ts in toks.items()
    }
    c_bg: dict = {}
    c_w: dict = {}
    for bs in bigrams.values():
        for w1, bg in bs:
            c_bg[bg] = c_bg.get(bg, 0) + 1
            c_w[w1] = c_w.get(w1, 0) + 1
    vocab = {t for ts in toks.values() for t in ts}
    out = {}
    for i, bs in bigrams.items():
        lps = [
            math.log((c_bg[bg] + add_k) / (c_w[w1] + add_k * len(vocab)))
            for w1, bg in bs
        ]
        out[i] = (len(lps), round(sum(lps) / len(lps), 6))
    return out


def test_bigram_lm_matches_pure_python(docs):
    # calls THE registered plan body (operators/text.bigram_lm_scores is
    # what q92 runs), so plan drift fails here, not just at the oracle
    from binwatch_spark.operators.text import bigram_lm_scores
    from binwatch_spark.plans.text_queries import LM_ADD_K

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_lm_scores(docs, "text", "doc_id", LM_ADD_K).collect()
    }
    want = _bigram_lm_reference(DOCS, LM_ADD_K)
    assert got == want


def test_embedding_dim_stats_match_numpy(spark):
    rng = [
        (i, [float(((i * 7 + d * 3) % 11) - 5) / 4.0 for d in range(5)])
        for i in range(20)
    ]
    # calls THE registered plan body (operators/similarity.
    # embedding_dim_stats is what q93 runs)
    from binwatch_spark.operators.similarity import embedding_dim_stats

    df = spark.createDataFrame(rng, ["vec_id", "embedding"])
    got = {
        r["dim"]: (r["n"], r["mean"], r["var_pop"], r["min_v"], r["max_v"])
        for r in embedding_dim_stats(df, "embedding").collect()
    }
    M = np.array([e for _, e in rng])
    for d in range(5):
        col = M[:, d]
        assert got[d][0] == len(col)
        assert got[d][1] == pytest.approx(round(col.mean(), 6), abs=1e-9)
        assert got[d][2] == pytest.approx(round(col.var(), 6), abs=1e-6)
        assert got[d][3] == col.min() and got[d][4] == col.max()


def test_kmeans_rounds_match_numpy_lloyd(spark):
    from binwatch_spark.operators.similarity import kmeans_lloyd_rounds

    vecs = [
        (i, [float(((i * 13 + d * 5) % 17) - 8) / 8.0 for d in range(4)])
        for i in range(30)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: (r["cell_id"], r["dist2"])
        for r in kmeans_lloyd_rounds(
            df, "vec_id", "embedding", stride=10, rounds=2
        ).collect()
    }

    # transparent numpy Lloyd with the same determinism contract
    X = np.array([v for _, v in vecs])
    ids = np.array([i for i, _ in vecs])
    cids = ids[ids % 10 == 0]
    C = X[np.isin(ids, cids)]
    for rnd in range(2):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        best = np.argmin(d2, axis=1)
        if rnd == 0:
            # update + 6dp fixed point, cells keyed by OLD centroid id
            new_ids, new_C = [], []
            for k in sorted(set(best)):
                new_ids.append(cids[k])
                new_C.append(np.round(X[best == k].mean(0), 6))
            cids, C = np.array(new_ids), np.array(new_C)
    for n, i in enumerate(ids):
        cell, dist2 = got[i]
        assert cell == cids[best[n]]
        assert dist2 == pytest.approx(round(d2[n, best[n]], 6), abs=1e-6)


def test_batch_minhash_kernel_parity_across_regimes():
    """_batch_minhash_mins/_batch_band_keys must be bit-identical to the
    per-doc affine grid in EVERY regime the input-shape gates can select
    (dictionary-reuse reduceat path for long docs, per-doc grid for short
    or low-reuse batches), including None/empty documents."""
    import numpy as np

    from binwatch_spark.functions.texthash import (
        _MINHASH_A_COL,
        _MINHASH_B_COL,
        POLY_PRIME,
        _band_fold,
        _batch_band_keys,
    )

    rng = np.random.default_rng(42)
    vocab_small = rng.integers(0, POLY_PRIME, 40).astype(np.int64)
    vocab_mid = rng.integers(0, POLY_PRIME, 3000).astype(np.int64)
    regimes = {
        "short_small_vocab": [
            vocab_small[rng.integers(0, 40, size=rng.integers(1, 30))]
            for _ in range(200)
        ],
        "long_reuse": [
            vocab_mid[rng.integers(0, 3000, size=150)] for _ in range(200)
        ],
        "short_unique": [
            rng.integers(0, POLY_PRIME, size=rng.integers(1, 20)).astype(
                np.int64
            )
            for _ in range(200)
        ],
    }
    for tag, docs in regimes.items():
        docs = list(docs)
        docs[3] = None
        docs[11] = np.array([], dtype=np.int64)
        expect = []
        for h in docs:
            if h is None or len(h) == 0:
                expect.append(None)
                continue
            mins = (
                (_MINHASH_A_COL * h[None, :] + _MINHASH_B_COL) % POLY_PRIME
            ).min(axis=1)
            expect.append(_band_fold(mins))
        got = _batch_band_keys(docs)
        assert len(got) == len(expect)
        for a, b in zip(expect, got):
            if a is None:
                assert b is None, tag
            else:
                assert np.array_equal(a, b), tag
