"""q24 block-size gate (VERDICT r04 #3): jaccard_pairs must probe block
cardinality and cut over from metadata blocking to the MinHash-LSH band
blocking (the q23 rung) when the largest block exceeds the bound —
otherwise a hot metadata key degenerates quadratically at scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binwatch_spark.operators import dedup

DOCS = [
    # one hot block ("web") with two near-dup pairs + noise
    (1, "web", "the quick brown fox jumps over the lazy dog again and again"),
    (2, "web", "the quick brown fox jumps over the lazy dog again and again!"),
    (3, "web", "completely different text about spark shuffles and partitions"),
    (4, "web", "completely different text about spark shuffles and partitions ok"),
    (5, "web", "unrelated noise document mentioning neither foxes nor shuffles"),
    (6, "books", "a lonely block with a single document pairs with nothing"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "source", "text"])


def _pairs(df):
    return sorted((r["i"], r["j"]) for r in df.select("i", "j").collect())


def test_below_gate_exact_metadata_blocking(docs):
    out = dedup.jaccard_pairs(docs, "text", "doc_id", "source", 0.8)
    assert _pairs(out) == [(1, 2), (3, 4)]


def test_above_gate_cuts_over_to_lsh_banding(docs):
    gated = dedup.jaccard_pairs(
        docs, "text", "doc_id", "source", 0.8, max_block_docs=3
    )
    lsh = dedup.minhash_lsh_pairs(docs, "text", "doc_id", 0.8)
    assert _pairs(gated) == _pairs(lsh)
    # the LSH rung still finds the true near-dup pairs here (high-sim pairs
    # collide in ≥1 band with near-certainty at these thresholds)
    assert set(_pairs(gated)) >= {(1, 2), (3, 4)}


def test_cutover_plan_is_band_blocked(docs):
    # Pin the cutover in the PLAN: the gated form must join on LSH band
    # keys (Generate/posexplode over band columns), not on the metadata
    # blocking column.
    import contextlib
    import io

    gated = dedup.jaccard_pairs(
        docs, "text", "doc_id", "source", 0.8, max_block_docs=3
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        gated.explain("formatted")
    plan = buf.getvalue()
    # the candidate join keys are (band_idx, band_key), not the metadata col
    assert "band_key" in plan
    assert "Left keys [2]: [band_idx" in plan


def test_duplicated_span_stats_semantics(spark):
    # 6-token window over hand-built docs: doc 1 and 2 share one 3-word
    # overlap region; doc 3 is unique; doc 4 is too short for any window.
    rows = [
        (1, "a b c d e f g"),        # windows: abcdef, bcdefg
        (2, "a b c d e f x"),        # windows: abcdef, bcdefx
        (3, "p q r s t u v w"),      # unique windows
        (4, "too short"),            # < 6 tokens: no output row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup"], r["dup_frac"])
        for r in dedup.duplicated_span_stats(df, "text", "doc_id", window=6).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (2, 1, 0.5)   # "a b c d e f" shared with doc 2
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (3, 0, 0.0)


def test_lsh_recall_audit_unsampled_subset_consistency(docs):
    # LSH-verified pairs are a subset of the exact truth set (same
    # tokenizer, same threshold) — the audit's join must re-derive
    # n_hit == n_lsh, and recall must be the exact ratio.
    row = dedup.lsh_recall_audit(docs, "text", "doc_id", 0.8).first()
    assert row["n_hit"] == row["n_lsh"] <= row["n_true"]
    assert row["n_true"] == 2  # (1,2) and (3,4) from the fixture
    if row["n_true"]:
        assert row["recall"] == round(row["n_hit"] / row["n_true"], 8)


def test_lsh_recall_audit_stride_sampling_bounds_truth(docs):
    # past max_exact_docs the audit must stride-sample BOTH sides: with a
    # 2-doc bound over 6 docs, stride=3 keeps doc_ids {3, 6} only — the
    # surviving universe has no near-dup pair, and the audit reports an
    # empty truth set with NULL recall instead of running O(n²) unsampled.
    row = dedup.lsh_recall_audit(
        docs, "text", "doc_id", 0.8, max_exact_docs=2
    ).first()
    assert row["n_true"] == 0 and row["n_lsh"] == 0 and row["n_hit"] == 0
    assert row["recall"] is None


def test_lsh_recall_audit_large_vocab_fallback(spark):
    # >80 distinct tokens defeats the bitmask gate, forcing the audit's
    # generic fallback (exact_jaccard_allpairs array form + full
    # minhash_lsh_pairs). The near-dup pair (100, 101) must survive the
    # path switch with the same subset-consistency contract.
    import pytest as _pytest

    base = " ".join(f"tok{k}" for k in range(90))
    rows = [
        (100, base + " ending one"),
        (101, base + " ending two"),
        (102, " ".join(f"other{k}" for k in range(40))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    row = dedup.lsh_recall_audit(df, "text", "doc_id", 0.8).first()
    assert row["n_true"] == 1 and row["n_hit"] == row["n_lsh"]
    # and the array form refuses an unsampled over-bound corpus outright
    with _pytest.raises(ValueError, match="array_fallback_max_docs"):
        dedup.exact_jaccard_allpairs(
            df, "text", "doc_id", 0.8, array_fallback_max_docs=2
        )


def test_index_update_loop_drops_against_appended_keepers(spark):
    """update_dedup_index's append must make LATER batches dedup against
    EARLIER batches' keepers (the q122 loop) — the fixture corpus never
    exercises this cross-batch path (its near-dups all match the original
    corpus), so this pins it directly: a C doc exactly duplicating a B
    keeper drops 'drop_exact' against it, and a C doc near-duplicating one
    drops 'drop_near' — both matches impossible from the original index."""
    from binwatch_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_with_index,
        update_dedup_index,
    )

    schema = "doc_id bigint, text string"
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], schema
    )
    b = spark.createDataFrame(
        [
            (10, "zeta eta theta iota kappa"),  # new → keep
            (20, "alpha beta gamma delta"),  # exact dup of corpus 1
        ],
        schema,
    )
    c = spark.createDataFrame(
        [
            (15, "zeta eta theta iota kappa"),  # exact dup of B keeper 10
            (25, "zeta eta theta iota"),  # jaccard 4/5 = 0.8 vs keeper 10
            (35, "omega psi chi phi"),  # genuinely new
        ],
        schema,
    )
    prefix = "t_idx_loop"
    # non-default bucket count on purpose: the append below must carry the
    # SAME spec or Spark rejects the bucketed-table append (regression:
    # update_dedup_index once hardcoded 16)
    dig_t, bands_t = build_dedup_index(
        corpus, "text", "doc_id", prefix=prefix, num_buckets=4
    )
    verd_b = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in incremental_dedup_with_index(
            b, corpus, spark.table(dig_t), spark.table(bands_t),
            "text", "doc_id", 0.8,
        ).collect()
    }
    assert verd_b == {10: ("keep", None), 20: ("drop_exact", 1)}

    keep_b = b.filter(b.doc_id == 10)
    update_dedup_index(keep_b, "text", "doc_id", prefix=prefix, num_buckets=4)
    verd_c = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in incremental_dedup_with_index(
            c,
            corpus.unionByName(keep_b),
            spark.table(dig_t),
            spark.table(bands_t),
            "text",
            "doc_id",
            0.8,
        ).collect()
    }
    assert verd_c == {
        15: ("drop_exact", 10),
        25: ("drop_near", 10),
        35: ("keep", None),
    }


def test_hot_bucket_cap_suppresses_degenerate_candidates(spark, monkeypatch):
    """BAND_KEY_CAP (r10 scale finding): a band key held by more than cap
    corpus docs is excluded from candidate generation — the stated rule
    the q107/q122 oracles spell. Pins all three contracts: (a) a probe
    doc whose ONLY collisions sit in hot keys gets no near candidate
    ('keep' even though its true Jaccard clears the threshold — the
    documented, measured recall price); (b) cold keys still generate
    candidates ('drop_near' unaffected); (c) the digest path is
    band-free, so an exact duplicate of the hot-key text still drops
    'drop_exact'."""
    from binwatch_spark.operators import dedup as ddp
    from binwatch_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_with_index,
    )

    monkeypatch.setattr(ddp, "BAND_KEY_CAP", 2)
    schema = "doc_id bigint, text string"
    hot_text = "alpha beta gamma delta epsilon"
    corpus = spark.createDataFrame(
        [
            # three identical docs: every band key they produce has 3 > 2
            # members -> hot, excluded
            (1, hot_text),
            (2, hot_text),
            (3, hot_text),
            # lone doc: its keys have 1 member -> cold
            (4, "zeta eta theta iota kappa"),
        ],
        schema,
    )
    incoming = spark.createDataFrame(
        [
            # near-dup of the hot text (jaccard 4/5 = 0.8, NOT exact):
            # all its collisions are hot -> keep under the cap
            (10, "alpha beta gamma delta"),
            # near-dup of the cold doc: jaccard 4/5 = 0.8 -> drop_near
            (20, "zeta eta theta iota"),
            # exact dup of the hot text: digest path ignores bands
            (30, hot_text),
        ],
        schema,
    )
    prefix = "t_idx_hotcap"
    dig_t, bands_t = build_dedup_index(
        corpus, "text", "doc_id", prefix=prefix, num_buckets=4
    )
    verd = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in incremental_dedup_with_index(
            incoming, corpus, spark.table(dig_t), spark.table(bands_t),
            "text", "doc_id", 0.8,
        ).collect()
    }
    assert verd == {
        10: ("keep", None),
        20: ("drop_near", 4),
        30: ("drop_exact", 1),
    }


def test_q42_gate_exact_below_banded_above(spark, monkeypatch):
    """VERDICT r11 #4: q42_dedup_clusters self-protects — below
    Q42_EXACT_MAX_DOCS it runs the exact source-blocked rung, above it
    the banded q23 generator, and the ORACLE spells the identical gate,
    so the registered (query, oracle) pair stays hash-exact on BOTH
    sides. Checked by running the same corpus through both gate settings
    against the gate-matched oracle."""
    from binwatch_spark.plans import analytics
    from binwatch_spark.testing import compare

    sf_dir = "/root/testdata/sf0.001"
    # default gate: corpus far below it -> exact rung, oracle exact branch
    assert analytics.Q42_EXACT_MAX_DOCS > 100
    problems = compare(
        spark,
        sf_dir,
        "q42",
        analytics.q42_dedup_clusters,
        analytics._q42_sql(analytics.Q42_EXACT_MAX_DOCS),
    )
    assert problems == []

    # forced gate 0: every doc counts as "too many" -> banded rung both
    # engines; the pair sets (and so the clusters) must still hash-match
    monkeypatch.setattr(analytics, "Q42_EXACT_MAX_DOCS", 0)
    for fn in (analytics.q42_dedup_clusters, analytics.q71_dedup_clusters_star):
        problems = compare(spark, sf_dir, fn.__name__, fn, analytics._q42_sql(0))
        assert problems == [], problems


def test_q42_rung_equality_below_gate(spark):
    """On a corpus where every true near-dup pair shares a source AND
    collides in >=1 band, the two rungs agree exactly — the gate changes
    the algorithm, not the answer, for within-recall pairs."""
    from binwatch_spark.plans import analytics

    docs = spark.createDataFrame(DOCS, ["doc_id", "source", "text"])
    exact = dedup.jaccard_pairs(docs, "text", "doc_id", "source", 0.8)
    banded = dedup.minhash_lsh_pairs(docs, "text", "doc_id", 0.8)
    assert _pairs(exact) == _pairs(banded)
    # and the clusters built from either pair set are identical
    cc_e = sorted(map(tuple, dedup.connected_components(exact.select("i", "j")).collect()))
    cc_b = sorted(map(tuple, dedup.connected_components(banded.select("i", "j")).collect()))
    assert cc_e == cc_b
