"""The production-dim contract for the deterministic numeric kernels
(VERDICT r10 #1): the per-dimension loops in q93/q98/q114/q148 must survive
embedding dims past the fixture's 64 — production encoders emit 768–4096 —
WITHOUT losing hash-exactness against their DuckDB oracles.

The cliff being guarded: a per-dimension spelling re-inlines the dim-term
dot into each of dim per-dimension sums (O(dim²) codegen nodes — ~10⁷ at
dim 2048, past Janino's 64 KB method limit and the constant pool), or
unrolls dim avg aggregates into one buffer. The k-means centroid update
(kmeans_lloyd_rounds) and the power iteration (power_iteration_rounds)
each have one LONG-FORM round body at every dim (posexplode → ONE hash
aggregate grouped by dimension) whose codegen size is O(1) in dim. These
tests pin, against real DuckDB oracles:

- both kernels are hash-exact at dim 512 (q148 via the O(dim)-size
  long-form oracle twin, q98 via the parameterized kmeans oracle); the
  dim-64 results are pinned by test_oracle_parity;
- q93/q114 (long-form by construction) stay oracle-exact at 512;
- power iteration compiles and runs at dim 2048, so the next decade of
  dim is a config change, not a rewrite.

q147 is listed with this family in VERDICT r10 but has no dim axis: its
model is 3 fixed scalar features of the documents table, not an embedding
loop.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from binwatch_spark.operators.similarity import (
    kmeans_lloyd_rounds,
    power_iteration_rounds,
)
from binwatch_spark.plans.similarity_queries import _kmeans_sql
from binwatch_spark.tables import TABLE_NAMES, load
from binwatch_spark.testing import compare
from tests.conftest import SF_SMALL

DIM = 512
N_ROWS = 120
STRIDE = 25  # ~5 seed centroids, the q98 convention


def _pca_power_sql_long(k: int, dim: int) -> str:
    """Long-form twin of _pca_power_sql for ARBITRARY dim — the oracle the
    dim-512 run is pinned against. The unrolled builder's SQL text is
    O(k·dim²) (each of dim sums re-spells the dim-term dot), which at dim
    512 is a ~30 MB statement; this twin stays O(dim) by using DuckDB's
    sequential-fold primitives, every one already
    parity-pinned elsewhere in the registry: list_dot_product for the
    projection s = x·v AND the norm (0.0-seeded ascending fold — the same
    IEEE chain as the Spark kernel's zip_with/aggregate and the driver
    loop's ascending += ), unnest(range) + GROUP BY pos for the
    per-dimension DECIMAL(28,10) sums (exact, order-free), and
    list(… ORDER BY pos) to rebuild the direction between rounds."""
    v0 = "[" + ", ".join(
        "1.0" if i == 0 else "0.0" for i in range(dim)
    ) + "]"
    parts = [
        "emb AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS x"
        " FROM embeddings WHERE embedding IS NOT NULL)",
        f"pos AS (SELECT unnest(range(1, {dim + 1})) AS d)",
        f"w0 AS (SELECT {v0}::DOUBLE[] AS v)",
    ]
    for r in range(1, k + 1):
        prev = f"w{r - 1}"
        parts.append(
            f"""g{r} AS MATERIALIZED (
  SELECT p.d AS pos,
         sum(CAST(list_dot_product(e.x, w.v) * e.x[p.d]
                  AS DECIMAL(28,10))) AS us
  FROM emb e CROSS JOIN {prev} w CROSS JOIN pos p
  GROUP BY p.d)"""
        )
        parts.append(
            f"u{r} AS (SELECT list(CAST(us AS DOUBLE) ORDER BY pos) AS u"
            f" FROM g{r})"
        )
        parts.append(
            f"n{r} AS (SELECT sqrt(list_dot_product(u, u)) AS nrm"
            f" FROM u{r})"
        )
        parts.append(
            f"w{r} AS (SELECT list_transform(u.u, z -> z / n.nrm) AS v"
            f" FROM u{r} u CROSS JOIN n{r} n)"
        )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" round(n.nrm, 6) AS lambda_n,"
        f" round(w.v[1], 8) AS c0, round(w.v[2], 8) AS c1,"
        f" round(w.v[3], 8) AS c2, round(w.v[4], 8) AS c3"
        f" FROM w{r} w CROSS JOIN n{r} n"
        for r in range(1, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


def _write_embeddings(path: str, dim: int, n: int, nulls: tuple[int, ...]):
    """Fixture embeddings at an arbitrary dim, same schema as the driver
    fixture (vec_id BIGINT, embedding FLOAT[], label INT), unit-scale
    values, a couple of NULL embeddings to exercise the filters."""
    rng = np.random.RandomState(7 + dim)
    mat = (rng.randn(n, dim) * 0.25).astype(np.float32)
    emb = [None if i in nulls else mat[i].tolist() for i in range(n)]
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(emb, pa.list_(pa.float32())),
            "label": pa.array([i % 7 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, path)


@pytest.fixture(scope="module")
def dim512_dir(tmp_path_factory):
    """A full fixture dir (all tables symlinked from sf0.001) with the
    embeddings table replaced by a dim-512 variant, so load() and the
    DuckDB view registration both work unchanged."""
    d = tmp_path_factory.mktemp("dim512")
    for name in TABLE_NAMES:
        if name == "embeddings":
            continue
        os.symlink(f"{SF_SMALL}/{name}.parquet", d / f"{name}.parquet")
    _write_embeddings(str(d / "embeddings.parquet"), DIM, N_ROWS, (17, 63))
    return str(d)


def _q148_at(dim: int, rounds: int):
    def fn(spark, sf_dir):
        emb = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("embedding").isNotNull())
            .select(F.col("embedding").alias("x"))
        )
        rows = power_iteration_rounds(emb, "x", rounds, dim=dim)
        return spark.createDataFrame(
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

    return fn


def test_q148_wide_rung_oracle_exact_dim512(spark, dim512_dir):
    problems = compare(
        spark,
        dim512_dir,
        "q148@dim512",
        _q148_at(DIM, 3),
        _pca_power_sql_long(3, DIM),
    )
    assert not problems, "\n".join(problems)


def test_q148_long_oracle_matches_registered_oracle_at_dim64(spark):
    """The O(dim)-size long-form oracle twin is the SAME statement as the
    registered unrolled oracle wherever both can be built — pinned at the
    fixture dim so the dim-512 run above inherits the registered oracle's
    authority."""
    from binwatch_spark.plans.similarity_queries import _pca_power_sql
    from binwatch_spark.testing import duckdb_connection

    con = duckdb_connection(SF_SMALL)
    try:
        a = con.execute(_pca_power_sql(3)).fetchall()
        b = con.execute(_pca_power_sql_long(3, 64)).fetchall()
    finally:
        con.close()
    assert a == b


def test_q98_wide_rung_oracle_exact_dim512(spark, dim512_dir):
    def fn(sp, sf_dir):
        emb = load(sp, sf_dir, "embeddings")
        return kmeans_lloyd_rounds(emb, "vec_id", "embedding", STRIDE)

    problems = compare(
        spark,
        dim512_dir,
        "q98@dim512",
        fn,
        _kmeans_sql(dim=DIM, stride=STRIDE),
    )
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize(
    "qname", ["q93_embedding_dim_stats", "q114_embedding_outliers"]
)
def test_long_form_family_oracle_exact_dim512(spark, dim512_dir, qname):
    from binwatch_spark.plans.registry import REGISTRY

    spec = REGISTRY[qname]
    problems = compare(spark, dim512_dir, qname, spec.fn, spec.oracle)
    assert not problems, "\n".join(problems)


def test_q148_wide_rung_runs_at_dim2048(spark, tmp_path):
    """Compile-and-run proof one decade further: at dim 2048 the unrolled
    spelling would build ~4M expression nodes (it hangs analysis); the
    long-form round is one posexplode + one aggregate and finishes in
    seconds."""
    d = tmp_path / "dim2048"
    d.mkdir()
    for name in TABLE_NAMES:
        if name == "embeddings":
            continue
        os.symlink(f"{SF_SMALL}/{name}.parquet", d / f"{name}.parquet")
    _write_embeddings(str(d / "embeddings.parquet"), 2048, 40, ())
    emb = (
        load(spark, str(d), "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("embedding").alias("x"))
    )
    rows = power_iteration_rounds(emb, "x", 1, dim=2048)
    assert len(rows) == 1
    (_, nrm, c0, c1, c2, c3) = rows[0]
    assert math.isfinite(nrm) and nrm > 0
    for c in (c0, c1, c2, c3):
        assert math.isfinite(c) and abs(c) <= 1.0
