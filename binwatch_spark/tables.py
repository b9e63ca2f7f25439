"""Fixture-table loader.

The driver-generated parquet tables (TESTDATA.md) are the engine's only test
inputs. ``load`` returns a lazy ``spark.read.parquet`` scan — no data caching —
so Catalyst keeps full pushdown freedom: a downstream ``select``/``filter``
lands in the scan node as ``ReadSchema``/``PushedFilters``. What IS cached is
metadata: the inferred schema and the immutable DataFrame handle itself, both
keyed by (path, mtime) so regenerated fixtures invalidate (see _DF_CACHE).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Inferred parquet schemas keyed by (absolute path, mtime): schema inference
# costs ~90 ms of driver time PER spark.read.parquet call (file listing +
# footer read + merge), and a full bench sweep calls load() ~700 times —
# tens of seconds of pure metadata re-derivation for files that never
# change. Caching the STRUCTURE (never data: the returned DataFrame is the
# same lazy scan, every action re-reads the parquet) and passing it via
# .schema() skips the footer pass. The mtime in the key invalidates the
# entry if a fixture dir is regenerated mid-process.
_SCHEMA_CACHE: dict = {}

# Lazy-plan HANDLE cache keyed by (applicationId, session, absolute path,
# mtime):
# even with the schema supplied, building the reader + analyzing the scan
# costs ~15-20 ms of driver py4j per load() call (~700 calls/sweep). A
# DataFrame is an immutable lazy plan — handing the SAME handle back is
# pure metadata reuse; every action against it still plans from the logical
# scan and re-reads the parquet (the noop-sink bench and the oracle both
# recompute from disk on every invocation — verified by the mtime key: a
# regenerated fixture invalidates the entry). applicationId scopes entries
# to the owning SparkContext so a stop()/restart never resurrects a handle
# bound to a dead JVM session; id(spark) scopes them to the session, so a
# ``spark.newSession()`` caller gets a frame bound to its own confs (the id
# cannot be reused while the entry lives: the cached DataFrame holds a
# reference to its session).
_DF_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (os.path.abspath(path), os.path.getmtime(path))
    except OSError:
        key = None
    if key is not None:
        df_key = (spark.sparkContext.applicationId, id(spark), *key)
        cached = _DF_CACHE.get(df_key)
        if cached is not None:
            return cached
    # events.ts is parquet TIMESTAMP(NANOS,false), which Spark rejects unless
    # nanosAsLong is set. Callers (the driver harness in particular) pass in
    # their OWN SparkSession, so this must be set here at runtime — relying on
    # session.get_spark() having configured it is not enough. The conf is
    # runtime-settable and idempotent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key is not None:
            _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Fixture generations differ: events.ts has shipped both as parquet
        # TIMESTAMP(NANOS,false) — which Spark only reads with nanosAsLong,
        # as a nanos bigint — and as plain TIMESTAMP(MICROS,false), which
        # reads natively as timestamp_ntz. Normalize the nanos-long form to
        # timestamp_ntz at microsecond precision (lossless for this data,
        # identical to DuckDB's reading); the micros form needs nothing.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    if key is not None:
        _DF_CACHE[df_key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a session temp view so callers can
    use plain ``spark.sql(...)`` against the same data the DataFrame API
    sees (same nanos→timestamp normalization, same pushdown freedom —
    temp views are lazy plans, not materializations)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver k-row result frame through the ARROW conversion path.

    ``createDataFrame(list_of_tuples, ...)`` keeps a pickled Python RDD in
    the plan, so EVERY downstream action (and iterative queries join these
    frames repeatedly) forks Python workers just to re-unpickle a handful
    of rows — the mechanism measured at ~5-7 s per frame under load in
    _sentinel_frames. Routing the same rows through a pandas DataFrame
    makes createDataFrame take the Arrow path (session conf
    ``spark.sql.execution.arrow.pyspark.enabled``): the bytes cross to the
    JVM once at build time and execution is pure JVM. Identical rows,
    identical schema — only the transport changes. Falls back to the plain
    path for nested schemas (none of the k-row result frames need one)."""
    if "<" in schema:  # nested types: keep the general path
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    # split on commas outside parentheses: "amount decimal(10,2)" is one field
    names = [c.strip().split()[0] for c in re.split(r",(?![^(]*\))", schema)]
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a DataFrame up to the session's default parallelism when
    its scan would otherwise under-parallelize downstream compute stages.

    The test fixtures are single-row-group parquet files, so a scan is ONE
    task and every map-side kernel (Arrow UDF hashing, decimal partial
    aggregation) runs on one core until the first shuffle. Compute-heavy
    operators call spread() on their input to buy full parallelism for the
    cost of shuffling the (small) input once. No-op when the input already
    has enough partitions — at cluster scale inputs arrive with hundreds of
    splits and this never fires.

    Probe order (ADVICE r03: file count alone is NOT a lower bound on scan
    partitions — Spark bin-packs small files via maxPartitionBytes /
    openCostInBytes, so hundreds of tiny files can still scan as a handful
    of tasks):

    1. ``df.inputFiles()`` — a FileIndex listing, no job. If the file count
       is BELOW parallelism the scan cannot reach it and we repartition
       without ever paying a DataFrame→RDD plan conversion (the common
       fixture case: single-file tables).
    2. Only when the file count looks sufficient, confirm with
       ``df.rdd.getNumPartitions()`` (one plan-preparation pass, no job) —
       the authoritative post-bin-packing partition count. This is the rare
       at-scale path and runs once per operator build."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        enough_files = len(df.inputFiles()) >= target
    except Exception:  # exotic plans without a file index: just repartition
        enough_files = False
    if enough_files and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
