"""The loader's schema cache must be metadata-only: same schema and same
data as an uncached read, and the cache entry must invalidate when the
file changes on disk (keyed by mtime) so a regenerated fixture is never
read with a stale structure."""

from __future__ import annotations

import os
import shutil

from binwatch_spark import tables
from binwatch_spark.tables import load
from tests.conftest import SF_SMALL


def test_cached_load_matches_uncached_read(spark):
    df = load(spark, SF_SMALL, "documents")
    raw = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert df.schema == raw.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, raw.collect()))
    # second call hits the cache and still returns a live scan of the file
    df2 = load(spark, SF_SMALL, "documents")
    assert df2.schema == df.schema
    assert df2.count() == df.count()


def test_events_ts_normalization_survives_cache(spark):
    # events.ts must come back timestamp_ntz whether the schema came from
    # inference (first call) or the cache (second call)
    for _ in range(2):
        dt = dict(load(spark, SF_SMALL, "events").dtypes)["ts"]
        assert dt == "timestamp_ntz"


def test_schema_cache_invalidates_on_mtime_change(spark, tmp_path):
    d = tmp_path / "sf_fake"
    d.mkdir()
    src = f"{SF_SMALL}/region.parquet"
    dst = str(d / "region.parquet")
    shutil.copy(src, dst)
    n_before = load(spark, str(d), "region").count()
    key_count = len(tables._SCHEMA_CACHE)
    assert key_count > 0
    # rewrite the file with different content (extra column) and a bumped
    # mtime: the loader must re-infer, not serve the stale schema
    from pyspark.sql import functions as F

    wider = spark.read.parquet(src).withColumn("extra", F.lit(1))
    tmp_out = str(d / "_rewrite")
    wider.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    part = next(
        f for f in os.listdir(tmp_out) if f.endswith(".parquet")
    )
    os.replace(os.path.join(tmp_out, part), dst)
    os.utime(dst, None)
    df2 = load(spark, str(d), "region")
    assert "extra" in df2.columns
    assert df2.count() == n_before


def test_df_handle_reused_within_app(spark):
    # r14: load() returns the SAME immutable lazy-plan handle for an
    # unchanged file within one application — pure metadata reuse (the
    # mtime-invalidation test above proves a rewritten file gets a fresh
    # plan, and the matches-uncached test proves actions re-read the file)
    a = load(spark, SF_SMALL, "nation")
    b = load(spark, SF_SMALL, "nation")
    assert a is b


def test_df_handle_scoped_to_session(spark):
    # a newSession() caller gets a frame bound to its own session (and its
    # confs), not the handle cached for the first session
    s2 = spark.newSession()
    assert load(s2, SF_SMALL, "nation").sparkSession is s2
    assert load(spark, SF_SMALL, "nation").sparkSession is spark


def test_local_frame_parenthesised_types(spark):
    # the comma inside decimal(10,2) does not split the field list
    from decimal import Decimal

    df = tables.local_frame(
        spark, [(1, Decimal("12.34"))], "id bigint, amount decimal(10,2)"
    )
    assert df.dtypes == [("id", "bigint"), ("amount", "decimal(10,2)")]
    assert df.collect()[0]["amount"] == Decimal("12.34")
