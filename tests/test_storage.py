"""Storage-layout and skew operators: the properties that matter at 100 TB
must be visible in the physical plan — a bucketed-bucketed join plans with
ZERO exchanges, a filter on a partition column prunes at planning time, and
a salted join both matches the plain join's result and actually spreads the
hot key across salt values."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from binwatch_spark.operators.skew import salted_join, with_salt
from binwatch_spark.operators.storage import write_bucketed, write_partitioned
from binwatch_spark.tables import load
from tests.conftest import SF_SMALL


def _plan(df, mode="simple") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture
def warehouse(tmp_path):
    return str(tmp_path)


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    orders = load(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    # At fixture scale Catalyst would broadcast (bucketing targets
    # fact-fact joins where neither side broadcasts); force the SMJ path.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(orders, "t_orders_b", "o_orderkey", 8, path=f"{warehouse}/o")
        write_bucketed(lineitem, "t_lineitem_b", "o_orderkey", 8, path=f"{warehouse}/l")
        # the work happened at write time: a plain join of the two
        # same-bucketed tables reads bucket i of both in one task
        joined = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it's not just a pretty plan: result matches the shuffle join
        plain = orders.join(lineitem, "o_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_partition_pruning(spark, warehouse):
    events = load(spark, SF_SMALL, "events")
    path = f"{warehouse}/events_by_type"
    write_partitioned(events, path, ["event_type"])
    one_type = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = _plan(one_type, mode="formatted")
    # the predicate lands in PartitionFilters (directory pruning), not in
    # PushedFilters (row-group filtering after opening files)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf_line
    expected = events.filter(F.col("event_type") == "click").count()
    assert one_type.count() == expected


def test_salted_join_matches_plain_join(spark):
    orders = load(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load(spark, SF_SMALL, "customer").select("c_custkey", "c_name")
    plain = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "c_name")
    salted = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        customer,
        on="c_custkey",
        entropy_col="o_orderkey",
        salts=8,
    ).select("o_orderkey", "c_name")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salt_spreads_hot_key(spark):
    # one monster key: every row shares it; salting must spread rows over
    # all salt values roughly evenly (the whole point of the operator)
    n, salts = 4096, 8
    df = spark.range(n).select(
        F.lit("hot").alias("k"), F.col("id").alias("row_id")
    )
    per_salt = (
        with_salt(df, "row_id", salts).groupBy("_salt").count().collect()
    )
    assert len(per_salt) == salts
    for r in per_salt:
        assert r["count"] > (n / salts) * 0.5, per_salt


def test_salted_join_key_includes_salt(spark):
    orders = load(spark, SF_SMALL, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, SF_SMALL, "customer").select("c_custkey")
    j = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        customer,
        on="c_custkey",
        entropy_col="o_orderkey",
        salts=8,
    )
    assert "_salt" in _plan(j)


def test_salted_join_rejects_right_and_full(spark):
    # ADVICE r1: with right/full joins the replicated build side's unmatched
    # rows would surface once per salt — the helper must refuse.
    a = spark.range(10).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(a, b, on="k", entropy_col="k", how=how)


def test_compact_small_files(spark, tmp_path):
    from binwatch_spark.operators.storage import compact
    from binwatch_spark.tables import load
    from tests.conftest import SF_SMALL

    src = f"{tmp_path}/fragmented"
    out = f"{tmp_path}/compacted"
    docs = load(spark, SF_SMALL, "documents")
    # fragment: 64 files for a tiny table — the streaming-sink pathology
    docs.repartition(64).write.parquet(src)
    import glob

    n_in = len(glob.glob(f"{src}/part-*"))
    assert n_in == 64

    total = sum(
        __import__("os").path.getsize(f) for f in glob.glob(f"{src}/part-*")
    )
    # target a quarter of the data per file → expect ~4 output files
    target = max(1, total // 4)
    n_out = compact(spark, src, out, target_file_bytes=target)
    files_out = glob.glob(f"{out}/part-*")
    assert len(files_out) == n_out
    assert n_out <= 6  # ceil(total/target) with parquet overhead slack
    # nothing lost or duplicated
    assert spark.read.parquet(out).count() == docs.count()


def test_compact_uri_escapable_dir(spark, tmp_path):
    """ADVICE r04 follow-through: inputFiles() URI-encodes the DIRECTORY
    component too (space -> %20) — compact must decode it before listStatus
    or the sizes come back empty and everything rewrites into one file."""
    from binwatch_spark.operators.storage import compact
    from binwatch_spark.tables import load
    from tests.conftest import SF_SMALL

    src = f"{tmp_path}/frag mented dir"
    out = f"{tmp_path}/compacted"
    docs = load(spark, SF_SMALL, "documents")
    docs.repartition(16).write.parquet(src)
    import glob

    total = sum(
        __import__("os").path.getsize(f) for f in glob.glob(f"{src}/part-*")
    )
    target = max(1, total // 4)
    n_out = compact(spark, src, out, target_file_bytes=target)
    # sizes were actually observed (not zero): more than one output file
    assert n_out > 1
    assert spark.read.parquet(out).count() == docs.count()


def test_dedup_index_build_and_incremental_probe(spark, tmp_path):
    """The materialized dedup index end-to-end: build digest + band tables
    (bucketed) over the corpus split, then dedup the incoming split
    against the stored INDEX tables — verdicts must match q107, which
    runs the same probe on in-plan index frames, exactly; the stored band
    table holds only the (doc_id, band_idx, band_key) rows the probe
    reads."""
    from pyspark.sql import functions as F

    from binwatch_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_with_index,
    )
    from binwatch_spark.plans.dedup_queries import (
        JACCARD_THRESHOLD,
        q107_incremental_dedup,
    )
    from binwatch_spark.tables import load
    from tests.conftest import SF_SMALL

    spark.sql("DROP TABLE IF EXISTS t_didx_digest")
    spark.sql("DROP TABLE IF EXISTS t_didx_bands")
    docs = load(spark, SF_SMALL, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    dig_t, bands_t = build_dedup_index(
        corpus, "text", "doc_id", prefix="t_didx", num_buckets=4
    )
    assert spark.table(dig_t).count() > 0
    assert spark.table(bands_t).count() == corpus.count() * 16  # N_BANDS rows
    assert spark.table(bands_t).columns == ["doc_id", "band_idx", "band_key"]

    got = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in incremental_dedup_with_index(
            incoming, corpus, spark.table(dig_t), spark.table(bands_t),
            "text", "doc_id", JACCARD_THRESHOLD,
        ).collect()
    }
    want = {
        r["doc_id"]: (r["verdict"], r["match_doc_id"])
        for r in q107_incremental_dedup(spark, SF_SMALL).collect()
    }
    assert got == want
    assert any(v[0] != "keep" for v in got.values())  # fixture has dups
    spark.sql("DROP TABLE IF EXISTS t_didx_digest")
    spark.sql("DROP TABLE IF EXISTS t_didx_bands")


def test_dedup_index_build_jobs_keep_callers_job_group(spark):
    """build_dedup_index submits its two bucketed writes from worker
    threads; their jobs must still carry the caller's job group, which is
    how per-query task and CPU attribution finds them. Every job started
    between two marker jobs is checked, so a write that drops the group
    shows up as an id outside it."""
    from binwatch_spark.operators.dedup import build_dedup_index
    from binwatch_spark.tables import load
    from tests.conftest import SF_SMALL

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        return max(tracker.getJobIdsForGroup(group))

    spark.sql("DROP TABLE IF EXISTS t_jg_digest")
    spark.sql("DROP TABLE IF EXISTS t_jg_bands")
    docs = load(spark, SF_SMALL, "documents")
    try:
        first = marker("t-jg-before")
        sc.setJobGroup("t-jg-build", "build_dedup_index")
        build_dedup_index(docs, "text", "doc_id", prefix="t_jg", num_buckets=4)
        last = marker("t-jg-after")
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
        spark.sql("DROP TABLE IF EXISTS t_jg_digest")
        spark.sql("DROP TABLE IF EXISTS t_jg_bands")
    started = set(range(first + 1, last))
    in_group = set(tracker.getJobIdsForGroup("t-jg-build"))
    assert started, "build_dedup_index started no jobs"
    assert started <= in_group, sorted(started - in_group)
