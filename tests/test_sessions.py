"""Streaming sessionization (applyInPandasWithState) vs the batch shape:
same gap semantics, tested on a replayed event stream."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from binwatch_spark.operators.sessions import sessionize_batch, sessionize_stream

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

# user 1: two sessions (45-minute gap); user 2: one session
EVENTS = [
    (1, T0),
    (1, T0 + dt.timedelta(minutes=10)),
    (1, T0 + dt.timedelta(minutes=55)),  # gap 45m > 30m → new session
    (1, T0 + dt.timedelta(minutes=60)),
    (2, T0 + dt.timedelta(minutes=5)),
]

SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("ts", TimestampType())]
)

EXPECTED = {
    (1, 1): (T0, T0 + dt.timedelta(minutes=10), 2),
    (1, 2): (T0 + dt.timedelta(minutes=55), T0 + dt.timedelta(minutes=60), 2),
    (2, 1): (T0 + dt.timedelta(minutes=5), T0 + dt.timedelta(minutes=5), 1),
}


def test_batch_sessionize(spark):
    df = spark.createDataFrame(EVENTS, SCHEMA)
    got = {
        (r["user_id"], r["session_id"]): (
            r["session_start"],
            r["session_end"],
            r["n_events"],
        )
        for r in sessionize_batch(df, "user_id", "ts").collect()
    }
    assert got == EXPECTED


def test_stream_sessionize(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    with open(src / "events.jsonl", "w", encoding="utf-8") as fh:
        for user, ts in EVENTS:
            fh.write(json.dumps({"user_id": user, "ts": ts.isoformat()}) + "\n")
        # a late sentinel event pushes the watermark past every session's
        # timeout so all sessions close within the run
        fh.write(
            json.dumps(
                {"user_id": 99, "ts": (T0 + dt.timedelta(hours=6)).isoformat()}
            )
            + "\n"
        )

    stream = (
        spark.readStream.schema(SCHEMA)
        .json(str(src))
        .withWatermark("ts", "0 seconds")
    )
    sessions = sessionize_stream(stream, gap_minutes=30)

    def run_once():
        query = (
            sessions.writeStream.format("parquet")
            .option("path", str(tmp_path / "sink"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)

    run_once()
    # a second run with a later event advances the watermark so the
    # timed-out per-user state flushes (checkpoint-recovered)
    with open(src / "late.jsonl", "w", encoding="utf-8") as fh:
        fh.write(
            json.dumps(
                {"user_id": 99, "ts": (T0 + dt.timedelta(hours=12)).isoformat()}
            )
            + "\n"
        )
    run_once()

    rows = spark.read.parquet(str(tmp_path / "sink")).collect()
    got = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in rows
        if r["user_id"] != 99
    }
    expected_stream = {
        (u, start): (end, n) for (u, _), (start, end, n) in EXPECTED.items()
    }
    assert got == expected_stream


def test_stream_session_stays_open_when_watermark_equals_expiry(spark, tmp_path):
    """A session expires only once the watermark is strictly past
    last + gap, as Spark's per-key EventTimeTimeout fires and as the batch
    oracle splits on gap > timeout. All users share one state bucket, so
    the bucket sweep, not a per-key timeout, decides user 1's close."""
    import time

    m = lambda k: T0 + dt.timedelta(minutes=k)  # noqa: E731
    files = [
        # user 2's event sits at exactly user 1's last + gap, so the next
        # batch runs with the watermark equal to user 1's expiry
        [(1, m(0)), (2, m(30)), (3, m(0))],
        # user 3's event at exactly its last + gap continues its session
        [(3, m(30))],
        [(-1, m(600))],  # sentinels move the watermark past every session
        [(-2, m(1200))],
    ]
    src = tmp_path / "events"
    src.mkdir()
    base = time.time()
    for k, events in enumerate(files):
        path = src / f"f{k}.jsonl"
        with open(path, "w", encoding="utf-8") as fh:
            for user, ts in events:
                fh.write(json.dumps({"user_id": user, "ts": ts.isoformat()}) + "\n")
        os.utime(path, (base + k, base + k))  # the file source orders by mtime

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts", "0 seconds")
    )
    emitted: dict = {}

    def collect(df, batch_id):
        for r in df.collect():
            if r["user_id"] > 0:
                emitted[(r["user_id"], r["session_start"])] = (
                    r["session_end"], r["n_events"], batch_id
                )

    query = (
        sessionize_stream(stream, gap_minutes=30, state_buckets=1)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    # batch 1 ran with the watermark at exactly user 1's expiry: still open
    assert emitted[(1, m(0))][2] > 1
    real = [(u, ts) for events in files for u, ts in events if u > 0]
    oracle = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in sessionize_batch(
            spark.createDataFrame(real, SCHEMA), "user_id", "ts"
        ).collect()
    }
    assert {k: v[:2] for k, v in emitted.items()} == oracle
    assert oracle[(3, m(0))] == (m(30), 2)
