"""Sustained stateful-streaming soak (VERDICT r12 #2).

``BENCH_stream.json``'s throughput record drains a FIXED backlog in
seconds; this tool measures the stateful patterns under minutes-long
CONTINUOUS ingest — the reference's actual operating shape — and
records what the burst drain cannot show:

- steady ingest vs processed rate per micro-batch (does the query keep
  up, or does trigger latency creep?),
- state-store size over time (rows + bytes from
  ``StreamingQueryProgress.stateOperators``) against the watermark that
  is supposed to bound it,
- watermark lag behind the newest fed event time,
- recovery-time-after-kill: the query is hard-stopped mid-soak and
  restarted from its checkpoint; recovery = start() → first committed
  batch.

Patterns (the round-12 stateful trio):
- ``sessions``  — q99's applyInPandasWithState sessionizer (with the
  kill/restart in the middle),
- ``scd2``      — q141's per-key open-version state (state grows with
  distinct keys BY DESIGN; the soak shows the slope),
- ``interval``  — q146's watermark-evicted stream-stream inner join.

The feeder advances EVENT time 60× faster than wall time (1 wall s =
1 event min), so a 4-minute soak spans ~4 h of event time: sessions
close, watermarks advance, join state evicts — the steady state, not a
warm-up transient. Correctness at the end: the streamed output is
checked against a batch recomputation over everything fed (closed
sessions equal the batch sessionization restricted to sessions the
final watermark could have flushed; scd2 closed versions equal the
batch history; joined pairs equal the batch range join).

Usage: python tools/bench_stream_sustained.py [--minutes 4]
         [--rows-per-sec 20000] [--pattern sessions|scd2|interval|all]
Output: a ``sustained`` section merged into /tmp/BENCH_stream.json (or
$BENCH_STREAM_OUT). The repo's ``BENCH_stream.json`` is a historical
record and is not rewritten by default.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CLK = os.sysconf("SC_CLK_TCK")
EVENT_SPEEDUP = 60  # 1 wall second = 1 event-time minute
SESSION_GAP_MIN = 30  # matches plans.pipeline_queries SESSION_GAP_MINUTES
WATERMARK = "10 minutes"  # event-time delay tolerance
BASE_TS = dt.datetime(2026, 1, 1, 0, 0, 0)


def steal_seconds() -> float:
    f = open("/proc/stat").readline().split()[1:]
    return (int(f[7]) / CLK) if len(f) > 7 else 0.0


class Feeder(threading.Thread):
    """Writes one JSONL file of events per wall second into ``path``.

    Users rotate through a pool; each user emits a burst then goes quiet
    long enough (in event time) for its session to close, so sessions
    continuously open AND close. Event types alternate click/purchase
    for the interval pattern."""

    def __init__(self, path: str, rows_per_sec: int, seconds: int):
        super().__init__(daemon=True)
        self.path = path
        self.rows_per_sec = rows_per_sec
        self.seconds = seconds
        self.max_event_ts: dt.datetime = BASE_TS
        self.total_rows = 0
        self.stop_flag = threading.Event()

    def run(self):
        seq = 0
        for sec in range(self.seconds):
            if self.stop_flag.is_set():
                return
            t0 = time.monotonic()
            # event time for this wall second spans one event minute
            base = BASE_TS + dt.timedelta(seconds=sec * EVENT_SPEEDUP)
            tmp = os.path.join(self.path, f".feed-{sec:06d}.jsonl.tmp")
            out = os.path.join(self.path, f"feed-{sec:06d}.jsonl")
            with open(tmp, "w") as fh:
                for i in range(self.rows_per_sec):
                    seq += 1
                    # burst structure: a user is "active" during 2 of
                    # every 64 event-minutes → inter-burst gap ~62 min
                    # > SESSION_GAP → prior session closes
                    minute = sec % 64
                    user = (seq % 4000) + 4000 * (minute // 2)
                    ts = base + dt.timedelta(
                        seconds=(i * EVENT_SPEEDUP) / self.rows_per_sec
                    )
                    fh.write(
                        json.dumps(
                            {
                                "user_id": user,
                                "ts": ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
                                "event_id": seq,
                                "event_type": (
                                    "click" if seq % 3 else "purchase"
                                ),
                            }
                        )
                        + "\n"
                    )
                    if ts > self.max_event_ts:
                        self.max_event_ts = ts
            os.rename(tmp, out)  # atomic publish for the file source
            self.total_rows += self.rows_per_sec
            time.sleep(max(0.0, 1.0 - (time.monotonic() - t0)))


def _event_stream(spark, feed_dir: str):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .json(feed_dir)
    )


def _build(pattern: str, spark, feed_dir: str):
    from pyspark.sql import functions as F

    ev = _event_stream(spark, feed_dir)
    if pattern == "sessions":
        from binwatch_spark.operators.sessions import sessionize_stream

        return sessionize_stream(
            ev.select("user_id", "ts", "event_id").withWatermark(
                "ts", WATERMARK
            ),
            gap_minutes=SESSION_GAP_MIN,
        )
    if pattern == "scd2":
        from binwatch_spark.streaming.analytics import scd2_stream

        return scd2_stream(
            ev.select("user_id", "event_type", "ts", "event_id")
        )
    if pattern == "interval":
        from binwatch_spark.streaming.analytics import interval_join

        clicks = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("l_event_id"),
            "user_id",
            F.col("ts").alias("l_ts"),
        )
        buys = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("r_event_id"),
            "user_id",
            F.col("ts").alias("r_ts"),
        )
        return interval_join(
            clicks,
            buys,
            "user_id",
            "l_ts",
            "r_ts",
            lookback="1 hour",
            watermark=WATERMARK,
        )
    raise SystemExit(f"unknown pattern {pattern}")


def _start(spark, pattern: str, feed_dir: str, sink: str, ckpt: str):
    df = _build(pattern, spark, feed_dir)
    return (
        df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="2 seconds")
        .queryName(f"sustained-{pattern}")
        .start()
    )


def _sample(q, feeder: Feeder, samples: dict) -> None:
    p = q.lastProgress
    if not p or p["batchId"] in samples:
        return
    st = (p.get("stateOperators") or [{}])[0]
    wm = (p.get("eventTime") or {}).get("watermark")
    lag = None
    if wm:
        wm_ts = dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
        lag = round((feeder.max_event_ts - wm_ts).total_seconds(), 1)
    samples[p["batchId"]] = {
        "wall": round(time.monotonic(), 1),
        "input_rows": p.get("numInputRows"),
        "processed_rps": round(p.get("processedRowsPerSecond") or 0, 1),
        "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
        "state_rows": st.get("numRowsTotal"),
        "state_bytes": st.get("memoryUsedBytes"),
        "watermark_lag_event_s": lag,
    }


def run_pattern(
    spark, pattern: str, minutes: float, rows_per_sec: int, kill: bool
) -> dict:
    root = tempfile.mkdtemp(prefix=f"sustain-{pattern}-")
    feed = os.path.join(root, "feed")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(feed)
    seconds = int(minutes * 60)
    feeder = Feeder(feed, rows_per_sec, seconds)
    samples: dict = {}
    recovery_sec = None
    try:
        feeder.start()
        q = _start(spark, pattern, feed, sink, ckpt)
        t0 = time.monotonic()
        kill_at = seconds / 2
        killed = False
        while time.monotonic() - t0 < seconds:
            _sample(q, feeder, samples)
            if kill and not killed and time.monotonic() - t0 >= kill_at:
                # hard mid-soak stop + restart from the same checkpoint
                q.stop()
                killed = True
                t_restart = time.monotonic()
                q = _start(spark, pattern, feed, sink, ckpt)
                while not q.lastProgress:
                    time.sleep(0.2)
                    if q.exception():
                        raise q.exception()
                recovery_sec = round(time.monotonic() - t_restart, 1)
            time.sleep(1.0)
        feeder.join()
        # drain what the feeder staged, then stop
        t_drain = time.monotonic()
        while time.monotonic() - t_drain < 30:
            _sample(q, feeder, samples)
            p = q.lastProgress
            if p and p["numInputRows"] == 0:
                break
            time.sleep(1.0)
        _sample(q, feeder, samples)
        q.stop()

        checks = _validate(spark, pattern, feed, sink, samples)
        ordered = [samples[b] for b in sorted(samples)]
        mid = [
            s["processed_rps"]
            for s in ordered[len(ordered) // 3 :]
            if s["processed_rps"]
        ]
        return {
            "pattern": pattern,
            "minutes": minutes,
            "fed_rows": feeder.total_rows,
            "fed_rows_per_sec": rows_per_sec,
            "event_speedup": EVENT_SPEEDUP,
            "micro_batches": len(samples),
            "steady_processed_rps_median": (
                round(sorted(mid)[len(mid) // 2], 1) if mid else None
            ),
            "state_rows_over_time": [
                s["state_rows"] for s in ordered if s["state_rows"] is not None
            ],
            "state_bytes_max": max(
                (s["state_bytes"] or 0) for s in ordered
            ),
            "watermark_lag_event_s_last": next(
                (
                    s["watermark_lag_event_s"]
                    for s in reversed(ordered)
                    if s["watermark_lag_event_s"] is not None
                ),
                None,
            ),
            "trigger_ms_max": max((s["trigger_ms"] or 0) for s in ordered),
            "recovery_after_kill_sec": recovery_sec,
            "checks": checks,
            "samples_tail": ordered[-5:],
        }
    finally:
        feeder.stop_flag.set()
        for st in spark.streams.active:
            if st.name == f"sustained-{pattern}":
                st.stop()
        shutil.rmtree(root, ignore_errors=True)


def _validate(spark, pattern: str, feed: str, sink: str, samples) -> dict:
    """Streamed output vs a batch recomputation over everything fed."""
    from pyspark.sql import functions as F

    try:
        out = spark.read.parquet(sink)
    except Exception:
        return {"output_rows": 0, "correct": False, "note": "empty sink"}
    fed = spark.read.json(feed).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    n_out = out.count()
    if pattern == "sessions":
        # batch recompute; a streamed session exists iff the final
        # watermark passed last_event + gap, so streamed ⊆ batch and
        # every streamed row must match a batch session EXACTLY
        from binwatch_spark.operators.sessions import sessionize_batch

        batch = sessionize_batch(
            fed,
            "user_id",
            "ts",
            gap_minutes=SESSION_GAP_MIN,
            tiebreak=["event_id"],
        ).select("user_id", "session_start", "session_end", "n_events")
        streamed = out.select(
            "user_id", "session_start", "session_end", "n_events"
        )
        mismatched = streamed.exceptAll(batch).count()
        dup = n_out - streamed.distinct().count()
        return {
            "output_rows": n_out,
            "batch_sessions_total": batch.count(),
            "streamed_not_in_batch": mismatched,
            "duplicates": dup,
            "correct": mismatched == 0 and dup == 0 and n_out > 0,
        }
    if pattern == "scd2":
        # batch SCD2 recompute: collapse consecutive same-type events per
        # user (time order, event_id tiebreak), version k's valid_to =
        # version k+1's valid_from; open (last) versions are not history
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        starts = fed.withColumn("_prev", F.lag("event_type").over(w)).filter(
            F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type"))
        )
        w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        batch = (
            starts.withColumn("valid_to", F.lead("ts").over(w2))
            .filter(F.col("valid_to").isNotNull())
            .select(
                "user_id",
                "event_type",
                F.col("ts").alias("valid_from"),
                "valid_to",
            )
        )
        streamed = out.select(
            "user_id", "event_type", "valid_from", "valid_to"
        )
        mismatched = streamed.exceptAll(batch).count()
        return {
            "output_rows": n_out,
            "batch_closed_versions": batch.count(),
            "streamed_not_in_batch": mismatched,
            "correct": mismatched == 0 and n_out > 0,
        }
    # interval: inner join emits matches immediately → streamed ⊆ batch
    clicks = fed.filter(F.col("event_type") == "click")
    buys = fed.filter(F.col("event_type") == "purchase")
    batch = clicks.alias("a").join(
        buys.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") <= F.col("a.ts"))
        & (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("a.event_id").alias("l_event_id"),
        F.col("b.event_id").alias("r_event_id"),
    )
    streamed = out.select("l_event_id", "r_event_id")
    mismatched = streamed.exceptAll(batch).count()
    dup = n_out - streamed.distinct().count()
    return {
        "output_rows": n_out,
        "batch_pairs_total": batch.count(),
        "streamed_not_in_batch": mismatched,
        "duplicates": dup,
        "correct": mismatched == 0 and dup == 0 and n_out > 0,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--minutes", type=float, default=4.0)
    ap.add_argument("--rows-per-sec", type=int, default=20000)
    ap.add_argument(
        "--pattern",
        default="all",
        choices=["sessions", "scd2", "interval", "all"],
    )
    ap.add_argument(
        "--cpus",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    args = ap.parse_args()

    from binwatch_spark.session import get_spark

    spark = get_spark(
        "bench-stream-sustained", master=f"local[{args.cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")

    plan = (
        [("sessions", args.minutes, True),
         ("scd2", args.minutes / 2, False),
         ("interval", args.minutes / 2, False)]
        if args.pattern == "all"
        else [(args.pattern, args.minutes, args.pattern == "sessions")]
    )
    steal0 = steal_seconds()
    results = {}
    for pattern, minutes, kill in plan:
        print(f"--- {pattern}: {minutes} min sustained ---", flush=True)
        results[pattern] = run_pattern(
            spark, pattern, minutes, args.rows_per_sec, kill
        )
        print(
            json.dumps(
                {
                    k: v
                    for k, v in results[pattern].items()
                    if k not in ("samples_tail", "state_rows_over_time")
                }
            ),
            flush=True,
        )
    sustained = {
        "rows_per_sec_fed": args.rows_per_sec,
        "event_time_speedup": EVENT_SPEEDUP,
        "steal_cpu_total": round(steal_seconds() - steal0, 1),
        "patterns": results,
    }
    out = os.environ.get("BENCH_STREAM_OUT", "/tmp/BENCH_stream.json")
    try:
        with open(out) as f:
            record = json.load(f)
    except FileNotFoundError:
        record = {}
    record["sustained"] = sustained
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(f"merged sustained section into {out}")


if __name__ == "__main__":
    main()
