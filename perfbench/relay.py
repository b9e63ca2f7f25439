"""The relay workload: envelope files in, webhook deliveries out, in two
phases on one session and one webhook sink.

Ordered feed: an open-loop feed at a fixed rate into ``run_pipeline``
with ``senderWorkers: 1`` and one templated webhook route, as the
reference's ordered single-sender mode. Delivery latency is measured per
event, from the time the generator says it was due to the time the sink
received it, over a window that opens once the relay has served the feed
for ``ORDERED_LEAD_S``.

Backlog drain: staged backlogs drained with ``availableNow``,
``senderWorkers: nproc``, two routes (templated and default JSON) and FNV
key sharding (count 2, index 0), as a relay catching up after an outage.
Its rate is deliveries per second of drain.

Both phases check every delivery against the inputs: each allowlisted
event that the shard keeps arrives exactly once per route, nothing else
arrives, and with one sender the arrival order is the binlog order.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import signal
import statistics
import time
import urllib.request

from perfbench import gen
from perfbench.host import Window, percentile, process_cpu_s, tail

# Offered rate of the ordered feed, events/s: about a sixth of the rate
# the relay sustains in ordered mode on a quiet 4-core host (see README).
# Each trigger's work grows with the events it carries, so a host that
# loses CPU to its neighbours slows the relay more at a higher rate.
ORDERED_RATE = 80.0
# The feed runs this long before the latency window opens. A fresh JVM
# spends most of a core on just-in-time compilation during the relay's
# first minute, and the compiler threads compete with the triggers; a
# long-running relay pays that once.
ORDERED_LEAD_S = 12.0
# The window (--seconds long) is cut into slices of SLICE_S by due time,
# and latency is taken over the half of the slices with the lower median
# latency: a neighbour's burst of CPU use on a shared host stalls the
# triggers that run during it, and the slices it hits drop out.
SLICE_S = 2.0
WARMUP_EVENTS = 200
FEED_FIRST_ID = 1_000_000
# A generator that publishes a file later than this after its tick adds the
# delay to every latency in the file; such a run labels itself contended.
GEN_LATE_MS = 50.0
# The drain runs in rounds after a warm-up round: each stages
# DRAIN_ROUND_EVENTS events and restarts the relay to drain them. 20 files
# of 100 events fill exactly one micro-batch at the default pool size
# (maxFilesPerTrigger 20). The rate is the median of the better half of
# the rounds, for the same reason as the latency slices.
DRAIN_ROUNDS = 3
DRAIN_ROUND_EVENTS = 2000
DRAIN_EVENTS_PER_FILE = 100
DELIVERY_TIMEOUT_S = 60.0

TEMPLATE = (
    '{"route":"t","id":{{ (index .Data.Rows 0).id }},'
    '"due":{{ (index .Data.Rows 0).due }},"item":{{ .ItemID }},'
    '"op":"{{ .Data.Operation }}","table":"{{ .Data.Table }}"}'
)
KEY_TEMPLATE = "{{ (index .Data.Rows 0).id }}"


def fnv1a64(data: bytes) -> int:
    """Go hash/fnv 64-bit FNV-1a, written out here so shard membership is
    checked independently of the relay's own implementation."""
    h = 0xCBF29CE484222325
    for b in data:
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


class Sink:
    """The webhook sink process and its HTTP control surface."""

    def __init__(self, run) -> None:
        port_file = os.path.join(run.work, "sink.port")
        self.proc = run.spawn("sink", "--port-file", port_file)
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("webhook sink did not start")
            time.sleep(0.02)
        with open(port_file) as fh:
            self.url = f"http://127.0.0.1:{int(fh.read())}"

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=30) as resp:
            return json.loads(resp.read())

    def count(self, route: str) -> int:
        return self._get("/count").get(route, 0)

    def stats(self) -> dict:
        return self._get("/stats")

    def wait_for(self, route: str, n: int, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while self.count(route) < n:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.05)
        return True

    def cpu_s(self) -> float:
        return process_cpu_s(self.proc.pid)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        self.proc.wait(timeout=30)


def webhook(name: str, url: str) -> dict:
    return {
        "name": name,
        "type": "webhook",
        "webhook": {"url": url, "headers": {"Content-Type": "application/json"}},
    }


def check_deliveries(
    delivered: list[list[int]], expected: set[int], ordered: bool
) -> dict:
    """Compare one route's deliveries with the ids it should receive.
    ``delivered`` rows are [id, due_ns, recv_ns, handler_us] in arrival
    order."""
    seen: set[int] = set()
    dup = out_of_order = unexpected = 0
    last = -1
    first_disorder = None
    for eid, *_ in delivered:
        if eid in seen:
            dup += 1
            continue
        seen.add(eid)
        if eid not in expected:
            unexpected += 1
        if ordered and eid < last:
            out_of_order += 1
            first_disorder = first_disorder or (last, eid)
        last = max(last, eid)
    missing = len(expected - seen)
    return {"missing": missing, "duplicates": dup, "out_of_order": out_of_order,
            "unexpected": unexpected, "first_disorder": first_disorder}


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        out.append({
            "start_ns": int(ts.timestamp() * 1e9),
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        })
    return out


def better_half(delivered: list[list[int]], w0: int, w1: int) -> list[float]:
    """Latencies (ms) of the events due in the better half of [w0, w1):
    the window is cut into slices of SLICE_S by due time, the slices are
    ranked by their median latency and the lower half (rounded up) kept."""
    n = max(1, int((w1 - w0) / 1e9 / SLICE_S))
    step = (w1 - w0) // n
    slices: list[list[float]] = [[] for _ in range(n)]
    for _, due, recv, _ in delivered:
        if w0 <= due < w0 + n * step:
            slices[(due - w0) // step].append((recv - due) / 1e6)
    ranked = sorted((s for s in slices if s), key=lambda s: percentile(s, 50))
    return [x for s in ranked[: (len(ranked) + 1) // 2] for x in s]


def batch_spans(run, batches: list[dict], parents: list[tuple[int, int, int]]) -> None:
    """One span per micro-batch, under the (span, start, end) interval that
    holds its trigger start, else under the run."""
    for b in batches:
        parent = next((s for s, lo, hi in parents if lo <= b["start_ns"] < hi), run.root)
        end = b["start_ns"] + int(b["ms"].get("triggerExecution", 0) * 1e6)
        run.spans.add("pipeline.batch", b["start_ns"], end, parent, rows=b["rows"])


def pipeline_layers(batches: list[dict]) -> dict:
    """pipeline.* from StreamingQueryProgress of the batches that read
    data."""
    live = [b for b in batches if b["rows"] > 0]
    if not live:
        return {"pipeline.batches": 0}

    def p(key: str, q: float = 50) -> float:
        return float(percentile([b["ms"].get(key, 0) for b in live], q))

    return {
        "pipeline.batches": len(live),
        "pipeline.rows_per_batch_p50": float(percentile([b["rows"] for b in live], 50)),
        "pipeline.trigger_ms_p50": p("triggerExecution"),
        "pipeline.trigger_ms_p99": tail([b["ms"].get("triggerExecution", 0)
                                         for b in live], 99),
        "pipeline.planning_ms_p50": p("queryPlanning"),
        "pipeline.commit_ms_p50": float(percentile(
            [b["ms"].get("walCommit", 0) + b["ms"].get("commitOffsets", 0)
             for b in live], 50)),
        "pipeline.add_batch_ms_p50": p("addBatch"),
        "envelope.latest_offset_ms_p50": p("latestOffset"),
    }


def connector_layers(stats: dict, checks: list[dict]) -> dict:
    handler = [e[3] for evs in stats["events"].values() for e in evs]
    return {
        "connectors.requests": stats["requests"],
        "connectors.connections_per_request": stats["connections"] / max(1, stats["requests"]),
        "connectors.server_ms_p50": percentile(handler, 50) / 1000.0 if handler else 0.0,
        "connectors.duplicates": sum(c["duplicates"] for c in checks),
        "connectors.out_of_order": sum(c["out_of_order"] for c in checks),
    }


def code_layers(rows: list[dict]) -> dict:
    """templates.render_us_per_item and sharding.fnv_us_per_key, timed by
    calling the relay's public template and sharding functions on the
    workload's own rows, outside the measured window."""
    from binwatch_spark.operators.sharding import fnv1a64_bytes
    from binwatch_spark.streaming.templates import compile_template, item_from_row

    t0 = time.perf_counter()
    render = compile_template(TEMPLATE)
    for i, row in enumerate(rows):
        render(item_from_row(row, i))
    render_us = (time.perf_counter() - t0) * 1e6 / len(rows)
    keys = [r["rows"][0]["id"].encode() for r in rows]
    t0 = time.perf_counter()
    for k in keys:
        fnv1a64_bytes(k)
    fnv_us = (time.perf_counter() - t0) * 1e6 / len(keys)
    return {"templates.render_us_per_item": render_us,
            "sharding.fnv_us_per_key": fnv_us}


def ordered_feed(run, sink: Sink) -> dict:
    """Serve the open-loop feed and return what happened; the deliveries
    are read from the sink after both phases."""
    from binwatch_spark.config import parse
    from binwatch_spark.streaming.pipeline import run_pipeline

    replay = os.path.join(run.work, "ordered")
    manifest = os.path.join(run.work, "manifest.jsonl")
    cfg = parse({
        "server": {"id": "perfbench-ordered", "senderWorkers": 1,
                   "checkpointDir": os.path.join(run.work, "ckpt-ordered")},
        "source": {"replayDir": replay, "dbTables": {gen.DATABASE: [gen.TABLE]}},
        "connectors": [webhook("hook", sink.url + "/o")],
        "routes": [{"name": "o", "connector": "hook",
                    "dbTable": f"{gen.DATABASE}.{gen.TABLE}", "template": TEMPLATE}],
    })
    errors: list[str] = []
    # The first micro-batch pays planning and class loading; the feed
    # starts once it is delivered.
    warm = gen.stage_backlog(replay, run.seed, 0, WARMUP_EVENTS, WARMUP_EVENTS,
                             time.time_ns())
    expected = {i for i, routed in warm if routed}
    query = run_pipeline(run.spark, cfg)
    try:
        if not sink.wait_for("o", len(expected), DELIVERY_TIMEOUT_S * 2):
            errors.append("warm-up events not delivered")
        start_ns = time.time_ns() + 200_000_000
        w0 = start_ns + int(ORDERED_LEAD_S * 1e9)
        w1 = w0 + int(run.seconds * 1e9)
        feeder = run.spawn(
            "gen", "--dir", replay, "--manifest", manifest, "--seed", str(run.seed),
            "--rate", str(ORDERED_RATE), "--seconds", str(ORDERED_LEAD_S + run.seconds),
            "--start-ns", str(start_ns), "--first-id", str(FEED_FIRST_ID),
        )
        time.sleep(max(0.0, (w0 - time.time_ns()) / 1e9))
        with Window(run.cpu) as window:
            time.sleep(max(0.0, (w1 - time.time_ns()) / 1e9))
        feeder.wait(timeout=60)
        with open(manifest) as fh:
            lines = [json.loads(line) for line in fh]
        ticks = [t for t in lines if "tick" in t]
        expected |= {e[0] for t in ticks for e in t["routed"]}
        if not sink.wait_for("o", len(expected), DELIVERY_TIMEOUT_S):
            errors.append("fed events not delivered before the timeout")
        batches = _progress(query)
    finally:
        query.stop()
    return {"w0": w0, "w1": w1, "window": window, "warm": warm, "ticks": ticks,
            "expected": expected, "batches": batches, "errors": errors,
            "gen_cpu_s": sum(t.get("cpu_s", 0.0) for t in lines)}


def backlog_drain(run, sink: Sink) -> dict:
    """Drain DRAIN_ROUNDS staged backlogs, one relay restart each."""
    from binwatch_spark.config import parse
    from binwatch_spark.streaming.pipeline import run_pipeline

    replay = os.path.join(run.work, "drain")
    cfg = parse({
        "server": {"id": "perfbench-drain", "senderWorkers": run.nproc,
                   "checkpointDir": os.path.join(run.work, "ckpt-drain")},
        "source": {"replayDir": replay, "dbTables": {gen.DATABASE: [gen.TABLE]}},
        "sharding": {"enabled": True, "count": 2, "index": 0,
                     "keyTemplate": KEY_TEMPLATE},
        "connectors": [webhook("hook_t", sink.url + "/t"),
                       webhook("hook_j", sink.url + "/j")],
        "routes": [
            {"name": "t", "connector": "hook_t",
             "dbTable": f"{gen.DATABASE}.{gen.TABLE}", "template": TEMPLATE},
            {"name": "j", "connector": "hook_j",
             "dbTable": f"{gen.DATABASE}.{gen.TABLE}"},
        ],
    })
    # A warm-up round plans this configuration's query and gets the
    # compiler through the sender and sharding code before the rounds that
    # are measured.
    source = gen.stage_backlog(replay, run.seed, 0, DRAIN_ROUND_EVENTS,
                               DRAIN_EVENTS_PER_FILE, time.time_ns())
    run_pipeline(run.spark, cfg, available_now=True).awaitTermination()
    round_at: list[tuple[int, int, int]] = []  # (first id, start ns, end ns)
    windows: list[Window] = []
    batches: list[dict] = []
    for r in range(DRAIN_ROUNDS):
        first = 1_000_000 * (r + 1)
        # staged outside the measured round: writing the files is not the relay's work
        source += gen.stage_backlog(replay, run.seed, first, DRAIN_ROUND_EVENTS,
                                    DRAIN_EVENTS_PER_FILE, 0)
        with Window(run.cpu) as window:
            t_start = time.time_ns()
            query = run_pipeline(run.spark, cfg, available_now=True)
            query.awaitTermination()
            round_at.append((first, t_start, time.time_ns()))
        windows.append(window)
        batches += _progress(query)
    return {"window": sum(windows[1:], windows[0]), "source": source,
            "round_at": round_at, "batches": batches}


def kept(i: int) -> bool:
    """Whether shard 0 of 2 keeps event ``i`` (key template: its id)."""
    return fnv1a64(str(i).encode()) % 2 == 0


def relay(run) -> dict:
    sink = Sink(run)
    try:
        feed = ordered_feed(run, sink)
        drain = backlog_drain(run, sink)
        stats = sink.stats()
        helper_cpu = sink.cpu_s() + feed["gen_cpu_s"]
    finally:
        sink.close()
    errors = list(feed["errors"])
    w0, w1 = feed["w0"], feed["w1"]

    # ordered feed: latency over the better half of the window
    delivered = stats["events"].get("o", [])
    ordered = check_deliveries(delivered, feed["expected"], ordered=True)
    lat = better_half(delivered, w0, w1)
    if not lat:
        errors.append("no deliveries in the latency window")
        lat = [0.0]
    ticks = feed["ticks"]
    win_ticks = [t for t in ticks if w0 <= t["sched_ns"] <= w1]
    late_ms = [(t["pub_ns"] - t["sched_ns"]) / 1e6 for t in win_ticks]
    gen_late = tail(late_ms or [0.0], 99)

    # backlog drain: rate over the better half of the rounds
    expected = {i for i, routed in drain["source"] if routed and kept(i)}
    drained = [check_deliveries(stats["events"].get(r, []), expected, ordered=False)
               for r in ("t", "j")]
    recv = [(eid, r) for route in ("t", "j")
            for eid, _, r, _ in stats["events"].get(route, [])]
    rate = []
    for first, t_start, t_end in drain["round_at"]:
        n = sum(1 for eid, r in recv if first <= eid < first + DRAIN_ROUND_EVENTS)
        if not n:
            errors.append(f"no deliveries in the drain round from id {first}")
        rate.append(n / ((t_end - t_start) / 1e9))

    checks = [ordered, *drained]
    out = {
        "e2e": {
            "delivered_events_per_s": sum(1 for *_, r, _ in delivered if w0 <= r < w1)
            / ((w1 - w0) / 1e9),
            "session_cpu_s": drain["window"].session_cpu_s,
        },
        "phases": {
            "feed.delivery_p50_ms": percentile(lat, 50),
            "feed.delivery_p99_ms": tail(lat, 99),
            "feed.session_cpu_s": feed["window"].session_cpu_s,
            "drain.delivered_events_per_s": statistics.median(sorted(rate)[len(rate) // 2:]),
        },
        "window": feed["window"] + drain["window"],
        "helpers_cpu_s": helper_cpu,
        "gen_late_ms_p99": round(gen_late, 3),
        "gen_late": gen_late > GEN_LATE_MS,
        "samples": len(lat),
        "attempted": len(feed["expected"]) + 2 * len(expected),
        "failed": sum(c["missing"] + c["duplicates"] + c["out_of_order"] + c["unexpected"]
                      for c in checks) + stats["bad"],
        "errors": errors + [f"{r}.{k}={v}" for r, c in zip("otj", checks)
                            for k, v in c.items() if v],
    }
    if run.trace:
        out["layers"] = relay_layers(run, feed, drain, stats, checks, gen_late)
    return out


def relay_layers(run, feed: dict, drain: dict, stats: dict, checks: list[dict],
                 gen_late: float) -> dict:
    """Per-layer metrics and spans of a traced relay run, all read after
    the measured phases."""
    w0, w1 = feed["w0"], feed["w1"]
    win = run.spans.add("relay.window", w0, w1, run.root)
    batch_spans(run, feed["batches"], [(win, w0, w1)])
    batch_spans(run, drain["batches"], [
        (run.spans.add("drain.round", lo, hi, run.root, first_id=first), lo, hi)
        for first, lo, hi in drain["round_at"]])
    live = [b for b in feed["batches"] if b["rows"] > 0]
    stage = []
    backlog_end = 0
    for t in feed["ticks"]:
        if not t["events"] or not w0 <= t["sched_ns"] <= w1:
            continue
        pickup = [b["start_ns"] for b in live if b["start_ns"] >= t["pub_ns"]]
        if pickup:
            stage.append((min(pickup) - t["pub_ns"]) / 1e6)
        if not pickup or min(pickup) > w1:
            backlog_end += 1
    noise = (sum(t["noise"] for t in feed["ticks"])
             + sum(1 for _, routed in feed["warm"] if not routed))
    routed = len({e[0] for e in stats["events"].get("o", [])})
    backlog = [(i, r) for i, r in drain["source"] if i >= 1_000_000]
    allow = sum(1 for _, r in backlog if r)
    t_ids = {e[0] for e in stats["events"].get("t", []) if e[0] >= 1_000_000}
    rows = [gen.event(run.seed, i, 0)[0] for i in range(FEED_FIRST_ID, FEED_FIRST_ID + 2000)]
    return {
        **pipeline_layers([b for b in feed["batches"] if w0 <= b["start_ns"] < w1]),
        "pipeline.add_batch_ms_p50": pipeline_layers(drain["batches"]).get(
            "pipeline.add_batch_ms_p50", 0.0),
        "envelope.stage_to_batch_ms_p50": percentile(stage, 50) if stage else 0.0,
        "envelope.backlog_files_end": backlog_end,
        "cdc.routed_ratio": routed / max(1, len(feed["expected"]) + noise),
        "sharding.kept_ratio": len(t_ids) / max(1, allow),
        "gen.late_ms_p99": gen_late,
        **connector_layers(stats, checks),
        **code_layers(rows),
    }
