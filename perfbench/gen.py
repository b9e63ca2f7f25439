"""Envelope event generator: the only input the relay under test sees.

Two producers share one event model:

- ``stage_backlog`` writes a fixed backlog of envelope JSONL files at once
  (the catch-up workload, and the warm-up files).
- ``python3 -m perfbench.gen ...`` is the open-loop generator: a single
  process that publishes one file per tick at a fixed event rate,
  regardless of how fast the relay consumes. Event ``i`` is due at
  ``start + i / rate`` and carries that due time in its row image; a file
  holds the events that fell due during its tick and is published at the
  tick's end by an atomic rename (Spark's file source skips the hidden
  temporary name). The generator appends one manifest line per published
  file, from which its lateness is read, and a last line with its own CPU
  time.

Event content depends only on the seed and the event number, so the same
seed gives the same inputs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import signal
import time

DATABASE = "shop"
TABLE = "orders"
NOISE_TABLE = "audit_log"  # not in the allowlist: filtered before routing
BINLOG_FILE = "mysql-bin.000001"
OPS = (("INSERT", "WriteRowsEventV2"), ("UPDATE", "UpdateRowsEventV2"),
       ("DELETE", "DeleteRowsEventV2"))
WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima")
TICK_MS = 100  # the open-loop generator publishes one file per tick
NOISE_SHARE = 0.05  # share of events on the non-allowlisted table


def event(seed: int, i: int, due_ns: int) -> tuple[dict, bool]:
    """Envelope for event number ``i`` and whether it is allowlisted."""
    r = random.Random(seed * 1_000_003 + i)
    routed = r.random() >= NOISE_SHARE
    x = r.random()
    op, etype = OPS[0] if x < 0.7 else OPS[1] if x < 0.9 else OPS[2]
    row = {
        "id": str(i),
        "due": str(due_ns),
        "customer": f"c{r.randrange(10_000)}",
        "amount": f"{r.uniform(1, 500):.2f}",
        "note": " ".join(r.choice(WORDS) for _ in range(r.randrange(3, 9))),
    }
    return {
        "event_type": etype,
        "binlog_file": BINLOG_FILE,
        "binlog_position": 4 + 100 * i,
        "database": DATABASE,
        "table": TABLE if routed else NOISE_TABLE,
        "operation": op,
        "rows": [row],
    }, routed


def publish(directory: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(directory, name))


def stage_backlog(
    directory: str, seed: int, first_id: int, n_events: int,
    per_file: int, due_ns: int,
) -> list[tuple[int, bool]]:
    """Write ``n_events`` events as files of ``per_file``; returns
    (id, allowlisted) per event."""
    os.makedirs(directory, exist_ok=True)
    out: list[tuple[int, bool]] = []
    for f, lo in enumerate(range(first_id, first_id + n_events, per_file)):
        lines = []
        for i in range(lo, min(lo + per_file, first_id + n_events)):
            env, routed = event(seed, i, due_ns)
            lines.append(json.dumps(env, separators=(",", ":")))
            out.append((i, routed))
        publish(directory, f"bk-{first_id:09d}-{f:06d}.jsonl", lines)
    return out


def run_open_loop(args: argparse.Namespace) -> None:
    stop = {"now": False}
    signal.signal(signal.SIGTERM, lambda *_: stop.update(now=True))
    tick_ns = TICK_MS * 1_000_000
    step_ns = 1e9 / args.rate
    i = args.first_id
    k = 0
    with open(args.manifest, "a") as man:
        while not stop["now"]:
            k += 1
            sched = args.start_ns + k * tick_ns
            if sched > args.start_ns + int(args.seconds * 1e9):
                break
            delay = (sched - time.time_ns()) / 1e9
            if delay > 0:
                time.sleep(delay)
            # events due strictly before the tick's end
            last = args.first_id + math.ceil(k * tick_ns / step_ns)
            lines, ids, noise = [], [], 0
            for j in range(i, last):
                due = args.start_ns + int((j - args.first_id) * step_ns)
                env, routed = event(args.seed, j, due)
                lines.append(json.dumps(env, separators=(",", ":")))
                if routed:
                    ids.append([j, due])
                else:
                    noise += 1
            i = last
            if lines:
                publish(args.dir, f"ev-{k:06d}.jsonl", lines)
            man.write(json.dumps({
                "tick": k, "sched_ns": sched, "pub_ns": time.time_ns(),
                "events": len(lines), "noise": noise, "routed": ids,
            }) + "\n")
            man.flush()
        # the last line: the generator's own CPU, which the run's
        # contention check must not count as foreign
        man.write(json.dumps({"cpu_s": time.process_time()}) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", required=True, help="replay dir to publish into")
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="events/s")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start-ns", type=int, required=True,
                    help="wall-clock epoch ns at which event first_id is due")
    ap.add_argument("--first-id", type=int, default=0)
    run_open_loop(ap.parse_args())


if __name__ == "__main__":
    main()
