"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload relay --seed 1 --seconds 26 --trace 0

Workloads (see perfbench/README.md for what each measures and why):
``relay`` (an ordered feed, then a backlog drain) and ``curation_batch``.

Run from the root of a checkout. The program under test runs on
``local[nproc]`` (``SPARK_GRAFT_CPUS=nproc``) with a 2 GB driver heap
unless ``SPARK_GRAFT_DRIVER_MEM`` says otherwise. Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed when
the run ends, except a traced run's spans under ``.perfbench_work/spans/``
and the ledger ``.perfbench_work/untraced.jsonl``: each untraced run
appends its ``session_cpu_s`` there, keyed by a hash of the program's and
the benchmark's sources, the workload and ``--seconds``, and a traced run
reports its tracing overhead against the median of the entries with its
own key.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics; a layer the workload does not exercise reads 0. The
line before it carries run details: nproc, host contention, the relay's
feed latency, feed CPU and drain rate (``phases``) and any errors.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.curation import curation_batch  # noqa: E402
from perfbench.host import SessionCpu, Spans, reap, tail_supported  # noqa: E402
from perfbench.relay import relay  # noqa: E402

WORKLOADS = {"relay": relay, "curation_batch": curation_batch}


class Run:
    """What a workload needs: the session, its settings, a private work
    directory and a way to start helper processes that are stopped when
    the run ends."""

    def __init__(self, args, work: str, nproc: int, cpu) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.nproc = nproc
        self.cpu = cpu
        self.spark = None
        self.helpers: list[subprocess.Popen] = []
        self.spans = Spans()
        self.root = self.spans.add("run", time.time_ns(), workload=args.workload)

    def spawn(self, module: str, *args: str) -> subprocess.Popen:
        proc = subprocess.Popen(
            [sys.executable, "-m", f"perfbench.{module}", *args],
            cwd=ROOT, stdout=subprocess.DEVNULL,
        )
        self.cpu.exclude.add(proc.pid)
        self.helpers.append(proc)
        return proc

    def set_up_session(self) -> float:
        """Start the program as a relay or curation job does, in this fresh
        process: import the engine, build its session (which starts the
        JVM) and run a first job. Returns the seconds it took."""
        start_ns = time.time_ns()
        t0 = time.perf_counter()
        from binwatch_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.range(0, 1000, numPartitions=self.nproc).count()
        self.spans.add("setup", start_ns, time.time_ns(), self.root)
        return time.perf_counter() - t0

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                # the gateway JVM exits when its stdin closes
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
        reap(self.helpers)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, nproc: int, trace_curation: bool) -> None:
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell"
    )
    if trace_curation:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)


def code_hash() -> str:
    """Hash of the program's and the benchmark's sources: untraced runs
    are a traced run's reference only when both are the same code."""
    h = hashlib.sha256()
    for top in ("binwatch_spark", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(filenames):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def record_untraced(path: str, key: dict, value: float) -> None:
    with open(path, "a") as fh:
        fh.write(json.dumps({**key, "session_cpu_s": value}) + "\n")


def untraced_median(path: str, key: dict) -> tuple[float, int]:
    """Median ``session_cpu_s`` of the untraced runs recorded under
    ``key``, and how many there are."""
    try:
        with open(path) as fh:
            vals = [r["session_cpu_s"] for r in map(json.loads, fh)
                    if all(r.get(k) == v for k, v in key.items())]
    except FileNotFoundError:
        vals = []
    return (statistics.median(vals) if vals else 0.0), len(vals)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "binwatch_spark")):
        print("perfbench: binwatch_spark/ is missing; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work, nproc, args.trace and args.workload == "curation_batch")
    os.chdir(work)
    cpu = SessionCpu()
    cpu.start()
    run = Run(args, work, nproc, cpu)
    try:
        setup_s = run.set_up_session()
        res = WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
        cpu.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    window = res["window"]
    contended = window.contended(res["helpers_cpu_s"]) or res.get("gen_late", False)
    foreign = max(0.0, window.foreign_cpu_s - res["helpers_cpu_s"])
    values = {"setup_s": setup_s, **res["e2e"]}
    ledger = os.path.join(base, "untraced.jsonl")
    key = {"code": code_hash(), "workload": args.workload, "seconds": args.seconds}
    spans_file = None
    if args.trace:
        run.spans.end(run.root, time.time_ns())
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        spans_file = os.path.join(base, "spans", os.path.basename(work) + ".jsonl")
        run.spans.write(spans_file)
        spans_file = os.path.relpath(spans_file, ROOT)
        ref, n_ref = untraced_median(ledger, key)
        traced = res["e2e"]["session_cpu_s"]
        values = {
            **res["layers"],
            **res["phases"],
            "session.peak_rss_mb": window.peak_rss_mb,
            "bench.error_rate": res["failed"] / max(1, res["attempted"]),
            "bench.nproc": nproc,
            "host.steal_s": window.steal_s,
            "host.foreign_cpu_s": foreign,
            "host.contended": int(contended),
            "trace.session_cpu_s": traced,
            "trace.overhead_pct": 100.0 * (traced - ref) / ref if ref else 0.0,
            "trace.untraced_runs": n_ref,
        }
        wanted = spec["per_layer"]
    else:
        record_untraced(ledger, key, values["session_cpu_s"])
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    missing = [m["name"] for m in spec["end_to_end"] if not args.trace
               and m["name"] not in values]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "phases": {k: round(v, 3) for k, v in res["phases"].items()},
        "latency_samples": res.get("samples"),
        "p99_supported": "samples" in res and tail_supported(res["samples"], 99),
        "contended": contended, "steal_s": round(window.steal_s, 3),
        "foreign_cpu_s": round(foreign, 3),
        "helpers_cpu_s": round(res["helpers_cpu_s"], 3),
        "gen_late_ms_p99": res.get("gen_late_ms_p99"),
        "window_s": round(window.wall_s, 3),
        "spans_file": spans_file,
        "errors": (res["errors"] + [f"missing metric {m}" for m in missing])[:20],
    }))
    print(json.dumps({
        "correct": res["failed"] == 0 and not missing,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
