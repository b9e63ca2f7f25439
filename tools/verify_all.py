"""One-command evidence pipeline: re-check correctness, tests and the
bench, with one JSON summary at the end.

Runs, in order:
0. ``tools/gen_query_index.py`` — regenerates README/SURVEY/docs/QUERIES.md
   counts from the live registry, then FAILS if that produced a git diff
   (VERDICT r07 #2: a registry change physically cannot ship without
   regenerated docs — three rounds of count drift proved advice alone
   doesn't work);
1. ``tools/oracle_check.py`` over the FULL query registry at sf0.01 —
   driver-strength hash compare of every Spark query vs its DuckDB oracle
   (writes ``/tmp/oracle_check.json``, outside the repository);
2. ``pytest tests/ -q`` — the full suite;
3. ``python bench.py`` at $SPARK_GRAFT_SF_DIR (default sf0.1) — refreshes
   ``/tmp/BENCH_local.json`` (bench.BENCH_RECORD; per-run GC/CPU
   attribution included).

Usage:
    python tools/verify_all.py [--skip-bench] [--sf DIR]

Prints one JSON line:
    {"oracle": {"green": G, "total": T}, "pytest": {"rc": 0, "tail": ...},
     "bench": {"value": sec, "variance_outliers": [...]}, "ok": bool}

Exit code 0 iff every stage is green (oracle G==T, pytest rc 0, bench
parses). Each stage's full output streams to stderr so failures are
debuggable without re-running.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# bench.BENCH_RECORD: where bench.py writes its full record
BENCH_RECORD = "/tmp/BENCH_local.json"


def run(cmd: list[str], env: dict | None = None) -> tuple[int, str]:
    """Stream a stage's output to stderr LIVE (line-forwarded — a hung
    Spark query must show which query is stuck, not buffer silently until
    the stage exits), return (rc, last_300_chars)."""
    proc = subprocess.Popen(
        cmd,
        cwd=REPO,
        env={**os.environ, **(env or {})},
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    tail: list[str] = []
    assert proc.stdout is not None
    for line in proc.stdout:
        sys.stderr.write(line)
        sys.stderr.flush()
        tail.append(line)
        if len(tail) > 20:
            tail.pop(0)
    proc.wait()
    return proc.returncode, "".join(tail)[-300:].strip()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-bench", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="sf dir for the oracle check (driver uses sf0.01)")
    args = ap.parse_args()

    summary: dict = {"ok": True}

    # Stage 0 — regenerate doc counts; any resulting diff means the last
    # registry change was committed without regeneration → hard fail.
    rc, _ = run([sys.executable, "tools/gen_query_index.py"])
    diff = subprocess.run(
        ["git", "diff", "--stat", "--", "README.md", "SURVEY.md",
         "docs/QUERIES.md"],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip()
    summary["gen_index"] = {"rc": rc, "diff": diff}
    if rc != 0 or diff:
        summary["ok"] = False
        if diff:
            sys.stderr.write(
                "verify_all: gen_query_index produced a diff — commit the "
                "regenerated docs:\n" + diff + "\n"
            )

    oracle_out = "/tmp/oracle_check.json"
    rc, tail = run(
        [sys.executable, "tools/oracle_check.py", args.sf],
        env={"ORACLE_CHECK_OUT": oracle_out},
    )
    green = total = 0
    try:
        with open(oracle_out) as fh:
            results = json.load(fh)
        total = len(results)
        green = sum(
            1
            for r in results.values()
            if r.get("err") is None
            and r.get("rows_match")
            and r.get("schema_match") is not False
            and r.get("hash_match") is not False
        )
    except (OSError, json.JSONDecodeError):
        pass
    summary["oracle"] = {"green": green, "total": total, "out": oracle_out}
    if rc != 0 or green != total or total == 0:
        summary["ok"] = False

    rc, tail = run([sys.executable, "-m", "pytest", "tests/", "-q"])
    summary["pytest"] = {"rc": rc, "tail": tail.splitlines()[-1] if tail else ""}
    if rc != 0:
        summary["ok"] = False

    if not args.skip_bench:
        rc, _ = run([sys.executable, "bench.py"])
        bench: dict = {}
        try:
            with open(BENCH_RECORD) as fh:
                b = json.load(fh)
            bench = {
                "value": b.get("value"),
                "variance_outliers": b.get("variance_outliers", []),
                # whole-sweep CPU attribution (VERDICT r06 #2): a bench run
                # on a contended host labels itself, here and in bench.py's
                # printed JSON line
                "session_cpu_total": b.get("session_cpu_total"),
                "other_cpu_total": b.get("other_cpu_total"),
                "contended": b.get("contended"),
            }
        except (OSError, json.JSONDecodeError):
            rc = rc or 1
        summary["bench"] = {"rc": rc, **bench}
        if rc != 0:
            summary["ok"] = False

    print(json.dumps(summary, separators=(",", ":")))
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
