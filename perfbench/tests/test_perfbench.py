"""Tests of the benchmark itself: the percentile rule, the metric schema,
the delivery checks, and a short smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import curation, gen, relay, run, sink  # noqa: E402
from perfbench.host import percentile, tail, tail_supported  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
WORKLOADS = ("relay", "curation_batch")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- the percentile rule ------------------------------------------------------

def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    assert percentile([7], 99) == 7
    assert percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond_it():
    assert tail_supported(1000, 99)
    assert not tail_supported(999, 99)
    assert tail_supported(100, 90)
    assert not tail_supported(6, 99)


def test_unsupported_tail_reports_the_maximum():
    values = list(range(1, 1001))
    assert tail(values, 99) == 990
    assert tail(values[:999], 99) == 999
    assert tail([5, 1, 3], 99) == 5


# -- the metric schema --------------------------------------------------------

def test_benchmark_json_schema():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert s["command"] == ["python3", "perfbench/run.py"]
    assert s["paths"] == ["perfbench"]
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    names += [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_readme_names_every_metric():
    with open(os.path.join(ROOT, "perfbench", "README.md")) as fh:
        readme = fh.read()
    s = spec()
    for m in s["end_to_end"] + s["per_layer"]:
        name = m["name"]
        if name.startswith("plans.q"):
            continue  # documented as plans.<query>_s and plans.<query>.<stat>
        assert f"`{name}`" in readme, name


def test_tracing_reference_matches_code_workload_and_length(tmp_path):
    ledger = str(tmp_path / "untraced.jsonl")
    key = {"code": "abc", "workload": "relay", "seconds": 10}
    run.record_untraced(ledger, key, 100.0)
    run.record_untraced(ledger, key, 300.0)
    run.record_untraced(ledger, {**key, "code": "old"}, 5000.0)
    run.record_untraced(ledger, {**key, "seconds": 3}, 5000.0)
    run.record_untraced(ledger, {**key, "workload": "curation_batch"}, 5000.0)
    assert run.untraced_median(ledger, key) == (200.0, 2)
    assert run.untraced_median(str(tmp_path / "none.jsonl"), key) == (0.0, 0)
    assert len(run.code_hash()) == 16


# -- inputs and delivery checks -----------------------------------------------

def test_events_depend_only_on_seed_and_number():
    a, routed_a = gen.event(7, 123, 5)
    b, routed_b = gen.event(7, 123, 5)
    c, _ = gen.event(8, 123, 5)
    assert (a, routed_a) == (b, routed_b)
    assert a != c
    assert a["binlog_position"] < gen.event(7, 124, 5)[0]["binlog_position"]


def test_stage_backlog_publishes_whole_files(tmp_path):
    out = gen.stage_backlog(str(tmp_path), 3, 10, 25, 10, 0)
    assert [i for i, _ in out] == list(range(10, 35))
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 3 and not any(f.startswith(".") for f in files)
    lines = [json.loads(x) for f in files for x in open(tmp_path / f)]
    assert [int(e["rows"][0]["id"]) for e in lines] == list(range(10, 35))


def test_fnv_matches_go_vectors_and_the_relay():
    from binwatch_spark.operators.sharding import fnv1a64_bytes

    assert relay.fnv1a64(b"") == 0xCBF29CE484222325
    assert relay.fnv1a64(b"a") == 0xAF63DC4C8601EC8C
    for key in (b"0", b"1000001", b"hello"):
        assert relay.fnv1a64(key) == fnv1a64_bytes(key)


def test_check_deliveries_counts_every_failure_kind():
    rows = [[1, 0, 0, 0], [3, 0, 0, 0], [2, 0, 0, 0], [3, 0, 0, 0], [9, 0, 0, 0]]
    got = relay.check_deliveries(rows, {1, 2, 3, 4}, ordered=True)
    assert got["missing"] == 1  # 4
    assert got["duplicates"] == 1  # second 3
    assert got["out_of_order"] == 1  # 2 after 3
    assert got["unexpected"] == 1  # 9
    unordered = relay.check_deliveries(rows, {1, 2, 3, 4}, ordered=False)
    assert unordered["out_of_order"] == 0


def test_latency_is_taken_over_the_better_half_of_the_window():
    s = int(relay.SLICE_S * 1e9)
    # four slices: medians 10, 40, 20 and 30 ms, one event each ms apart
    rows = [[i, k * s + i, k * s + i + int(ms * 1e6), 0]
            for k, ms in enumerate((10, 40, 20, 30)) for i in range(5)]
    lat = relay.better_half(rows, 0, 4 * s)
    assert sorted(lat) == [10.0] * 5 + [20.0] * 5
    # an odd number of slices keeps the middle one too
    assert len(relay.better_half(rows[:15], 0, 3 * s)) == 10
    # events due outside the window are not counted
    assert relay.better_half(rows, s, 2 * s) == [40.0] * 5


def test_sink_reads_both_payload_shapes():
    from binwatch_spark.streaming.templates import compile_template, item_from_row

    env, _ = gen.event(1, 42, 99)
    item = item_from_row(env, 5)
    assert sink.event_key(json.loads(compile_template(relay.TEMPLATE)(item))) == (42, 99)
    assert sink.event_key(json.loads(json.dumps(item))) == (42, 99)


def test_materialized_ctes_keep_oracle_results(tmp_path):
    import duckdb

    from binwatch_spark.plans import all_oracles

    curation.write_tables(str(tmp_path), n_docs=120, n_emb=60)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    oracles = all_oracles()
    # q122's plain oracle plans for minutes; its twin q107 shares the CTE chain
    for name in ("q23_minhash_lsh_dedup", "q104_semantic_dedup_blocked",
                 "q117_hard_negatives_ann", "q150_bpe_encode_corpus",
                 "q131_full_curation", "q107_incremental_dedup"):
        sql = oracles[name]
        assert "MATERIALIZED" in curation.materialize_ctes(sql)
        plain = sorted(map(repr, con.execute(sql).fetchall()))
        mat = sorted(map(repr, con.execute(curation.materialize_ctes(sql)).fetchall()))
        assert plain == mat, name


def test_canon_treats_engine_types_alike():
    import datetime as dt
    import decimal

    assert curation.canon(1.5) == curation.canon(1.5)
    assert curation.canon(decimal.Decimal("1.5")) == curation.canon(1.5)
    assert curation.canon([1, {"a": 2.0}]) == (1, (("a", "2.0"),))
    assert curation.canon(float("nan")) is None
    assert curation.canon(dt.date(2024, 1, 2)) == "2024-01-02"


# -- runs ---------------------------------------------------------------------

def run_bench(cwd, *args, timeout=400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = run_bench(tmp_path, "--workload", "relay", "--seed", "1",
                     "--seconds", "1", "--trace", "0", timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("workload,trace", [
    ("relay", 0), ("relay", 1), ("curation_batch", 0),
])
def test_smoke(workload, trace):
    """One short run per workload: outputs are correct and the last line
    carries exactly the metrics BENCHMARK.json names for the mode."""
    # 3 s: the ordered window must outlast a trigger on a busy host
    proc = run_bench(ROOT, "--workload", workload, "--seed", "3",
                     "--seconds", "3", "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], detail["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        assert metrics["pipeline.batches"] >= 1
        assert metrics["connectors.requests"] >= 1
        assert metrics["bench.nproc"] == len(os.sched_getaffinity(0))
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
