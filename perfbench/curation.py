"""The curation batch: six dedup, similarity and text queries run through
``plans.all_queries()``, bypassing sources, streaming and sinks.

The batch runs once in a fresh session, as a scheduled curation job does:
all six results are due when the batch starts and each is delivered when
its rows reach the driver, so results per second of batch is the batch's
throughput. After the measured batch every collected result is checked
against its DuckDB oracle twin from ``plans.all_oracles()``; a mismatch is
a failure.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import io
import json
import math
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.host import Window

QUERIES = (
    "q131_full_curation",
    "q23_minhash_lsh_dedup",
    "q104_semantic_dedup_blocked",
    "q117_hard_negatives_ann",
    "q150_bpe_encode_corpus",
    "q122_index_update_loop",
)
# The fixture's sf0.01 sizes; 5% of the embeddings are planted near-copies
# so the semantic dedup queries find real pairs.
N_DOCS = 500
N_EMB = 200
PLANT_NEARDUP = 0.05
_CTE = re.compile(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\(", re.IGNORECASE)


def materialize_ctes(sql: str) -> str:
    """Mark every CTE ``AS MATERIALIZED``. DuckDB otherwise inlines each
    reference to a CTE, and the oracles that chain MinHash CTEs (q122's
    two probe rounds) then plan for minutes; materialized they run in
    under a second with the same result."""
    return _CTE.sub(r"\1\2 AS MATERIALIZED (", sql)


def canon(v):
    """A value both engines render identically: floats by full-precision
    repr (the oracle contract is exact), containers element-wise."""
    if v is None:
        return None
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def canon_rows(columns: list[str], rows) -> tuple[list[str], list[str]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows),
    )


def oracle_mismatch(sf_dir: str, name: str, got: tuple[list[str], list[str]],
                    oracle: str) -> str | None:
    """Run ``name``'s oracle on DuckDB over the parquet files Spark read and
    compare it with Spark's canonical rows ``got``; return a description of
    the first difference, or None."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        for table in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
            )
        cur = con.execute(materialize_ctes(oracle))
        want = canon_rows([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    if got[0] != want[0]:
        return f"{name}: columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{name}: {len(got[1])} rows != oracle {len(want[1])}"
    for a, b in zip(got[1], want[1]):
        if a != b:
            return f"{name}: row {a[:120]} != oracle {b[:120]}"
    return None


def write_tables(out_dir: str, n_docs: int = N_DOCS, n_emb: int = N_EMB) -> None:
    """The ``documents`` and ``embeddings`` tables the six queries read,
    from the repository's fixture generator (fixed seed)."""
    from tools.gen_scale_fixture import gen_documents, gen_embeddings

    os.makedirs(out_dir, exist_ok=True)
    with contextlib.redirect_stdout(io.StringIO()):  # it logs each table
        gen_documents(out_dir, n_docs)
        gen_embeddings(out_dir, n_emb, plant_neardup=PLANT_NEARDUP)


def gc_ms(spark) -> int:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(max(0, b.getCollectionTime()) for b in beans)


def eventlog_layers(log_dir: str, app_id: str, groups: dict[str, str]) -> dict:
    """tasks, shuffle write bytes and executor CPU per job group, read from
    the Spark event log that ``SPARK_GRAFT_EVENTLOG_DIR`` switches on."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    stage_group: dict[int, str] = {}
    acc = {g: {"tasks": 0, "shuffle_write_bytes": 0, "executor_cpu_s": 0.0}
           for g in groups.values()}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in acc:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                m = ev.get("Task Metrics") or {}
                a = acc[group]
                a["tasks"] += 1
                a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    out = {}
    for name, group in groups.items():
        for k, v in acc[group].items():
            out[f"plans.{name}.{k}"] = v
    return out


def curation_batch(run) -> dict:
    from binwatch_spark.operators.dedup import INDEX_BUILD_SECONDS
    from binwatch_spark.plans import all_oracles, all_queries

    sf_dir = os.path.join(run.work, "tables")
    write_tables(sf_dir)
    queries, oracles = all_queries(), all_oracles()
    spark = run.spark
    sc = spark.sparkContext
    errors: list[str] = []
    results: dict[str, tuple[list[str], list]] = {}
    walls: dict[str, float] = {}
    build_s = 0.0
    gc0 = gc_ms(spark)
    batch = run.spans.add("curation.batch", time.time_ns(), parent=run.root)
    with Window(run.cpu) as window:
        batch_start = time.perf_counter()
        for name in QUERIES:
            sc.setJobGroup(f"perfbench-{name}", name)
            b0 = INDEX_BUILD_SECONDS[0]
            start_ns = time.time_ns()
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf_dir)
                results[name] = (df.columns, df.collect())
            except Exception as exc:  # a failing query is a failed check
                errors.append(f"{name}: {type(exc).__name__}: {exc}")
            walls[name] = time.perf_counter() - t0
            run.spans.add(f"plans.{name}", start_ns, time.time_ns(), batch)
            if name == "q122_index_update_loop":
                build_s = INDEX_BUILD_SECONDS[0] - b0
            spark.catalog.clearCache()
        batch_s = time.perf_counter() - batch_start
    run.spans.end(batch, time.time_ns())
    gc = gc_ms(spark) - gc0
    check = run.spans.add("curation.check", time.time_ns(), parent=run.root)

    def check_one(name: str) -> tuple[str, int, int, str | None]:
        start_ns = time.time_ns()
        try:
            problem = oracle_mismatch(sf_dir, name, canon_rows(*results[name]),
                                      oracles[name])
        except Exception as exc:
            problem = f"{name} oracle: {type(exc).__name__}: {exc}"
        return name, start_ns, time.time_ns(), problem

    # one single-threaded DuckDB connection per query, nproc at a time
    with ThreadPoolExecutor(run.nproc) as pool:
        for name, start_ns, end_ns, problem in pool.map(check_one, list(results)):
            if problem:
                errors.append(problem)
            run.spans.add(f"oracle.{name}", start_ns, end_ns, check,
                          match=int(problem is None))
    run.spans.end(check, time.time_ns())
    out = {
        "e2e": {
            "delivered_events_per_s": len(QUERIES) / batch_s,
            "session_cpu_s": window.session_cpu_s,
        },
        "phases": {},
        "window": window,
        "helpers_cpu_s": 0.0,
        "attempted": len(QUERIES),
        "failed": len(errors),
        "errors": errors,
    }
    if run.trace:
        layers = {f"plans.{q}_s": walls[q] for q in QUERIES}
        layers["dedup.index_build_s"] = build_s
        layers["dedup.probe_s"] = walls["q122_index_update_loop"] - build_s
        layers["spark.gc_ms"] = gc
        app_id = sc.applicationId
        # the event log is complete once the context stops
        spark.stop()
        groups = {q: f"perfbench-{q}" for q in QUERIES}
        layers.update(eventlog_layers(
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"], app_id, groups))
        out["layers"] = layers
    return out
