"""End-to-end CDC pipeline tests: replay stream → transforms → routes →
file connectors, with checkpoint-restart (at-least-once) and sharding
partition behavior — the integration layer the reference lacks (SURVEY §5.2.3).
"""

from __future__ import annotations

import json
import os

import pytest

from binwatch_spark.config import parse
from binwatch_spark.streaming.pipeline import run_pipeline

EVENTS = [
    # (file, pos, db, table, op, rows)
    ("mysql-bin.000001", 100, "testdb", "users", "INSERT", [{"id": "1", "name": "ada"}]),
    ("mysql-bin.000001", 200, "testdb", "users", "UPDATE", [{"id": "1", "name": "ada l."}]),
    ("mysql-bin.000001", 300, "testdb", "skipme", "INSERT", [{"id": "9"}]),
    ("mysql-bin.000002", 50, "testdb", "users", "DELETE", [{"id": "1"}]),
    ("mysql-bin.000002", 80, "testdb", "users", "INSERT", [{"id": "2", "name": "gra"}]),
]

EVENT_TYPE = {
    "INSERT": "WriteRowsEventV2",
    "UPDATE": "UpdateRowsEventV2",
    "DELETE": "DeleteRowsEventV2",
}


def write_replay(dirpath: str, events, filename: str = "batch1.jsonl") -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, filename), "w", encoding="utf-8") as fh:
        for file, pos, db, tbl, op, rows in events:
            fh.write(
                json.dumps(
                    {
                        "event_type": EVENT_TYPE[op],
                        "binlog_file": file,
                        "binlog_position": pos,
                        "database": db,
                        "table": tbl,
                        "operation": op,
                        "rows": rows,
                    }
                )
                + "\n"
            )


def make_cfg(tmp: str, sharding: dict | None = None) -> dict:
    return {
        "server": {
            "id": "it-test",
            "host": "0.0.0.0",
            "port": 8080,
            "senderWorkers": 1,
            "checkpointDir": f"{tmp}/checkpoint",
        },
        "source": {
            "dbTables": {"testdb": ["users"]},
            "replayDir": f"{tmp}/replay",
        },
        "sharding": sharding or {},
        "connectors": [
            {"name": "sink-insert", "type": "file", "path": f"{tmp}/out/inserts.jsonl"},
            {"name": "sink-all", "type": "file", "path": f"{tmp}/out/all.jsonl"},
        ],
        "routes": [
            {
                "name": "inserts-only",
                "connector": "sink-insert",
                "operations": ["INSERT"],
                "dbTable": "testdb.users",
                "template": (
                    '{"itemID":"{{ .ItemID }}","op":"{{ .Data.Operation }}",'
                    '"rows":{{ .Data.Rows | toJson }}}'
                ),
            },
            {
                "name": "all-ops",
                "connector": "sink-all",
                "operations": ["INSERT", "UPDATE", "DELETE"],
                "dbTable": "",
            },
        ],
    }


def read_lines(path: str) -> list[str]:
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        return [ln for ln in fh.read().splitlines() if ln]


def run_until_done(spark, cfg_doc):
    cfg = parse(cfg_doc)
    query = run_pipeline(spark, cfg, available_now=True)
    query.awaitTermination(120)
    assert not query.isActive


def test_pipeline_end_to_end(spark, tmp_path):
    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    run_until_done(spark, make_cfg(tmp))

    inserts = read_lines(f"{tmp}/out/inserts.jsonl")
    all_ops = read_lines(f"{tmp}/out/all.jsonl")

    # route predicate: INSERTs on testdb.users only (allowlist drops skipme)
    assert len(inserts) == 2
    payloads = [json.loads(p) for p in inserts]
    assert {p["op"] for p in payloads} == {"INSERT"}
    assert payloads[0]["rows"] == [{"id": "1", "name": "ada"}]
    # template rendered item ids follow binlog order (1-based, gapless)
    assert [p["itemID"] for p in payloads] == ["1", "4"]

    # match-all route sees all allowlisted ops, in binlog order
    assert len(all_ops) == 4
    ops = [json.loads(p)["Data"]["Operation"] for p in all_ops]
    assert ops == ["INSERT", "UPDATE", "DELETE", "INSERT"]


def test_checkpoint_restart_no_redelivery(spark, tmp_path):
    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    cfg = make_cfg(tmp)
    run_until_done(spark, cfg)
    n_first = len(read_lines(f"{tmp}/out/all.jsonl"))

    # restart with the same checkpoint: nothing new to process
    run_until_done(spark, cfg)
    assert len(read_lines(f"{tmp}/out/all.jsonl")) == n_first

    # new data arrives → only the new events are delivered
    write_replay(
        f"{tmp}/replay",
        [("mysql-bin.000002", 120, "testdb", "users", "INSERT", [{"id": "3"}])],
        filename="batch2.jsonl",
    )
    run_until_done(spark, cfg)
    lines = read_lines(f"{tmp}/out/all.jsonl")
    assert len(lines) == n_first + 1
    assert json.loads(lines[-1])["Data"]["Rows"] == [{"id": "3"}]


def test_sharding_partitions_events(spark, tmp_path):
    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    seen: list[str] = []
    for index in (0, 1):
        shard_tmp = f"{tmp}/shard{index}"
        os.makedirs(shard_tmp, exist_ok=True)
        doc = make_cfg(tmp, sharding={"enabled": True, "count": 2, "index": index})
        doc["server"]["checkpointDir"] = f"{shard_tmp}/checkpoint"
        doc["connectors"] = [
            {"name": "sink-insert", "type": "file", "path": f"{shard_tmp}/inserts.jsonl"},
            {"name": "sink-all", "type": "file", "path": f"{shard_tmp}/all.jsonl"},
        ]
        run_until_done(spark, doc)
        seen.extend(read_lines(f"{shard_tmp}/all.jsonl"))
    # totality + disjointness across the two shards (blsenderwork_test.go:53-83)
    keys = sorted(
        (json.loads(p)["Log"]["BinlogFile"], json.loads(p)["Log"]["BinlogPosition"])
        for p in seen
    )
    expected = sorted(
        (f, pos) for f, pos, db, tbl, _, _ in EVENTS if tbl == "users"
    )
    assert keys == expected


def test_binlog_datasource_replay(spark, tmp_path):
    """The Spark 4 Python DataSource path: offsets, partitions, commit."""
    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    from binwatch_spark.sources import binlog

    binlog.register(spark)
    stream = (
        spark.readStream.format("mysql-binlog")
        .option("replayDir", f"{tmp}/replay")
        .load()
    )
    query = (
        stream.writeStream.format("parquet")
        .option("path", f"{tmp}/sink")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    out = spark.read.parquet(f"{tmp}/sink")
    rows = sorted(
        (r["binlog_file"], r["binlog_position"], r["operation"])
        for r in out.collect()
    )
    assert rows == sorted((f, p, op) for f, p, _, _, op, _ in EVENTS)


def test_native_key_expr_matches_renderer(spark):
    """The documented key-template shapes compile to pure column
    expressions whose values match the general renderer row-for-row."""
    from binwatch_spark.streaming.templates import (
        compile_template,
        item_from_row,
        native_key_expr,
    )
    import pyspark.sql.functions as F

    rows = [
        {
            "event_type": EVENT_TYPE[op],
            "binlog_file": f,
            "binlog_position": p,
            "database": db,
            "table": tbl,
            "operation": op,
            "rows": rws,
            "item_id": i + 1,
        }
        for i, (f, p, db, tbl, op, rws) in enumerate(EVENTS)
    ]
    df = spark.createDataFrame(
        rows,
        "event_type string, binlog_file string, binlog_position bigint,"
        " database string, table string, operation string,"
        " rows array<map<string,string>>, item_id bigint",
    )
    for template in (
        "{{ (index .Data.Rows 0).id }}",
        "{{ .Data.Database }}.{{ .Data.Table }}",
        "{{ .Log.BinlogFile }}/{{ .Log.BinlogPosition }}",
        "k-{{ .ItemID }}",
    ):
        col = native_key_expr(template)
        assert col is not None, template
        got = [r["k"] for r in df.select(col.alias("k")).orderBy("item_id").collect()]
        render = compile_template(template)
        want = [render(item_from_row(r, r["item_id"])) for r in rows]
        assert got == want, template
    # out-of-range row index → NULL (renderer raises → fallback; same branch)
    col = native_key_expr("{{ (index .Data.Rows 5).id }}")
    assert df.select(col.alias("k")).first()["k"] is None
    # pipes and unknown fields need the general renderer
    assert native_key_expr("{{ .Data.Rows | toJson }}") is None
    assert native_key_expr("{{ .Data.Custom }}") is None
    assert native_key_expr("constant-only") is None


def test_key_template_shard_plan_has_no_render_udf(spark, tmp_path):
    """Plan-shape: the documented key template must not put a to_json/
    render stage in the plan — only the FNV shard UDF remains."""
    from binwatch_spark.streaming.pipeline import _shard_filter

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    doc = make_cfg(
        tmp,
        sharding={
            "enabled": True,
            "count": 2,
            "index": 0,
            "keyTemplate": "{{ (index .Data.Rows 0).id }}",
        },
    )
    cfg = parse(doc)
    df = spark.createDataFrame(
        [("mysql-bin.000001", 100, "testdb", "users", "INSERT",
          [{"id": "1"}], 1)],
        "binlog_file string, binlog_position bigint, database string,"
        " table string, operation string, rows array<map<string,string>>,"
        " item_id bigint",
    )
    plan = _shard_filter(df, cfg)._jdf.queryExecution().analyzed().toString()
    assert "to_json" not in plan
    assert "render_key" not in plan


class _FlakyWebhook:
    """Local HTTP/1.1 keep-alive sink that 500s the first `fail_n` requests
    (only those to `fail_path`, when given), then 200s — the
    webhook-down-then-recovers scenario behind restartSyncerOnError. It
    counts the connections it accepts and records every request's path,
    Authorization header and body."""

    def __init__(self, fail_n: int = 0, fail_path: str | None = None):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        self.received: list[bytes] = []  # bodies answered 200
        self.requests: list[tuple[str, str | None, bytes]] = []
        self.connections = 0
        self.sockets: list = []
        self.fails_left = fail_n
        lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def setup(self):
                super().setup()
                with lock:
                    outer.connections += 1
                    outer.sockets.append(self.connection)

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                with lock:
                    outer.requests.append(
                        (self.path, self.headers.get("Authorization"), body)
                    )
                    if outer.fails_left > 0 and fail_path in (None, self.path):
                        outer.fails_left -= 1
                        status = 500
                    else:
                        outer.received.append(body)
                        status = 200
                self.send_response(status)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                return

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.httpd.daemon_threads = True
        self.port = self.httpd.server_address[1]
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()

    def drop_connections(self):
        """Close every open connection server-side, as an idle timeout does."""
        import socket

        for sock in self.sockets:
            try:
                sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass

    def bodies(self, path: str) -> list[bytes]:
        return [body for p, _, body in self.requests if p == path]

    def shutdown(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_restart_syncer_on_error_recovers(spark, tmp_path):
    """restartSyncerOnError parity (blreaderwork.go:149-190): a dying sink
    fails the query; the supervisor restarts it from the checkpoint and the
    un-committed batch is redelivered (at-least-once)."""
    from binwatch_spark.streaming.pipeline import run_supervised

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    sink = _FlakyWebhook(fail_n=1)
    try:
        doc = make_cfg(tmp)
        doc["server"]["restartSyncerOnError"] = True
        doc["server"]["stopInError"] = True
        doc["connectors"] = [
            {
                "name": "sink-insert",
                "type": "webhook",
                "webhook": {"url": f"http://127.0.0.1:{sink.port}/hook"},
            },
            {"name": "sink-all", "type": "file", "path": f"{tmp}/out/all.jsonl"},
        ]
        cfg = parse(doc)
        run_supervised(spark, cfg, available_now=True, max_restarts=3)
        payloads = [json.loads(b) for b in sink.received]
        # both INSERTs on testdb.users arrive despite the first 500
        assert sum('"op":"INSERT"' in b.decode() for b in sink.received) == 2
        assert len(payloads) == 2
    finally:
        sink.shutdown()


def test_restart_disabled_propagates(spark, tmp_path):
    from binwatch_spark.streaming.pipeline import run_supervised

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    sink = _FlakyWebhook(fail_n=10**9)  # always failing
    try:
        doc = make_cfg(tmp)
        doc["server"]["restartSyncerOnError"] = False
        doc["server"]["stopInError"] = True
        doc["connectors"][0] = {
            "name": "sink-insert",
            "type": "webhook",
            "webhook": {"url": f"http://127.0.0.1:{sink.port}/hook"},
        }
        cfg = parse(doc)
        with pytest.raises(Exception):
            run_supervised(spark, cfg, available_now=True)
    finally:
        sink.shutdown()


def test_cli_sync_end_to_end(tmp_path, monkeypatch):
    """cmd/main.go:26-34 parity: the sync subcommand drives config → spark
    → pipeline → exit code, against a replay dir and file connectors."""
    import yaml as _yaml

    from binwatch_spark.__main__ import main

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    doc = make_cfg(tmp)
    cfg_path = f"{tmp}/config.yaml"
    with open(cfg_path, "w", encoding="utf-8") as fh:
        _yaml.safe_dump(doc, fh)
    rc = main(["sync", "--config", cfg_path, "--available-now", "--no-serve-api"])
    assert rc == 0
    inserts = read_lines(f"{tmp}/out/inserts.jsonl")
    assert len(inserts) == 2


def test_cli_bad_config_exit_code(tmp_path):
    from binwatch_spark.__main__ import main

    cfg_path = str(tmp_path / "bad.yaml")
    with open(cfg_path, "w", encoding="utf-8") as fh:
        fh.write("server:\n  id: ''\n")
    assert main(["sync", "--config", cfg_path, "--no-serve-api"]) == 1


def test_schema_probe_and_positional_binding(spark):
    """S3 parity (utils.go:101-129): discovery returns the per-table column
    list in server order; binding turns positional row maps into named maps
    with pure column expressions."""
    from pyspark.sql.types import StructType, StructField, StringType

    from binwatch_spark.config import SourceConfig
    from binwatch_spark.sources.schema_probe import (
        bind_positional_rows,
        discover_table_columns,
        jdbc_url,
    )

    src = SourceConfig(db_tables={"testdb": ["users", "tags"]})
    fake_schemas = {
        ("testdb", "users"): ["id", "name"],
        ("testdb", "tags"): ["tag"],
    }

    def probe(spark_, src_, db, table):
        return StructType(
            [StructField(c, StringType()) for c in fake_schemas[(db, table)]]
        )

    cols = discover_table_columns(spark, src, probe=probe)
    assert cols == {"testdb.users": ["id", "name"], "testdb.tags": ["tag"]}
    assert jdbc_url(src) == "jdbc:mysql://127.0.0.1:3306/"

    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [
            ("testdb", "users", [{"0": "1", "1": "ada"}]),
            ("testdb", "tags", [{"0": "x"}]),
            # table with NO discovered schema: a positional row can never
            # be named — dropped and counted (blreaderwork.go:248-250
            # colNames == nil → continue parity)
            ("testdb", "other", [{"0": "keep"}]),
        ],
        "database string, table string, rows array<map<string,string>>",
    )
    obs = Observation()
    out = {
        (r["database"], r["table"]): r["rows"]
        for r in bind_positional_rows(df, cols, observation=obs).collect()
    }
    assert out[("testdb", "users")] == [{"id": "1", "name": "ada"}]
    assert out[("testdb", "tags")] == [{"tag": "x"}]
    assert ("testdb", "other") not in out
    assert obs.get["unknown_table_events"] == 1
    assert obs.get["events_seen"] == 3


def test_sequence_batch_no_global_sort_when_workers_gt_1(spark, tmp_path):
    """VERDICT r03: at senderWorkers>1 the reference abandons delivery order
    (README.md:38), so _sequence_batch must not serialize the batch through
    a partition-less Window — ids come from per-file windows instead."""
    import contextlib
    import io

    from binwatch_spark.streaming.pipeline import _sequence_batch

    df = spark.createDataFrame(
        [("mysql-bin.000001", 100), ("mysql-bin.000002", 50)],
        "binlog_file string, binlog_position long",
    )

    def plan_of(d):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            d.explain("formatted")
        return buf.getvalue()

    ordered = plan_of(_sequence_batch(df, workers=1))
    # the ordered path pays the global sort on purpose (total order)
    assert "Window" in ordered

    parallel = plan_of(_sequence_batch(df, workers=2))
    # the window is partitioned by binlog_file (its hashpartitioning shows in
    # the exchange), so no single-task global sort exists in the plan
    assert "hashpartitioning(binlog_file" in parallel
    # executing it must not trip the single-partition WindowExec warning path:
    # every id is unique and encodes (file_seq << 32) + within-file rank
    rows = {
        (r["binlog_file"], r["binlog_position"]): r["item_id"]
        for r in _sequence_batch(df, workers=2).collect()
    }
    assert rows[("mysql-bin.000001", 100)] == (1 << 32) + 1
    assert rows[("mysql-bin.000002", 50)] == (2 << 32) + 1
    assert len(set(rows.values())) == 2


def test_pipeline_workers_gt_1_delivers_all(spark, tmp_path):
    """senderWorkers=2: delivery order is unspecified (reference parity) but
    every allowlisted event arrives exactly once with a unique item id."""
    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    cfg_doc = make_cfg(tmp)
    cfg_doc["server"]["senderWorkers"] = 2
    run_until_done(spark, cfg_doc)

    all_ops = read_lines(f"{tmp}/out/all.jsonl")
    assert len(all_ops) == 4
    payloads = [json.loads(p) for p in all_ops]
    ops = sorted(p["Data"]["Operation"] for p in payloads)
    assert ops == ["DELETE", "INSERT", "INSERT", "UPDATE"]
    ids = [p["ItemID"] for p in payloads]
    assert len(set(ids)) == 4


def test_sharding_with_pipe_template_uses_fallback_renderer(spark, tmp_path):
    """A key template with pipes can't compile natively → the pandas
    fallback renderer runs, including the narrowed-struct path (template
    references no .Data.Rows, so the payload column is not serialized).
    Totality + disjointness must still hold across shards."""
    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    seen: list[str] = []
    for index in (0, 1):
        shard_tmp = f"{tmp}/shard{index}"
        os.makedirs(shard_tmp, exist_ok=True)
        doc = make_cfg(
            tmp,
            sharding={
                "enabled": True,
                "count": 2,
                "index": index,
                # pipes → general renderer; no .Data.Rows → narrowed struct
                "keyTemplate": "{{ .Data.Table | upper }}",
            },
        )
        doc["server"]["checkpointDir"] = f"{shard_tmp}/checkpoint"
        doc["connectors"] = [
            {"name": "sink-insert", "type": "file", "path": f"{shard_tmp}/i.jsonl"},
            {"name": "sink-all", "type": "file", "path": f"{shard_tmp}/all.jsonl"},
        ]
        run_until_done(spark, doc)
        seen.append(read_lines(f"{shard_tmp}/all.jsonl"))
    flat = [json.loads(p) for part in seen for p in part]
    # totality: every allowlisted users event delivered exactly once
    keys = sorted((p["Log"]["BinlogFile"], p["Log"]["BinlogPosition"]) for p in flat)
    expected = sorted((f, pos) for f, pos, db, tbl, _, _ in EVENTS if tbl == "users")
    assert keys == expected
    # affinity: all events share table "users" → one key → ONE shard got all
    assert sorted(len(part) for part in seen) == [0, len(expected)]


def test_sequence_batch_huge_suffix_routes_to_hash_fallback(spark):
    """ADVICE r04: a numeric suffix >= 2^31 (impossible from MySQL, possible
    in a hand-built replay dir) must not overflow shiftleft(...,32) into
    negative ids — it routes to the hash fallback range instead."""
    from binwatch_spark.streaming.pipeline import _sequence_batch

    df = spark.createDataFrame(
        [
            ("weird-bin.99999999999", 10),   # > 2^31: hash fallback
            ("mysql-bin.000003", 10),        # normal suffix path
            ("no-suffix-name", 10),          # no digits: hash fallback
            ("odd-bin.2000000000", 10),      # in [2^30, 2^31): the hash
                                             # band — must ALSO fall back or
                                             # it could collide with a
                                             # hashed file's id range
        ],
        "binlog_file string, binlog_position long",
    )
    rows = {
        r["binlog_file"]: r["item_id"]
        for r in _sequence_batch(df, workers=2).collect()
    }
    assert all(v > 0 for v in rows.values())
    assert rows["mysql-bin.000003"] == (3 << 32) + 1
    # fallback ids live in the [2^30, 2^31) << 32 band; literal suffixes
    # stay below it, so the bands are disjoint by construction
    for name in ("weird-bin.99999999999", "no-suffix-name", "odd-bin.2000000000"):
        assert (1 << 30) <= (rows[name] >> 32) < (1 << 31)
    assert len(set(rows.values())) == 4


def test_binlog_reader_max_bytes_per_batch(tmp_path):
    """Admission control: with maxBytesPerBatch set, latestOffset advances in
    bounded byte steps (positions are byte offsets) instead of jumping to the
    tip — catch-up over a backlog becomes several checkpointed micro-batches.
    Union of the capped ranges must equal the uncapped range exactly."""
    from binwatch_spark.sources.binlog import (
        BinlogLocation,
        BinlogStreamReader,
        ReplayBinlogClient,
    )

    replay = str(tmp_path / "replay")
    write_replay(replay, EVENTS)
    reader = BinlogStreamReader(
        {"replaydir": replay, "maxbytesperbatch": "150"}
    )
    start = BinlogLocation.from_offset(reader.initialOffset())
    offsets = []
    prev = start
    for _ in range(10):
        cur = BinlogLocation.from_offset(reader.latestOffset())
        if cur == prev:
            break
        # bounded progress: within one file, at most 150 bytes per step
        if cur.file == prev.file:
            assert cur.position - prev.position <= 150
        offsets.append((prev, cur))
        prev = cur
    tip = ReplayBinlogClient(replay).latest_location()
    assert prev == tip  # converges to the tip
    assert len(offsets) > 1  # and actually took multiple batches
    # no event lost or duplicated across the capped ranges
    client = ReplayBinlogClient(replay)
    seen = [
        (rec["binlog_file"], rec["binlog_position"])
        for s, e in offsets
        for rec in client.read_range(s, e)
    ]
    assert seen == sorted((f, p) for f, p, *_ in EVENTS)


def test_binlog_reader_uncapped_jumps_to_tip(tmp_path):
    from binwatch_spark.sources.binlog import BinlogLocation, BinlogStreamReader

    replay = str(tmp_path / "replay")
    write_replay(replay, EVENTS)
    reader = BinlogStreamReader({"replaydir": replay})
    reader.initialOffset()
    cur = BinlogLocation.from_offset(reader.latestOffset())
    assert cur == BinlogLocation("mysql-bin.000002", 80)


def test_binlog_datasource_capped_batches_drain(spark, tmp_path):
    """E2E through the real DataSource on a RUNNING stream: a backlog that
    arrives after batch 0 drains through several bounded micro-batches (the
    150-byte cap shows up as multiple offset commits), still delivering
    every event exactly once. Batch 0 itself is uncapped by design — Spark
    plans it before the reader has a start offset to cap against (the
    documented restart behavior) — so the capped path is exercised by
    appending events while the stream runs."""
    import time

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS[:1])  # batch 0: just the first event
    from binwatch_spark.sources import binlog

    binlog.register(spark)
    stream = (
        spark.readStream.format("mysql-binlog")
        .option("replayDir", f"{tmp}/replay")
        .option("maxBytesPerBatch", "150")
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", f"{tmp}/sink")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # wait for batch 0 to commit, then append the backlog
        deadline = time.time() + 60
        while time.time() < deadline and not os.path.isdir(f"{tmp}/ckpt/commits"):
            time.sleep(0.5)
        while time.time() < deadline and not os.listdir(f"{tmp}/ckpt/commits"):
            time.sleep(0.5)
        write_replay(f"{tmp}/replay", EVENTS[1:], filename="batch2.jsonl")
        expected = sorted((f, p) for f, p, *_ in EVENTS)
        got: list = []
        while time.time() < deadline and len(got) < len(expected):
            time.sleep(1)
            try:
                got = sorted(
                    (r["binlog_file"], r["binlog_position"])
                    for r in spark.read.parquet(f"{tmp}/sink").collect()
                )
            except Exception:
                got = []
    finally:
        q.stop()
    assert got == expected  # complete, no dupes
    n_batches = len(
        [f for f in os.listdir(f"{tmp}/ckpt/offsets") if not f.startswith(".")]
    )
    # the 4-event backlog spans > 150 bytes of binlog positions: the capped
    # reader must have taken at least two extra micro-batches past batch 0
    assert n_batches >= 3


def test_positional_binding_arity_mismatch_drops_and_counts(spark, tmp_path):
    """blreaderwork.go:255-273 parity: an event with ANY row whose arity
    disagrees with the discovered column count is dropped whole (never
    NULL-padded, never truncated) and counted through the
    positional_binder observed metric — batch via Observation, streaming
    via StreamingQueryProgress.observedMetrics into ProgressListener."""
    import time

    from pyspark.sql import Observation

    from binwatch_spark.observability import ProgressListener
    from binwatch_spark.sources.schema_probe import bind_positional_rows

    cols = {"testdb.users": ["id", "name"]}
    schema = "database string, table string, rows array<map<string,string>>"
    rows = [
        ("testdb", "users", [{"0": "1", "1": "ada"}]),  # ok
        ("testdb", "users", [{"0": "9"}]),  # short row → drop event
        ("testdb", "users", [{"0": "9", "1": "x", "2": "y"}]),  # long → drop
        # one good row + one bad row: the WHOLE event drops (reference
        # sets err and `continue`s past the event)
        ("testdb", "users", [{"0": "2", "1": "gra"}, {"0": "3"}]),
        # table with no discovered schema: positional rows can never be
        # named → dropped and counted separately (blreaderwork.go:248-250)
        ("testdb", "other", [{"0": "keep"}]),
    ]
    df = spark.createDataFrame(rows, schema)
    obs = Observation()
    out = bind_positional_rows(df, cols, observation=obs).collect()
    got = {(r["database"], r["table"]): r["rows"] for r in out}
    assert len(out) == 1
    assert got[("testdb", "users")] == [{"id": "1", "name": "ada"}]
    assert obs.get == {
        "arity_mismatch_events": 3,
        "unknown_table_events": 1,
        "events_seen": 5,
    }

    # Streaming replay of the same malformed fixture: the skip counter
    # surfaces in the progress listener, not just the batch Observation.
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    with open(os.path.join(replay, "b1.jsonl"), "w", encoding="utf-8") as fh:
        for _, _, evrows in [rows[0], rows[1], rows[4]]:
            fh.write(
                json.dumps(
                    {"database": "testdb", "table": "users", "rows": evrows}
                    if evrows != rows[4][2]
                    else {"database": "testdb", "table": "other", "rows": evrows}
                )
                + "\n"
            )
    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema(schema).json(replay)
        bound = bind_positional_rows(stream, cols)
        q = (
            bound.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        deadline = time.time() + 20
        while listener.arity_mismatch_events < 1 and time.time() < deadline:
            time.sleep(0.2)  # listener events are delivered asynchronously
        assert listener.arity_mismatch_events == 1
        assert listener.unknown_table_events == 1
        assert (
            listener.last_progress["observedMetrics"]["positional_binder"][
                "events_seen"
            ]
            == 3
        )
    finally:
        spark.streams.removeListener(listener)


def test_cli_list_and_query(spark, capsys):
    """The analytics surface is CLI-reachable: `list` names every
    registered query with its oracle status; `query` runs one against a
    parquet dir and prints JSON rows (limit honored), or the plan with
    --explain; unknown names exit 1 with a hint."""
    from tests.conftest import SF_SMALL

    from binwatch_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert any(ln.startswith("q13_multijoin_pricing\toracle") for ln in out)
    assert any(ln.startswith("q55_approx_distinct\trows-only") for ln in out)

    assert (
        main(["query", "q12_join_orders_customer", "--sf-dir", SF_SMALL,
              "--limit", "2"])
        == 0
    )
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 2 and out[0].startswith("{")

    assert (
        main(["query", "q12_join_orders_customer", "--sf-dir", SF_SMALL,
              "--explain"])
        == 0
    )
    assert "Physical Plan" in capsys.readouterr().out

    assert main(["query", "definitely_not_a_query"]) == 1


def test_pipeline_positional_binding_end_to_end(spark, tmp_path):
    """P1 through the REAL pipeline: a positional replay stream
    (source.positionalRows + source.columns) is bound to named rows before
    routing/templating, and an arity-mismatched event is dropped by the
    gate instead of reaching any connector NULL-padded."""
    tmp = str(tmp_path)
    write_replay(
        f"{tmp}/replay",
        [
            ("mysql-bin.000001", 100, "testdb", "users", "INSERT",
             [{"0": "1", "1": "ada"}]),
            # short row: arity 1 vs discovered 2 → dropped whole
            ("mysql-bin.000001", 200, "testdb", "users", "INSERT",
             [{"0": "9"}]),
            ("mysql-bin.000001", 300, "testdb", "users", "INSERT",
             [{"0": "2", "1": "gra"}]),
        ],
    )
    cfg_doc = make_cfg(tmp)
    cfg_doc["source"]["positionalRows"] = True
    cfg_doc["source"]["columns"] = {"testdb.users": ["id", "name"]}
    run_until_done(spark, cfg_doc)
    lines = read_lines(f"{tmp}/out/inserts.jsonl")
    rows = [json.loads(ln)["rows"] for ln in lines]
    assert rows == [
        [{"id": "1", "name": "ada"}],
        [{"id": "2", "name": "gra"}],
    ]


_GTID_UUID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"


def _write_gtid_replay(dirpath: str) -> None:
    """Four GTID-tagged transactions spanning a rotate (two files)."""
    os.makedirs(dirpath, exist_ok=True)
    events = [
        ("mysql-bin.000001", 100, f"{_GTID_UUID}:1"),
        ("mysql-bin.000001", 200, f"{_GTID_UUID}:2"),
        ("mysql-bin.000002", 4, f"{_GTID_UUID}:3"),  # rotate
        ("mysql-bin.000002", 150, f"{_GTID_UUID}:4"),
    ]
    with open(os.path.join(dirpath, "gtid1.jsonl"), "w", encoding="utf-8") as fh:
        for i, (file, pos, gtid) in enumerate(events):
            fh.write(
                json.dumps(
                    {
                        "event_type": "WriteRowsEventV2",
                        "binlog_file": file,
                        "binlog_position": pos,
                        "database": "testdb",
                        "table": "users",
                        "operation": "INSERT",
                        "rows": [{"id": str(i)}],
                        "gtid": gtid,
                    }
                )
                + "\n"
            )


def test_replay_resume_by_gtid_across_rotate(tmp_path):
    """VERDICT r06 #6: GTID sets as first-class resumable offsets. A resume
    token carrying ONLY the executed set (no file/pos — the failover form)
    must deliver exactly the un-consumed transactions, including those past
    a rotate; locations handed out by the client carry the cumulative set
    so checkpoints stay GTID-resumable batch over batch."""
    from binwatch_spark.sources.binlog import (
        BinlogLocation,
        BinlogStreamReader,
        ReplayBinlogClient,
    )

    replay = str(tmp_path / "replay")
    _write_gtid_replay(replay)
    client = ReplayBinlogClient(replay)
    tip = client.latest_location()
    assert tip.gtid_set == f"{_GTID_UUID}:1-4"

    # failover-style resume: consumed set only, no file/pos
    start = BinlogLocation("", 0, gtid_set=f"{_GTID_UUID}:1-2")
    got = [
        (r["binlog_file"], r["binlog_position"])
        for r in client.read_range(start, tip)
    ]
    assert got == [("mysql-bin.000002", 4), ("mysql-bin.000002", 150)]

    # set membership is authoritative, not positions: a HOLE in the set
    # (txn 2 missing) re-delivers exactly the hole plus the tail
    holey = BinlogLocation("", 0, gtid_set=f"{_GTID_UUID}:1:3")
    got = [
        (r["binlog_file"], r["binlog_position"])
        for r in client.read_range(holey, tip)
    ]
    assert got == [("mysql-bin.000001", 200), ("mysql-bin.000002", 150)]

    # DataSource surface: startGtidSet rides the offset JSON; the end
    # offset carries the cumulative set for the next restart
    reader = BinlogStreamReader(
        {"replaydir": replay, "startgtidset": f"{_GTID_UUID}:1-2"}
    )
    s = reader.initialOffset()
    e = reader.latestOffset()
    assert s["gtid_set"] == f"{_GTID_UUID}:1-2"
    assert e["gtid_set"] == f"{_GTID_UUID}:1-4"
    recs = list(
        client.read_range(
            BinlogLocation.from_offset(s), BinlogLocation.from_offset(e)
        )
    )
    assert [(r["binlog_file"], r["binlog_position"]) for r in recs] == [
        ("mysql-bin.000002", 4),
        ("mysql-bin.000002", 150),
    ]


def test_gtid_untagged_records_fall_back_to_file_pos(tmp_path):
    """Mixed stream: untagged records (non-GTID master sections) keep the
    file/pos rule while tagged ones resume by set — the documented
    fallback contract."""
    from binwatch_spark.sources.binlog import BinlogLocation, ReplayBinlogClient

    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    recs = [
        ("mysql-bin.000001", 100, f"{_GTID_UUID}:1"),
        ("mysql-bin.000001", 200, None),  # untagged
        ("mysql-bin.000001", 300, f"{_GTID_UUID}:2"),
    ]
    with open(os.path.join(replay, "b.jsonl"), "w", encoding="utf-8") as fh:
        for file, pos, gtid in recs:
            rec = {
                "event_type": "WriteRowsEventV2",
                "binlog_file": file,
                "binlog_position": pos,
                "database": "d",
                "table": "t",
                "operation": "INSERT",
                "rows": [],
            }
            if gtid:
                rec["gtid"] = gtid
            fh.write(json.dumps(rec) + "\n")
    client = ReplayBinlogClient(replay)
    tip = client.latest_location()
    # start: tagged txn 1 consumed; file/pos cursor sits at 150 — the
    # untagged record at 200 is ahead of the cursor, so it delivers
    start = BinlogLocation(
        "mysql-bin.000001", 150, gtid_set=f"{_GTID_UUID}:1"
    )
    got = [
        (r["binlog_position"], r.get("gtid"))
        for r in client.read_range(start, tip)
    ]
    assert got == [(200, None), (300, f"{_GTID_UUID}:2")]


def test_binlog_datasource_gtid_start_through_engine(spark, tmp_path):
    """startGtidSet through the REAL streaming engine: the DataSource
    resumes a GTID-tagged replay by set membership — only un-consumed
    transactions reach the sink, including those past the rotate — and
    the committed end offsets carry the cumulative set."""
    tmp = str(tmp_path)
    _write_gtid_replay(f"{tmp}/replay")
    from binwatch_spark.sources import binlog

    binlog.register(spark)
    stream = (
        spark.readStream.format("mysql-binlog")
        .option("replayDir", f"{tmp}/replay")
        .option("startGtidSet", f"{_GTID_UUID}:1-2")
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", f"{tmp}/sink")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r["binlog_file"], r["binlog_position"])
        for r in spark.read.parquet(f"{tmp}/sink").collect()
    )
    assert rows == [("mysql-bin.000002", 4), ("mysql-bin.000002", 150)]


def test_positional_binder_empty_schema_map_drops_everything(spark):
    """An EMPTY discovered-schema map (allowlist matched nothing / probe
    failed soft) is the all-tables-unknown limit of the drop-and-count
    rule: every positional event drops, counted under
    unknown_table_events — raw positional maps must never flow downstream
    unnamed (blreaderwork.go:248-250)."""
    from pyspark.sql import Observation

    from binwatch_spark.sources.schema_probe import bind_positional_rows

    schema = "database string, table string, rows array<map<string,string>>"
    df = spark.createDataFrame(
        [
            ("testdb", "users", [{"0": "1", "1": "ada"}]),
            ("testdb", "other", [{"0": "x"}]),
        ],
        schema,
    )
    obs = Observation()
    out = bind_positional_rows(df, {}, observation=obs).collect()
    assert out == []
    assert obs.get == {
        "arity_mismatch_events": 0,
        "unknown_table_events": 2,
        "events_seen": 2,
    }


def _webhook_connector(url: str, **fields):
    from binwatch_spark.config import ConnectorConfig, WebhookConfig
    from binwatch_spark.sinks.connectors import WebhookConnector

    return WebhookConnector(
        ConnectorConfig(
            name="hook", type="webhook", webhook=WebhookConfig(url=url, **fields)
        )
    )


def test_webhook_auth_header_precedence():
    """connectors.webhook.go:59-61 parity: basic auth applies only when
    BOTH credentials are set AND no explicit Authorization header exists —
    an explicit header is never clobbered by the credentials."""
    import base64

    sink = _FlakyWebhook()
    try:
        def auth_received(**fields):
            _webhook_connector(f"http://127.0.0.1:{sink.port}/hook", **fields).send(b"x")
            return sink.requests[-1][1]

        # both creds, no header → basic auth
        assert auth_received(username="u", password="p") == (
            "Basic " + base64.b64encode(b"u:p").decode("ascii")
        )
        # explicit Authorization header wins over the credentials
        assert auth_received(
            username="u", password="p", headers={"Authorization": "Bearer t"}
        ) == "Bearer t"
        # one credential only → no header (the reference requires both)
        assert auth_received(username="u") is None
    finally:
        sink.shutdown()


def test_webhook_keep_alive_reconnects_once_and_raises_on_5xx():
    """One connection carries every send; a connection the server closed
    while idle is reopened and the payload delivered once; a 500 raises
    and is not resent."""
    import time

    sink = _FlakyWebhook(fail_n=10**9, fail_path="/down")
    try:
        hook = _webhook_connector(f"http://127.0.0.1:{sink.port}/hook")
        for i in range(50):
            hook.send(b"%d" % i)
        assert sink.connections == 1
        assert sink.bodies("/hook") == [b"%d" % i for i in range(50)]

        sink.drop_connections()
        time.sleep(0.2)  # let the FIN reach the client's idle socket
        hook.send(b"after-drop")
        assert sink.connections == 2
        assert sink.bodies("/hook").count(b"after-drop") == 1

        down = _webhook_connector(f"http://127.0.0.1:{sink.port}/down")
        with pytest.raises(RuntimeError, match="500"):
            down.send(b"lost")
        assert sink.bodies("/down") == [b"lost"]
    finally:
        sink.shutdown()


def test_single_pass_fan_out_order_and_redelivery(spark, tmp_path):
    """Two routes, senderWorkers 1, a replay spanning a binlog rotation:
    one sorted pass sends each route exactly its events in binlog order.
    A 500 from the second route's sink aborts the batch before its
    commit, and run_supervised redelivers it (at-least-once)."""
    import contextlib
    import io

    from binwatch_spark.sources.envelope import read_envelope_batch
    from binwatch_spark.streaming.pipeline import (
        _route_rows,
        compile_routes,
        envelope_transform,
        run_supervised,
    )

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    sink = _FlakyWebhook(fail_n=1, fail_path="/all")
    try:
        doc = make_cfg(tmp)
        doc["server"]["restartSyncerOnError"] = True
        doc["server"]["stopInError"] = True
        doc["connectors"] = [
            {"name": "sink-insert", "type": "webhook",
             "webhook": {"url": f"http://127.0.0.1:{sink.port}/inserts"}},
            {"name": "sink-all", "type": "webhook",
             "webhook": {"url": f"http://127.0.0.1:{sink.port}/all"}},
        ]
        cfg = parse(doc)

        # the ordered plan sorts once, inside _sequence_batch's window
        batch = envelope_transform(read_envelope_batch(spark, f"{tmp}/replay"), cfg)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _route_rows(batch, cfg, compile_routes(cfg), workers=1).explain()
        assert buf.getvalue().count(" Sort [") == 1

        run_supervised(spark, cfg, available_now=True, max_restarts=3)
        assert os.path.exists(f"{tmp}/checkpoint/commits/0")

        # first attempt: event 1 reached /inserts, then /all answered 500
        # and the batch aborted; the redelivered batch sends everything
        inserts = [json.loads(b)["itemID"] for b in sink.bodies("/inserts")]
        assert inserts == ["1", "1", "4"]
        sent_all = [json.loads(b) for b in sink.bodies("/all")]
        order = [(p["Log"]["BinlogFile"], p["Log"]["BinlogPosition"]) for p in sent_all]
        assert order[0] == ("mysql-bin.000001", 100)  # the 500'd attempt
        assert order[1:] == [
            ("mysql-bin.000001", 100),
            ("mysql-bin.000001", 200),
            ("mysql-bin.000002", 50),
            ("mysql-bin.000002", 80),
        ]
        # each webhook kept one connection per query run
        assert sink.connections == 4
    finally:
        sink.shutdown()


def test_gtid_checkpoint_cycle_across_rotate(spark, tmp_path):
    """VERDICT r07 #7: GTID-set offsets through Spark's OWN offset log.
    Phase 1 consumes from an explicit start set and checkpoints; the
    query is then gone (availableNow terminated). New GTID-tagged
    transactions arrive in a NEW binlog file (another rotate). Phase 2
    restarts from the checkpoint alone (no startGtidSet option — the
    offset must come from Spark's offset log): exactly the new
    transactions append, proving the gtid_set JSON round-trips through
    the checkpoint across a rotate with no duplicate and no loss."""
    tmp = str(tmp_path)
    _write_gtid_replay(f"{tmp}/replay")
    from binwatch_spark.sources import binlog

    binlog.register(spark)

    def run(options: dict) -> None:
        stream = spark.readStream.format("mysql-binlog")
        for k, v in options.items():
            stream = stream.option(k, v)
        q = (
            stream.load()
            .writeStream.format("parquet")
            .option("path", f"{tmp}/sink")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run({"replayDir": f"{tmp}/replay", "startGtidSet": f"{_GTID_UUID}:1-2"})
    rows = sorted(
        (r["binlog_file"], r["binlog_position"])
        for r in spark.read.parquet(f"{tmp}/sink").collect()
    )
    assert rows == [("mysql-bin.000002", 4), ("mysql-bin.000002", 150)]

    # the committed offset in Spark's log carries the cumulative set
    import glob as _glob

    offset_files = sorted(_glob.glob(f"{tmp}/ckpt/offsets/*"))
    assert offset_files, "no offset log written"
    last = open(offset_files[-1]).read()
    assert f"{_GTID_UUID}:1-4" in last

    # two more transactions land in a NEW file (second rotate)
    with open(
        os.path.join(f"{tmp}/replay", "gtid2.jsonl"), "w", encoding="utf-8"
    ) as fh:
        for i, (file, pos, gtid) in enumerate(
            [
                ("mysql-bin.000003", 4, f"{_GTID_UUID}:5"),
                ("mysql-bin.000003", 90, f"{_GTID_UUID}:6"),
            ]
        ):
            fh.write(
                json.dumps(
                    {
                        "event_type": "WriteRowsEventV2",
                        "binlog_file": file,
                        "binlog_position": pos,
                        "database": "testdb",
                        "table": "users",
                        "operation": "INSERT",
                        "rows": [{"id": str(10 + i)}],
                        "gtid": gtid,
                    }
                )
                + "\n"
            )

    # restart purely from the checkpoint — no start options
    run({"replayDir": f"{tmp}/replay"})
    rows = sorted(
        (r["binlog_file"], r["binlog_position"])
        for r in spark.read.parquet(f"{tmp}/sink").collect()
    )
    assert rows == [
        ("mysql-bin.000002", 4),
        ("mysql-bin.000002", 150),
        ("mysql-bin.000003", 4),
        ("mysql-bin.000003", 90),
    ]
    offset_files = sorted(_glob.glob(f"{tmp}/ckpt/offsets/*"))
    last = open(offset_files[-1]).read()
    assert f"{_GTID_UUID}:1-6" in last


def test_replay_resume_by_mariadb_gtid_across_rotate(tmp_path):
    """MariaDB-flavor GTID tags (domain-server-seq) through the replay
    client: resume by per-domain watermark across a rotate, cumulative
    position carried on handed-out locations, flavor auto-dispatched from
    the tag shape."""
    from binwatch_spark.sources.binlog import (
        BinlogLocation,
        ReplayBinlogClient,
    )

    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    events = [
        ("maria-bin.000001", 100, "0-1-1"),
        ("maria-bin.000001", 200, "0-1-2"),
        ("maria-bin.000002", 4, "0-1-3"),  # rotate
        ("maria-bin.000002", 150, "1-2-1"),  # second domain
    ]
    with open(os.path.join(replay, "m.jsonl"), "w", encoding="utf-8") as fh:
        for i, (file, pos, gtid) in enumerate(events):
            fh.write(
                json.dumps(
                    {
                        "event_type": "WriteRowsEventV2",
                        "binlog_file": file,
                        "binlog_position": pos,
                        "database": "testdb",
                        "table": "users",
                        "operation": "INSERT",
                        "rows": [{"id": str(i)}],
                        "gtid": gtid,
                    }
                )
                + "\n"
            )
    client = ReplayBinlogClient(replay)
    tip = client.latest_location()
    # cumulative position: domain 0 watermark 3, domain 1 watermark 1
    assert tip.gtid_set == "0-1-3,1-2-1"
    start = BinlogLocation("", 0, gtid_set="0-1-2")
    got = [
        (r["binlog_file"], r["binlog_position"])
        for r in client.read_range(start, tip)
    ]
    # 0-1-1 and 0-1-2 are under the domain-0 watermark; 0-1-3 and the
    # domain-1 txn deliver (domain 1 absent from the start position)
    assert got == [("maria-bin.000002", 4), ("maria-bin.000002", 150)]


def test_concurrent_routes_independent_checkpoints_and_restart(
    spark, tmp_path
):
    """R3 as real concurrent queries (VERDICT r10 #6): two routes run as
    two streaming queries over the same staged source with INDEPENDENT
    checkpoints. The webhook route's sink is down for its whole first
    attempt — that query FAILS; the file route is untouched and completes.
    Restarting ONLY the failed route from its own checkpoint redelivers
    its uncommitted batch (per-route at-least-once) while the healthy
    route's re-run commits nothing new (its offset log already covers the
    source)."""
    from binwatch_spark.streaming.pipeline import run_routes_concurrent

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    sink = _FlakyWebhook(fail_n=10)  # covers every send of attempt 1
    try:
        doc = make_cfg(tmp)
        doc["connectors"][0] = {
            "name": "sink-insert",
            "type": "webhook",
            "webhook": {"url": f"http://127.0.0.1:{sink.port}/hook"},
        }
        cfg = parse(doc)

        queries = run_routes_concurrent(spark, cfg, available_now=True)
        assert set(queries) == {"inserts-only", "all-ops"}
        results = {}
        for name, q in queries.items():
            try:
                q.awaitTermination(120)
                results[name] = "ok"
            except Exception:
                results[name] = "failed"
        # one route crashed, the other finished clean — lifecycles decoupled
        assert results["inserts-only"] == "failed"
        assert results["all-ops"] == "ok"
        all_ops = read_lines(f"{tmp}/out/all.jsonl")
        assert len(all_ops) == 4  # healthy route delivered everything
        assert sink.received == []  # failed route committed nothing

        # independent restart: ONLY the failed route, from its checkpoint
        sink.fails_left = 0
        (q2,) = run_routes_concurrent(
            spark, cfg, available_now=True, route_names=["inserts-only"]
        ).values()
        q2.awaitTermination(120)
        assert not q2.isActive
        payloads = [json.loads(b) for b in sink.received]
        assert len(payloads) == 2  # both INSERTs, exactly the route's set
        assert {p["op"] for p in payloads} == {"INSERT"}

        # healthy route's re-run is a no-op: its own checkpoint already
        # covers the staged source (no duplicate delivery)
        (q3,) = run_routes_concurrent(
            spark, cfg, available_now=True, route_names=["all-ops"]
        ).values()
        q3.awaitTermination(120)
        assert len(read_lines(f"{tmp}/out/all.jsonl")) == 4
    finally:
        sink.shutdown()


def test_cli_sync_per_route_end_to_end(tmp_path):
    """--per-route drives run_routes_concurrent from the CLI: both routes
    drain to completion under availableNow with independent checkpoints,
    same delivered output as the shared-query form."""
    import yaml as _yaml

    from binwatch_spark.__main__ import main

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    doc = make_cfg(tmp)
    cfg_path = f"{tmp}/config.yaml"
    with open(cfg_path, "w", encoding="utf-8") as fh:
        _yaml.safe_dump(doc, fh)
    rc = main(
        [
            "sync",
            "--config",
            cfg_path,
            "--available-now",
            "--per-route",
            "--no-serve-api",
        ]
    )
    assert rc == 0
    assert len(read_lines(f"{tmp}/out/inserts.jsonl")) == 2
    assert len(read_lines(f"{tmp}/out/all.jsonl")) == 4
    # per-route checkpoints actually materialized
    import os as _os

    assert sorted(_os.listdir(f"{tmp}/checkpoint/routes")) == [
        "all-ops",
        "inserts-only",
    ]


def test_per_route_server_ids_distinct_on_live_source(spark, tmp_path, monkeypatch):
    """ADVICE r11 #2: concurrent routes on a LIVE master must not share
    cfg.source.serverID (MySQL kills the prior dump when a duplicate id
    registers). Each route's stream is built from a per-route source
    config: route.serverID if set, else base + 1 + position in the FULL
    route list — stable across subset restarts, and never the base id
    itself (ADVICE r12: the shared single-query pipeline uses the base,
    so a derived id equal to it would kill a concurrently running shared
    consumer of the same config)."""
    from binwatch_spark.streaming import pipeline as pl

    tmp = str(tmp_path)
    write_replay(f"{tmp}/replay", EVENTS)
    doc = make_cfg(tmp)
    replay_dir = doc["source"].pop("replayDir")  # live-source shape
    doc["source"]["serverID"] = 500
    cfg = parse(doc)

    seen: list[int] = []

    def fake_source(spark_, route_cfg):
        seen.append(route_cfg.source.server_id)
        from binwatch_spark.sources.envelope import read_envelope_stream

        return read_envelope_stream(spark_, replay_dir)

    monkeypatch.setattr(pl, "source_stream", fake_source)
    queries = pl.run_routes_concurrent(spark, cfg, available_now=True)
    for q in queries.values():
        q.awaitTermination(120)
    # distinct, base + 1 + position — and neither equals the base 500
    assert sorted(seen) == [501, 502]

    # subset restart keeps the SAME id the route had in the full list
    seen.clear()
    (q2,) = pl.run_routes_concurrent(
        spark, cfg, available_now=True, route_names=["all-ops"]
    ).values()
    q2.awaitTermination(120)
    assert seen == [502]

    # explicit per-route override wins
    doc["routes"][0]["serverID"] = 900
    cfg2 = parse(doc)
    seen.clear()
    qs = pl.run_routes_concurrent(spark, cfg2, available_now=True)
    for q in qs.values():
        q.awaitTermination(120)
    assert sorted(seen) == [502, 900]


def test_per_route_colliding_server_ids_refused(spark, tmp_path):
    """Explicit overrides that collide on a live source are a config
    error BEFORE any query starts — not a disconnect loop at runtime."""
    from binwatch_spark.config import ConfigError
    from binwatch_spark.streaming.pipeline import run_routes_concurrent

    tmp = str(tmp_path)
    doc = make_cfg(tmp)
    doc["source"].pop("replayDir")
    doc["routes"][0]["serverID"] = 7
    doc["routes"][1]["serverID"] = 7
    cfg = parse(doc)
    with pytest.raises(ConfigError, match="distinct replica server ids"):
        run_routes_concurrent(spark, cfg, available_now=True)


class _FakeStreams:
    def awaitAnyTermination(self):
        pass

    def resetTerminated(self):
        pass


class _FakeSparkForSupervise:
    streams = _FakeStreams()


class _ScriptedQuery:
    """isActive until its script is exhausted; then terminates with the
    scripted exception (None = clean stop)."""

    def __init__(self, lifetimes: list):
        self._script = list(lifetimes)

    @property
    def isActive(self):
        return bool(self._script) and self._script[0] == "tick"

    def exception(self):
        return self._script[0] if self._script else None

    def advance(self):
        if self._script:
            self._script.pop(0)


def test_supervise_routes_restarts_failed_route_alone(tmp_path):
    """ADVICE r11 #3: in continuous mode the supervisor must surface a
    failed route promptly (not behind a never-terminating sibling) and —
    with restartSyncerOnError — restart ONLY that route; a poison route
    is bounded by max_restarts and reported."""
    from binwatch_spark.streaming.pipeline import supervise_routes

    doc = make_cfg(str(tmp_path))
    doc["server"]["restartSyncerOnError"] = True
    cfg = parse(doc)

    healthy = _ScriptedQuery(["tick", "tick", None])  # stops clean later
    poison = _ScriptedQuery([RuntimeError("sink down")])
    queries = {"all-ops": healthy, "inserts-only": poison}

    failures: list[str] = []
    restart_log: list[str] = []

    def restart(name):
        restart_log.append(name)
        return {name: _ScriptedQuery([RuntimeError("sink still down")])}

    spark = _FakeSparkForSupervise()
    orig_wait = _FakeStreams.awaitAnyTermination

    def tick(self):
        healthy.advance()

    _FakeStreams.awaitAnyTermination = tick
    try:
        failed = supervise_routes(
            spark,
            cfg,
            queries,
            max_restarts=2,
            restart=restart,
            on_failure=lambda n, e: failures.append(n),
        )
    finally:
        _FakeStreams.awaitAnyTermination = orig_wait
    # the poison route was restarted alone, twice, then reported failed;
    # the healthy route was never restarted and exited clean
    assert restart_log == ["inserts-only", "inserts-only"]
    assert failed == ["inserts-only"]
    assert failures == ["inserts-only"] * 3


def test_supervise_routes_catches_failure_before_entry(tmp_path):
    """ADVICE r12 (medium): a route that fails between writer.start() and
    supervisor entry must be handled IMMEDIATELY — the r11 ordering
    called resetTerminated() after the queries had started, wiping the
    fast failure's termination signal and then blocking forever in
    awaitAnyTermination behind a never-terminating sibling. The fix
    sweeps isActive each iteration (termination STATE survives the
    reset) and only awaits when every tracked query is still active; to
    prove it, awaitAnyTermination here RAISES — any call while a dead
    query is tracked is the regression."""
    from binwatch_spark.streaming.pipeline import supervise_routes

    doc = make_cfg(str(tmp_path))
    doc["server"]["restartSyncerOnError"] = False
    cfg = parse(doc)

    dead_on_entry = _ScriptedQuery([RuntimeError("died before supervise")])
    # a continuous-mode sibling that never terminates on its own: the
    # only way this test finishes is the supervisor handling the dead
    # route WITHOUT waiting, then the sibling stopping clean on the one
    # permitted await.
    sibling = _ScriptedQuery(["tick", None])
    failures: list[str] = []

    spark = _FakeSparkForSupervise()
    orig_wait = _FakeStreams.awaitAnyTermination

    def guarded_wait(self):
        # supervise pops handled routes from its own copy; promptness is
        # observable as: by the FIRST await, the dead-on-entry route has
        # already been reported failed.
        assert failures == [
            "fast-fail"
        ], "awaitAnyTermination called before the fast failure was handled"
        sibling.advance()

    queries = {"fast-fail": dead_on_entry, "sibling": sibling}
    _FakeStreams.awaitAnyTermination = guarded_wait
    try:
        failed = supervise_routes(
            spark,
            cfg,
            queries,
            restart=lambda name: {},
            on_failure=lambda n, e: failures.append(n),
        )
    finally:
        _FakeStreams.awaitAnyTermination = orig_wait
    assert failed == ["fast-fail"]
    assert failures == ["fast-fail"]
