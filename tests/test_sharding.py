"""Sharding property tests — ported from the reference's only test file
(blsenderwork_test.go:42-190) onto DataFrames:

- known-vector parity with Go hash/fnv (FNV-1a 64),
- totality + disjointness: every event lands on exactly one of N shards,
- balance within 20% over the event fixture,
- even byte-step positions still balance (regression for pos%count pathology),
- key affinity: the same key always routes to the same shard,
- the relay sender's rule: rendered key template, else position bytes.
"""

from __future__ import annotations

import json
import struct

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from binwatch_spark.config import ShardingConfig
from binwatch_spark.operators.sharding import fnv1a64_bytes, make_shard_udf
from binwatch_spark.streaming import pipeline
from binwatch_spark.tables import load
from tests.conftest import SF_SMALL


class _Recorder:
    """Connector stand-in that keeps every payload it is sent."""

    def __init__(self):
        self.payloads: list[dict] = []

    def send(self, payload: bytes) -> None:
        self.payloads.append(json.loads(payload))

    def close(self) -> None:
        pass


def _row(pos: int, data: dict, table: str = "users", item_id: int = 1) -> Row:
    """A matched row as _route_rows hands it to the sender (one route)."""
    return Row(
        event_type="WriteRowsEventV2",
        binlog_file="mysql-bin.000001",
        binlog_position=pos,
        database="testdb",
        table=table,
        operation="INSERT",
        rows=[data],
        item_id=item_id,
        **{pipeline._route_flag(0): True},
    )


def _sent_positions(monkeypatch, rows, count, index, key_template="") -> set[int]:
    """Binlog positions the relay sender delivers as shard `index` of
    `count` (one match-all route, default JSON payload)."""
    sink = _Recorder()
    monkeypatch.setattr(pipeline, "make_connector", lambda cfg: sink)
    route = pipeline.CompiledRoute("all", "sink", [], "", "")
    sender = pipeline._RouteSender(
        [route], {"sink": None}, ShardingConfig(True, count, index, key_template)
    )
    sender.send(rows)
    return {p["Log"]["BinlogPosition"] for p in sink.payloads}


def test_fnv1a64_known_vectors():
    # Published FNV-1a 64 test vectors (offset basis / "a" / "foobar").
    assert fnv1a64_bytes(b"") == 14695981039346656037
    assert fnv1a64_bytes(b"a") == 0xAF63DC4C8601EC8C
    assert fnv1a64_bytes(b"foobar") == 0x85944171F73967E8


def test_shard_totality_and_disjointness(spark):
    ev = load(spark, SF_SMALL, "events")
    n = ev.count()
    shard = make_shard_udf(4)(F.col("event_id"))
    counts = (
        ev.select(shard.alias("shard")).groupBy("shard").count().collect()
    )
    assert sum(r["count"] for r in counts) == n  # totality: each event → one shard
    assert {r["shard"] for r in counts} <= {0, 1, 2, 3}


def test_shard_balance_within_20pct(spark):
    # blsenderwork_test.go:53-83: load balanced within 20% of even split.
    ev = load(spark, SF_SMALL, "events")
    n = ev.count()
    shard = make_shard_udf(4)(F.col("event_id"))
    counts = [
        r["count"]
        for r in ev.select(shard.alias("shard")).groupBy("shard").count().collect()
    ]
    expected = n / 4
    for c in counts:
        assert abs(c - expected) / expected < 0.2


def test_even_byte_step_positions_balance(spark):
    # blsenderwork_test.go:90-121: positions 150*i with count=2 must still
    # balance after FNV-1a (guards raw pos%count pathology).
    df = spark.range(3000).select((F.col("id") * 150).alias("pos"))
    shard = make_shard_udf(2)(F.col("pos"))
    counts = [
        r["count"]
        for r in df.select(shard.alias("shard")).groupBy("shard").count().collect()
    ]
    assert len(counts) == 2
    for c in counts:
        assert abs(c - 1500) / 1500 < 0.2


def test_key_affinity(spark, monkeypatch):
    # blsenderwork_test.go:125-190: the same rendered key always lands on the
    # same shard, and the key space spreads across shards — through the
    # relay sender's check, keyed on each event's user_id.
    events = load(spark, SF_SMALL, "events").select("event_id", "user_id").collect()
    rows = [
        _row(e["event_id"], {"user_id": str(e["user_id"])}, item_id=i + 1)
        for i, e in enumerate(events)
    ]
    shard_of = {}
    for index in range(4):
        for pos in _sent_positions(
            monkeypatch, rows, 4, index, "{{ (index .Data.Rows 0).user_id }}"
        ):
            assert pos not in shard_of  # disjoint
            shard_of[pos] = index
    assert len(shard_of) == len(events)  # total
    per_key: dict = {}
    for e in events:
        per_key.setdefault(e["user_id"], set()).add(shard_of[e["event_id"]])
    assert all(len(shards) == 1 for shards in per_key.values())
    assert len(set(shard_of.values())) >= 2  # ids spread across shards


def test_shard_matches_python_reference(spark):
    # Cross-check the vectorized numpy path against the scalar bytes path.
    rows = (
        load(spark, SF_SMALL, "events")
        .select("event_id", make_shard_udf(4)(F.col("event_id")).alias("shard"))
        .limit(50)
        .collect()
    )
    for r in rows:
        expect = fnv1a64_bytes(struct.pack("<Q", r["event_id"])) % 4
        assert r["shard"] == expect


def test_sender_shard_rule(monkeypatch):
    """R1 in the relay sender (blsenderwork.go:126-149): a row is sent iff
    FNV-1a64(key) % count == index, where the key is the rendered key
    template, or the position's 8 little-endian bytes when there is no key
    template or rendering raises. A SQL-NULL key column renders ''."""
    events = [
        (4 + 150 * i, None if i % 5 == 0 else str(i % 13), f"t{i % 7}")
        for i in range(60)
    ]
    rows = [
        _row(pos, {"id": uid, "x": None}, table=table, item_id=i + 1)
        for i, (pos, uid, table) in enumerate(events)
    ]

    def position(pos, uid, table):
        return struct.pack("<Q", pos)

    cases = {
        # the documented key; a NULL id renders '' and hashes that
        "{{ (index .Data.Rows 0).id }}": lambda pos, uid, table: (uid or "").encode(),
        "{{ .Data.Table | upper }}": lambda pos, uid, table: table.upper().encode(),
        "": position,
        "{{ (index .Data.Rows 0).missing }}": position,  # missing column raises
        "{{ (index .Data.Rows 1).id }}": position,  # row index out of range raises
        "{{ (index .Data.Rows 0).x }}": lambda pos, uid, table: b"",  # SQL NULL
    }
    for template, key in cases.items():
        for count in (2, 4):
            sent = [
                _sent_positions(monkeypatch, rows, count, index, template)
                for index in range(count)
            ]
            for index in range(count):
                want = {
                    pos
                    for pos, uid, table in events
                    if fnv1a64_bytes(key(pos, uid, table)) % count == index
                }
                assert sent[index] == want, (template, count, index)
            assert sum(len(s) for s in sent) == len(events), template
