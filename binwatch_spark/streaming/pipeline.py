"""The end-to-end CDC pipeline: config → readStream → transforms → routes →
connector sinks.

Topology parity with the reference (binwatch.go:118-144, SURVEY §3.2):

    source (S1/S2/S4)                     readStream (binlog DataSource or
      → allowlist filter (F1)               envelope replay stream)
      → operation decode (F2)             column expressions (cdc.py)
      → itemByRow explode (P3)
      → item sequencing (Q1)              one row_number over (binlog_file,
                                            binlog_position): gapless ids
                                            1..N per micro-batch
      → per route: predicate (R2)         foreachBatch, one pass: one flag
                                            column per route → keep rows any
                                            route matches (no Python UDF in
                                            the plan)
      → shard check (R1),                 one sender per process (driver for
        template render (T1),               senderWorkers=1, else
        connector send (K1/K2)              foreachPartition) hashes each
                                            row's key (FNV-1a64) and walks
                                            the routes for the rows it keeps
      → checkpoint commit (C1)            streaming offset log, per batch

Semantics preserved: at-least-once (send happens inside the batch, the
offset commits after — crash between send and commit ⇒ redelivery,
blsenderwork.go:193-213); ordering guaranteed only with senderWorkers=1
(README.md:38) — the batch is sorted once by (binlog_file,
binlog_position) into one partition and sent from the driver in that
order; first route error aborts the batch (→ retry) like the reference
aborts remaining routes (blsenderwork.go:197).

Topologies: ``run_pipeline`` starts the one shared query;
``run_routes_concurrent`` starts one ``run_pipeline`` per route, each on a
config narrowed to that route. Either way ``run_supervised`` hands the
queries to ``supervise_routes``, the one loop that waits on relay queries
and applies restartSyncerOnError and stopInError.
"""

from __future__ import annotations

import json
import logging
import operator
from collections.abc import Iterable
from dataclasses import dataclass, replace
from functools import reduce
from typing import Callable

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binwatch_spark.config import ConfigError, JobConfig, ShardingConfig
from binwatch_spark.operators import cdc
from binwatch_spark.operators.sharding import fnv1a64_bytes
from binwatch_spark.sinks.connectors import make_connector
from binwatch_spark.sources.envelope import read_envelope_stream
from binwatch_spark.streaming.templates import compile_template, item_from_row

log = logging.getLogger(__name__)

@dataclass
class CompiledRoute:
    name: str
    connector_name: str
    operations: list[str]
    db_table: str
    template: str  # compiled lazily executor-side (callables don't pickle)
    seeded_random: bool = False  # deterministic sprig random family opt-in


def compile_routes(cfg: JobConfig) -> list[CompiledRoute]:
    routes = []
    for r in cfg.routes:
        cfg.connector_by_name(r.connector)  # existence check (blsenderwork.go:97-100)
        if r.template:
            # fail fast at build time, honoring the route's random opt-in
            compile_template(r.template, seeded_random=r.seeded_random)
        routes.append(
            CompiledRoute(
                r.name,
                r.connector,
                list(r.operations),
                r.db_table,
                r.template,
                r.seeded_random,
            )
        )
    return routes


def source_stream(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """S1: the envelope stream. replayDir → file stream; otherwise the
    mysql-binlog DataSource."""
    if cfg.source.replay_dir:
        return read_envelope_stream(
            spark, cfg.source.replay_dir, max_files_per_trigger=cfg.server.pool_size
        )
    from binwatch_spark.sources import binlog

    binlog.register(spark)
    reader = spark.readStream.format("mysql-binlog").options(
        host=cfg.source.host,
        port=str(cfg.source.port),
        user=cfg.source.user,
        password=cfg.source.password,
        serverID=str(cfg.source.server_id),
        readTimeout=cfg.source.read_timeout,
        heartbeatPeriod=cfg.source.heartbeat_period,
        flavor=cfg.source.flavor,
    )
    if cfg.source.driver:
        reader = reader.options(driver=cfg.source.driver)
    if cfg.source.skip_ahead_on_error:
        reader = reader.options(skipAheadOnError="true")
    if cfg.source.max_bytes_per_batch:
        reader = reader.options(
            maxBytesPerBatch=str(cfg.source.max_bytes_per_batch)
        )
    if cfg.source.start_location:
        reader = reader.options(
            startFile=cfg.source.start_location.file,
            startPosition=str(cfg.source.start_location.position),
        )
        if cfg.source.start_location.gtid_set:
            reader = reader.options(
                startGtidSet=cfg.source.start_location.gtid_set
            )
    return reader.load()


def envelope_transform(df: DataFrame, cfg: JobConfig) -> DataFrame:
    """F1 + P1 + F2 + P3 on the envelope stream — pure column expressions,
    valid for both batch and streaming DataFrames."""
    if cfg.source.allowlist:
        df = cdc.table_allowlist(
            df, F.col("database"), F.col("table"), cfg.source.allowlist
        )
    if cfg.source.positional_rows:
        # P1: positional → named binding under the discovered schema, with
        # the blreaderwork.go:255-273 arity gate (mismatched events are
        # dropped whole and surface in ProgressListener via the
        # positional_binder observed metric). Explicit `columns` config
        # wins; otherwise the startup JDBC probe runs, like the reference.
        from binwatch_spark.sources.schema_probe import (
            bind_positional_rows,
            discover_table_columns,
        )

        columns = cfg.source.columns or discover_table_columns(
            df.sparkSession, cfg.source
        )
        df = bind_positional_rows(df, columns)
    # F2: trust a source-decoded operation, else decode from the raw event
    # type (utils.go:74-90).
    df = df.withColumn(
        "operation",
        F.when(
            F.col("operation").isNotNull() & (F.col("operation") != ""),
            F.col("operation"),
        ).otherwise(cdc.dml_decode(F.col("event_type"))),
    )
    if cfg.server.item_by_row:
        # P3: one item per row; rows stays an array (of one) so the item
        # shape is unchanged (blreaderwork.go:275-295).
        df = df.withColumn("row", F.explode("rows")).withColumn(
            "rows", F.array("row")
        ).drop("row")
    return df


def _sequence_batch(batch_df: DataFrame) -> DataFrame:
    """Q1: gapless item ids ``1..N`` in binlog order within the micro-batch
    (the stream offset carries cross-batch ordering), like the reference's
    ItemID (pools.go:65-74). One global row_number over (binlog_file,
    binlog_position): a single-task sort, which is also the order the
    driver's sender walks for senderWorkers=1."""
    w = Window.orderBy("binlog_file", "binlog_position")
    return batch_df.withColumn("item_id", F.row_number().over(w).cast("bigint"))


def _route_flag(i: int) -> str:
    return f"__route_{i}"


def _item(row) -> dict:
    # a fresh item per use: sprig's set/unset/merge mutate it
    d = row.asDict(recursive=True)
    return item_from_row(d, d["item_id"])


class _RouteSender:
    """R1→R3→T1→K1 for one process: each row is checked for shard
    membership, then tested against every route in declared order
    (blsenderwork.go:182-199), rendered and sent to each route whose
    predicate matched. Templates compile once and connectors open lazily
    once per connector name, so a sender holds one connection per
    connector for its whole life."""

    def __init__(
        self,
        routes: list[CompiledRoute],
        connector_cfgs: dict,
        sharding: ShardingConfig,
    ):
        self._routes = [
            (
                _route_flag(i),
                route.connector_name,
                compile_template(route.template, seeded_random=route.seeded_random)
                if route.template
                else None,
            )
            for i, route in enumerate(routes)
        ]
        self._connector_cfgs = connector_cfgs
        self._connectors: dict = {}
        self._shard = None  # (key renderer or None, count, index) when sharding
        if sharding.enabled and sharding.count > 1:
            render_key = (
                compile_template(sharding.key_template)
                if sharding.key_template
                else None
            )
            self._shard = (render_key, sharding.count, sharding.index)

    def _in_shard(self, row) -> bool:
        """R1 (blsenderwork.go:126-149): FNV-1a64 of the rendered key
        template, or of the binlog position's 8 little-endian bytes when
        there is no key template or rendering raises; the row is this
        instance's iff ``hash % count == index``."""
        render_key, count, index = self._shard
        key = None
        if render_key is not None:
            try:
                key = render_key(_item(row)).encode("utf-8")
            except Exception:  # any render error: position (blsenderwork.go:135-141)
                pass
        if key is None:
            key = (row["binlog_position"] & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
        return fnv1a64_bytes(key) % count == index

    def send(self, rows: Iterable) -> None:
        for row in rows:
            if self._shard is not None and not self._in_shard(row):
                continue
            for flag, connector_name, render in self._routes:
                if not row[flag]:
                    continue
                item = _item(row)
                if render is not None:
                    payload = render(item)
                else:
                    payload = json.dumps(item, separators=(",", ":"), default=str)
                self._connector(connector_name).send(payload.encode("utf-8"))

    def _connector(self, name: str):
        connector = self._connectors.get(name)
        if connector is None:
            connector = make_connector(self._connector_cfgs[name])
            self._connectors[name] = connector
        return connector

    def close(self) -> None:
        for connector in self._connectors.values():
            connector.close()


def _route_rows(batch_df: DataFrame, routes: list[CompiledRoute]) -> DataFrame:
    """Q1 + R2 as one plan: sequence the batch, add one boolean column per
    route predicate (``_route_flag(i)``) and keep the rows at least one
    route matches. Shard membership (R1) is the sender's check, so the plan
    has no Python UDF."""
    flags = [
        F.coalesce(
            cdc.route_predicate(
                F.col("operation"),
                F.concat(F.col("database"), F.lit("."), F.col("table")),
                route.operations,
                route.db_table,
            ),
            F.lit(False),
        ).alias(_route_flag(i))
        for i, route in enumerate(routes)
    ]
    any_route = reduce(
        operator.or_, [F.col(_route_flag(i)) for i in range(len(routes))], F.lit(False)
    )
    return _sequence_batch(batch_df).select("*", *flags).filter(any_route)


def make_batch_processor(cfg: JobConfig) -> Callable[[DataFrame, int], None]:
    """The R1→R2→T1→K1 stage as a foreachBatch function, one Spark action
    per trigger: the batch is sequenced once, each route's predicate
    becomes a boolean column, rows no route matches are dropped, and a
    single sender checks each row's shard and walks the routes for it.

    senderWorkers == 1 sends from the driver through ``toLocalIterator``:
    _sequence_batch's global window already leaves the batch sorted in one
    partition, so binlog order costs that one sort, and the driver's
    sender (one connection per connector) lives as long as the query.
    ``maxFilesPerTrigger`` (the pool size) bounds what a trigger brings to
    the driver. senderWorkers > 1 sends from ``senderWorkers`` partitions,
    each with its own connections."""
    routes = compile_routes(cfg)
    connector_cfgs = {c.name: c for c in cfg.connectors}
    workers = max(1, cfg.server.sender_workers)
    driver_sender = (
        _RouteSender(routes, connector_cfgs, cfg.sharding) if workers == 1 else None
    )

    def send_partition(rows) -> None:
        sender = _RouteSender(routes, connector_cfgs, cfg.sharding)
        try:
            sender.send(rows)
        finally:
            sender.close()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        matched = _route_rows(batch_df, routes)
        if driver_sender is not None:
            driver_sender.send(matched.toLocalIterator())
        else:
            matched.repartition(workers).foreachPartition(send_partition)

    return process_batch


def run_pipeline(
    spark: SparkSession,
    cfg: JobConfig,
    available_now: bool = False,
):
    """Wire source → transforms → foreachBatch sink; returns the
    StreamingQuery. The checkpoint dir is the C1/C2 store."""
    # _sequence_batch's unpartitioned window is deliberate (the single-task
    # sort IS binlog order), so WindowExec's "No Partition Defined" warning
    # on every trigger is noise. The logger gets its own config, which a
    # later setLogLevel on the root leaves alone.
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", log4j.Level.ERROR
    )
    stream = envelope_transform(source_stream(spark, cfg), cfg)
    writer = (
        stream.writeStream.foreachBatch(make_batch_processor(cfg))
        .option("checkpointLocation", cfg.server.checkpoint_dir)
        .queryName(cfg.server.id)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_routes_concurrent(
    spark: SparkSession,
    cfg: JobConfig,
    available_now: bool = False,
    route_names: list[str] | None = None,
) -> dict:
    """R3 as N one-route pipelines: each selected route runs through
    ``run_pipeline`` with a config narrowed to that route, so it has its
    own stream over the same source, its own checkpoint
    (``checkpointDir/routes/<route>``), its own query name
    (``<server.id>-<route>``) and its own lifecycle. One route's failure
    (poison payload, connector outage) stops only that route's query; the
    others stream on, and ``supervise_routes`` restarts the failed one
    from its own checkpoint, redelivering only its uncommitted batch
    (per-route at-least-once). The shared query instead aborts the whole
    batch on the first route error, coupling route lifecycles like the
    reference's sender pool (blsenderwork.go:151-219).

    Trade stated: the source is consumed once PER ROUTE. Replay/file
    sources are free to re-read; on a live master each query is its own
    replica connection with its own DISTINCT server id (MySQL kills the
    prior dump when a duplicate id registers). Each route's id is
    ``route.serverID`` if set, else ``source.serverID + 1 + position`` in
    the config's route list — position in the FULL list, so a subset
    restart (``route_names``) keeps the same id, and never
    ``source.serverID`` itself, which the shared query of the same config
    uses. The collision check can only see ids within this invocation.

    Returns {route_name: StreamingQuery}.
    """
    route_ids = {
        r.name: r.server_id or cfg.source.server_id + 1 + i
        for i, r in enumerate(cfg.routes)
    }
    if not cfg.source.replay_dir and len(set(route_ids.values())) != len(route_ids):
        raise ConfigError(
            "per-route on a live source needs distinct replica server ids; "
            f"explicit route serverID overrides collide: {route_ids}"
        )
    compile_routes(cfg)  # fail fast on any route before one query starts
    queries = {}
    for route in cfg.routes:
        if route_names is not None and route.name not in route_names:
            continue
        route_cfg = replace(
            cfg,
            routes=[route],
            server=replace(
                cfg.server,
                id=f"{cfg.server.id}-{route.name}",
                checkpoint_dir=f"{cfg.server.checkpoint_dir}/routes/{route.name}",
            ),
            source=cfg.source
            if cfg.source.replay_dir
            else replace(cfg.source, server_id=route_ids[route.name]),
        )
        queries[route.name] = run_pipeline(spark, route_cfg, available_now)
    return queries


def _log_failure(name: str, exc: Exception) -> None:
    log.error("query %s failed: %s", name, exc)


def supervise_routes(
    spark: SparkSession,
    cfg: JobConfig,
    queries: dict,
    restart: Callable[[str], dict],
    max_restarts: int = 10,
    on_failure: Callable[[str, Exception], None] = _log_failure,
) -> list[str]:
    """The one loop that watches relay queries — the shared query or the
    per-route ones — with the reference's error policy
    (blreaderwork.go:149-190, logger.go:83-85). Each failure is reported
    through ``on_failure``. With ``restartSyncerOnError`` the failed query
    alone restarts through ``restart(name)``, which returns
    ``{name: StreamingQuery}`` started against the same checkpoint, at
    most ``max_restarts`` times. A terminal failure (restarts off or spent)
    with ``stopInError`` stops the remaining queries and raises the
    failed query's exception; without it, the query is dropped and the
    rest stay supervised. Returns the names of terminally failed queries
    once none is active.

    Order per iteration: ``resetTerminated`` first, then the ``isActive``
    sweep, then ``awaitAnyTermination`` only when every tracked query is
    active. Termination STATE survives the reset even though the SIGNAL
    does not, so a query that died before entry or between wake-ups is
    caught by the sweep, while one dying after the reset raises a fresh
    signal for the await. ``awaitAnyTermination`` raises when the query
    that ended had failed, even while its siblings are active; the
    exception is dropped and the sweep picks the failure up from the
    query itself."""
    queries = dict(queries)
    restarts: dict[str, int] = {}
    failed: list[str] = []
    while queries:
        spark.streams.resetTerminated()
        if all(q.isActive for q in queries.values()):
            try:
                spark.streams.awaitAnyTermination()
            except StreamingQueryException:
                pass  # the sweep below reads the failure off the query
        for name, q in list(queries.items()):
            if q.isActive:
                continue
            exc = q.exception()
            del queries[name]
            if exc is None:  # clean stop, or availableNow drained
                continue
            on_failure(name, exc)
            if (
                cfg.server.restart_syncer_on_error
                and restarts.get(name, 0) < max_restarts
            ):
                restarts[name] = restarts.get(name, 0) + 1
                queries.update(restart(name))
            elif cfg.server.stop_in_error:
                for other in queries.values():
                    other.stop()
                raise exc
            else:
                failed.append(name)
    return failed


def run_supervised(
    spark: SparkSession,
    cfg: JobConfig,
    available_now: bool = False,
    max_restarts: int = 10,
    per_route: bool = False,
) -> list[str]:
    """Start the relay — one shared query, or one query per route when
    ``per_route`` is set — and supervise it with ``supervise_routes``
    until no query is active. Returns the names of queries that failed
    terminally; raises the failure under ``stopInError``.

    restartSyncerOnError parity (blreaderwork.go:149-190): the reference
    closes the failed syncer and re-opens it; here the failed query is
    started again against the SAME checkpoint. Structured Streaming's
    offset log anchors the restart at the first uncommitted batch, so the
    failed batch is redelivered (at-least-once, C1). A restart keeps
    ``available_now``.
    """

    def start(names: list[str] | None = None) -> dict:
        if per_route:
            return run_routes_concurrent(spark, cfg, available_now, names)
        return {cfg.server.id: run_pipeline(spark, cfg, available_now)}

    return supervise_routes(
        spark, cfg, start(), lambda name: start([name]), max_restarts
    )
