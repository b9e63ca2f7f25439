"""The end-to-end CDC pipeline: config → readStream → transforms → routes →
connector sinks.

Topology parity with the reference (binwatch.go:118-144, SURVEY §3.2):

    source (S1/S2/S4)                     readStream (binlog DataSource or
      → allowlist filter (F1)               envelope replay stream)
      → operation decode (F2)             column expressions (cdc.py)
      → itemByRow explode (P3)
      → item sequencing (Q1)              row_number per micro-batch
      → shard filter (R1)                 FNV-1a64 UDF (sharding.py)
      → per route: predicate (R2),        foreachBatch, one pass: one flag
        template render (T1),               column per route → keep rows any
        connector send (K1/K2)              route matches → one sender walks
                                            the routes per row (driver for
                                            senderWorkers=1, else
                                            foreachPartition)
      → checkpoint commit (C1)            streaming offset log, per batch

Semantics preserved: at-least-once (send happens inside the batch, the
offset commits after — crash between send and commit ⇒ redelivery,
blsenderwork.go:193-213); ordering guaranteed only with senderWorkers=1
(README.md:38) — the batch is sorted once by (binlog_file,
binlog_position) into one partition and sent from the driver in that
order; first route error aborts the batch (→ retry) like the reference
aborts remaining routes (blsenderwork.go:197).
"""

from __future__ import annotations

import json
import operator
from collections.abc import Iterable
from dataclasses import dataclass
from functools import reduce
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binwatch_spark.config import ConfigError, JobConfig
from binwatch_spark.operators import cdc
from binwatch_spark.operators.sharding import make_shard_key_udf, make_shard_udf
from binwatch_spark.sinks.connectors import make_connector
from binwatch_spark.sources.envelope import read_envelope_stream
from binwatch_spark.streaming.templates import (
    compile_template,
    item_from_row,
    native_key_expr,
    template_needs_rows,
)


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


def _sequence_batch(batch_df: DataFrame, workers: int = 1) -> DataFrame:
    """Q1: item ids in binlog order within the micro-batch (the stream
    offset carries cross-batch ordering).

    workers == 1 (the reference's only ordered configuration, README.md:38):
    gapless ids via a global row_number — necessarily a single-task sort,
    the price of a total order, and the same trade the reference makes by
    requiring one sender for ordering.

    workers > 1: the reference itself abandons delivery order, so a global
    sort would serialize every micro-batch for a guarantee nobody gets
    (VERDICT r03). Instead ids are sequenced PER BINLOG FILE —
    row_number over (file) windows, encoded as file_seq << 32 | row_number.
    MySQL binlog names carry a monotonic numeric suffix (mysql-bin.000001),
    so ids are unique, monotonic within a file, and monotonic across
    rotations; a name WITHOUT a numeric suffix falls back to a hash of the
    full name mapped into [2^30, 2^31) — DISJOINT from the realistic
    suffix range (MySQL suffixes are ≤7-digit ints ≪ 2^30) so a hashed
    file cannot collide with a suffixed one, below 2^31 so the <<32 stays
    inside signed 64-bit, and distinct hashed files collide only at ~2^-30.
    A suffix ≥ 2^30 (impossible from MySQL, whose rotation counter is at
    most 7 digits, but possible in a hand-built replay dir) is routed to
    the hash fallback instead (ADVICE r04): ≥ 2^31 would overflow the
    shift into negative ids, and [2^30, 2^31) is the band the hash
    fallback itself maps into — keeping literal and hashed file ids in
    disjoint bands. SINGLE-STREAM ASSUMPTION: one server's
    binlog series per pipeline, like the reference (one syncer per config,
    blreaderwork.go:119) — two distinct basenames sharing a numeric suffix
    (a-bin.000002 + b-bin.000002 in a merged replay dir) would collide to
    the same id range; merge streams upstream with distinct suffix ranges
    or separate pipelines. No partition-less Window in the plan either
    way."""
    if workers <= 1:
        w = Window.orderBy("binlog_file", "binlog_position")
        return batch_df.withColumn(
            "item_id", F.row_number().over(w).cast("bigint")
        )
    w = Window.partitionBy("binlog_file").orderBy("binlog_position")
    suffix = F.nullif(
        F.regexp_extract("binlog_file", r"(\d+)$", 1), F.lit("")
    ).cast("bigint")
    # cast overflow (≥2^63 digits) already nulls out; this guards both the
    # 2^31..2^63 window where the shift below would go negative AND the
    # [2^30, 2^31) band reserved for the hash fallback — a literal suffix
    # there would collide with a hashed file's id range, so it routes to
    # the hash fallback too (keeping literal and hashed bands disjoint)
    suffix = F.when(suffix < F.lit(1 << 30), suffix)
    file_seq = F.coalesce(
        suffix,
        (F.pmod(F.xxhash64("binlog_file"), F.lit(1 << 30)) + F.lit(1 << 30)).cast(
            "bigint"
        ),
    )
    return batch_df.withColumn(
        "item_id",
        F.shiftleft(file_seq, 32).cast("bigint")
        + F.row_number().over(w).cast("bigint"),
    )


def _shard_filter(df: DataFrame, cfg: JobConfig) -> DataFrame:
    """R1 (blsenderwork.go:126-149): key template if set, else position."""
    if not cfg.sharding.enabled or cfg.sharding.count <= 1:
        return df
    count, index = cfg.sharding.count, cfg.sharding.index
    if cfg.sharding.key_template:
        template = cfg.sharding.key_template
        # Fast path: the documented key-template shapes compile straight to
        # a column expression (templates.native_key_expr) — no to_json, no
        # per-row Python render; the only Python left in R1 is the FNV hash
        # UDF itself. The pandas renderer remains the general fallback.
        key = native_key_expr(template)
        if key is None:

            @F.pandas_udf("string")
            def render_key(rows_json: pd.Series) -> pd.Series:
                import json as _json

                render = compile_template(template)
                out = []
                for payload in rows_json:
                    row = _json.loads(payload)
                    try:
                        out.append(render(item_from_row(row, row.get("item_id", 0))))
                    except Exception:
                        out.append(None)  # template error → position fallback
                return pd.Series(out)

            # Narrow the serialized struct: rows is the fat column (the
            # whole payload); templates that provably never reach
            # .Data.Rows (field-reference analysis — `.`/`.Data` count as
            # reaching it) render from the envelope scalars alone, so
            # don't JSON-encode the payload per row just to throw it away
            # (VERDICT r03). Ambiguity errs toward serializing.
            if template_needs_rows(template):
                struct_cols = F.struct("*")
            else:
                slim = [c for c in df.columns if c != "rows"]
                struct_cols = F.struct(*slim)
            key = render_key(F.to_json(struct_cols))
        by_key = make_shard_key_udf(count)(key)
        by_pos = make_shard_udf(count)(F.col("binlog_position"))
        # blsenderwork.go:135-141: template failure falls back to position,
        # deterministically across replicas.
        shard = F.when(key.isNotNull(), by_key).otherwise(by_pos)
    else:
        shard = make_shard_udf(count)(F.col("binlog_position"))
    return df.filter(shard == F.lit(index))


def _route_flag(i: int) -> str:
    return f"__route_{i}"


class _RouteSender:
    """R3→T1→K1 for one process: each row is tested against every route in
    declared order (blsenderwork.go:182-199), rendered and sent to each
    route whose predicate matched. Templates compile once and connectors
    open lazily once per connector name, so a sender holds one connection
    per connector for its whole life."""

    def __init__(self, routes: list[CompiledRoute], connector_cfgs: dict):
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

    def send(self, rows: Iterable) -> None:
        for row in rows:
            for flag, connector_name, render in self._routes:
                if not row[flag]:
                    continue
                # a fresh item per route: sprig's set/unset/merge mutate it
                d = row.asDict(recursive=True)
                item = item_from_row(d, d["item_id"])
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


def _route_rows(
    batch_df: DataFrame, cfg: JobConfig, routes: list[CompiledRoute], workers: int
) -> DataFrame:
    """Q1 + R1 + R2 as one plan: sequence and shard-filter the batch, add
    one boolean column per route predicate (``_route_flag(i)``) and keep
    the rows at least one route matches."""
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
    batch_df = _shard_filter(_sequence_batch(batch_df, workers), cfg)
    return batch_df.select("*", *flags).filter(any_route)


def make_batch_processor(
    cfg: JobConfig, routes: list[CompiledRoute] | None = None
) -> Callable[[DataFrame, int], None]:
    """The R2→T1→K1 stage as a foreachBatch function, one Spark action per
    trigger: the batch is sequenced and shard-filtered once, each route's
    predicate becomes a boolean column, rows no route matches are dropped,
    and a single sender walks the routes for every row. ``routes``
    restricts the processor to a subset — the per-route-query topology
    (run_routes_concurrent) passes exactly one.

    senderWorkers == 1 sends from the driver through ``toLocalIterator``:
    _sequence_batch's global window already leaves the batch sorted in one
    partition, so binlog order costs that one sort, and the driver's
    sender (one connection per connector) lives as long as the query.
    ``maxFilesPerTrigger`` (the pool size) bounds what a trigger brings to
    the driver. senderWorkers > 1 sends from ``senderWorkers`` partitions,
    each with its own connections."""
    if routes is None:
        routes = compile_routes(cfg)
    connector_cfgs = {c.name: c for c in cfg.connectors}
    workers = max(1, cfg.server.sender_workers)
    driver_sender = _RouteSender(routes, connector_cfgs) if workers == 1 else None

    def send_partition(rows) -> None:
        sender = _RouteSender(routes, connector_cfgs)
        try:
            sender.send(rows)
        finally:
            sender.close()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        matched = _route_rows(batch_df, cfg, routes, workers)
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
):
    """R3 as N CONCURRENT streaming queries — one per route, each with its
    own stream over the same source, its own checkpoint
    (``checkpointDir/routes/<route>``) and its own lifecycle. This is the
    topology a production deployment actually uses: one route's failure
    (poison payload, connector outage) stops ONLY that route's query — the
    others stream on — and the failed route restarts from ITS checkpoint,
    redelivering only its own uncommitted batch (per-route at-least-once;
    the shared-query form in ``run_pipeline`` instead aborts the whole
    batch on the first route error, coupling route lifecycles exactly
    like the reference's sender pool does, blsenderwork.go:151-219).

    Trade stated: the source is consumed once PER ROUTE. Replay/file
    sources are free to re-read; on a live master each query is its own
    replica connection with its own DISTINCT server id (MySQL kills the
    prior dump when a duplicate id registers, so shared ids would make
    concurrent routes disconnect each other in a loop). Each route's id
    is ``route.serverID`` if set, else ``source.serverID + 1 + position``
    in the config's route list — position in the FULL list, so a subset
    restart (``route_names``) keeps the same id it had. The +1 keeps
    every derived id distinct from ``source.serverID`` itself, which the
    shared single-query pipeline (or any other consumer of the same
    config) uses — without it, per-route mode running concurrently with
    the shared form would share route-0's id and the two dumps would
    kill each other in a registration loop (ADVICE r12). The collision
    check below can only see ids within THIS invocation. Budget one
    binlog read per route, which is how real fan-out replicas are
    deployed.
    Ordering within a route follows its own query's senderWorkers=1 sort
    exactly as in the shared form.

    ``route_names`` restarts a subset (e.g. just the failed route) against
    the same per-route checkpoints. Returns {route_name: StreamingQuery}.
    """
    from dataclasses import replace as _dc_replace

    all_routes = compile_routes(cfg)
    by_name = {r.name: i for i, r in enumerate(all_routes)}
    route_ids = {
        r.name: (
            r_cfg.server_id or cfg.source.server_id + 1 + by_name[r.name]
        )
        for r, r_cfg in zip(all_routes, cfg.routes)
    }
    if not cfg.source.replay_dir and len(set(route_ids.values())) != len(
        route_ids
    ):
        raise ConfigError(
            "per-route on a live source needs distinct replica server ids; "
            f"explicit route serverID overrides collide: {route_ids}"
        )
    routes = all_routes
    if route_names is not None:
        routes = [r for r in routes if r.name in route_names]
    queries = {}
    for route in routes:
        route_cfg = cfg
        if not cfg.source.replay_dir:
            route_cfg = _dc_replace(
                cfg,
                source=_dc_replace(
                    cfg.source, server_id=route_ids[route.name]
                ),
            )
        stream = envelope_transform(source_stream(spark, route_cfg), cfg)
        writer = (
            stream.writeStream.foreachBatch(
                make_batch_processor(cfg, routes=[route])
            )
            .option(
                "checkpointLocation",
                f"{cfg.server.checkpoint_dir}/routes/{route.name}",
            )
            .queryName(f"{cfg.server.id}-{route.name}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        queries[route.name] = writer.start()
    return queries


def supervise_routes(
    spark: SparkSession,
    cfg: JobConfig,
    queries: dict,
    max_restarts: int = 10,
    restart: Callable[[str], dict] | None = None,
    on_failure: Callable[[str, Exception], None] | None = None,
) -> list[str]:
    """Continuous-mode supervisor for ``run_routes_concurrent``: a
    sequential ``awaitTermination`` would block on the first
    never-terminating query and mask a sibling's failure indefinitely
    (ADVICE r11). ``awaitAnyTermination`` wakes on ANY route ending; a
    failed route is reported promptly via ``on_failure`` and — when
    ``restartSyncerOnError`` is set — restarted ALONE against its own
    checkpoint (run_supervised semantics, per route). Returns the names
    of terminally-failed routes once no queries remain active; a poison
    route is bounded by ``max_restarts`` like run_supervised.

    Ordering matters (ADVICE r12): ``resetTerminated`` runs FIRST each
    iteration, then the ``isActive`` sweep, and ``awaitAnyTermination``
    only when every tracked query is still active. A route that died
    between ``writer.start()`` and supervisor entry (or between two
    wake-ups) is caught by the sweep — termination STATE persists across
    the reset even though the termination SIGNAL does not — while a route
    dying after the reset raises a fresh signal for the await. The r11
    ordering (reset after the await) could wipe a fast failure's signal
    and then block on ``awaitAnyTermination`` forever in continuous
    mode."""
    if restart is None:
        restart = lambda name: run_routes_concurrent(  # noqa: E731
            spark, cfg, route_names=[name]
        )
    queries = dict(queries)
    restarts: dict[str, int] = {}
    failed: list[str] = []
    while queries:
        spark.streams.resetTerminated()
        if all(q.isActive for q in queries.values()):
            spark.streams.awaitAnyTermination()
        for name, q in list(queries.items()):
            if q.isActive:
                continue
            exc = q.exception()
            if exc is None:  # clean stop()
                queries.pop(name)
                continue
            if on_failure is not None:
                on_failure(name, exc)
            if (
                cfg.server.restart_syncer_on_error
                and restarts.get(name, 0) < max_restarts
            ):
                restarts[name] = restarts.get(name, 0) + 1
                queries.update(restart(name))
            else:
                failed.append(name)
                queries.pop(name)
    return failed


def run_supervised(
    spark: SparkSession,
    cfg: JobConfig,
    available_now: bool = False,
    max_restarts: int = 10,
) -> None:
    """restartSyncerOnError parity (blreaderwork.go:149-190): when the
    streaming query dies and the flag is set, rebuild and restart it instead
    of exiting.

    The reference closes the failed syncer and re-opens it from the live
    master position. The Spark twin restarts the query against the SAME
    checkpoint: Structured Streaming's offset log already anchors the
    restart at the first uncommitted batch, so transient failures (sink
    down, network) resume exactly where the reference would — and because
    the failed batch was never committed, at-least-once delivery is
    preserved across the restart (C1 semantics). A poison batch that keeps
    failing is bounded by max_restarts, then handled by the stopInError
    policy like any other terminal error.
    """
    restarts = 0
    while True:
        query = run_pipeline(spark, cfg, available_now=available_now)
        try:
            query.awaitTermination()
            return  # clean termination (availableNow drained, or stop())
        except Exception:
            if not cfg.server.restart_syncer_on_error or restarts >= max_restarts:
                if cfg.server.stop_in_error:
                    raise
                return
            restarts += 1
