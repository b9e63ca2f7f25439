"""CDC dataflow operators, rebuilt as Spark column expressions / transforms.

Each function mirrors one stage of the reference's binlog pipeline
(SURVEY.md §2.1) but is expressed declaratively so Catalyst can reorder,
push down and codegen it. All operators work identically on batch and
streaming DataFrames (same envelope schema, FIXTURES.md).

Reference stages covered here:
- table allowlist filter  F1  (blreaderwork.go:247-250)
- DML-operation decode    F2  (utils.go:74-90)
- positional projection   P1  (blreaderwork.go:252-270)
- route predicate         R2  (blsenderwork.go:183-184)
- template render         T1  (tmpl.go:114-121)
- monotonic sequencing    Q1  (pools.go:57-74)
- checkpoint frontier     C1  (blsenderwork.go:204-213)

The row explode P3 (blreaderwork.go:275-295) is the relay's itemByRow step
in ``streaming/pipeline.envelope_transform``; q05 and q06 spell P3 and the
before-image drop P2 (blreaderwork.go:261-263) in their own plans.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Binlog event-type → DML operation mapping (utils.go:22-24, 74-90). The
# reference maps Write/Update/DeleteRows v0/v1/v2 event types; unknown → "".
DEFAULT_DML_MAP: dict[str, str] = {
    "WriteRowsEventV0": "INSERT",
    "WriteRowsEventV1": "INSERT",
    "WriteRowsEventV2": "INSERT",
    "UpdateRowsEventV0": "UPDATE",
    "UpdateRowsEventV1": "UPDATE",
    "UpdateRowsEventV2": "UPDATE",
    "DeleteRowsEventV0": "DELETE",
    "DeleteRowsEventV1": "DELETE",
    "DeleteRowsEventV2": "DELETE",
}


def dml_decode(event_type: Column, mapping: Mapping[str, str] | None = None) -> Column:
    """CASE-map a raw event-type column to INSERT/UPDATE/DELETE, else ''.

    Mirrors utils.go:74-90; a pure ``F.when`` chain so it stays inside
    whole-stage codegen (no UDF).
    """
    mapping = dict(mapping or DEFAULT_DML_MAP)
    expr: Column | None = None
    for raw, op in mapping.items():
        cond = event_type == raw
        expr = F.when(cond, op) if expr is None else expr.when(cond, op)
    assert expr is not None
    return expr.otherwise(F.lit(""))


def table_allowlist(
    df: DataFrame, database: Column, table: Column, allowlist: Iterable[str]
) -> DataFrame:
    """Keep only events whose db.table is allowlisted (blreaderwork.go:247-250).

    Expressed as an ``isin`` filter so it pushes into the source scan.
    """
    return df.filter(F.concat(database, F.lit("."), table).isin(list(allowlist)))


def route_predicate(
    operation: Column,
    db_table: Column,
    route_operations: Iterable[str],
    route_db_table: str,
) -> Column:
    """Per-route match predicate (blsenderwork.go:183-184).

    ``operation ∈ route.operations AND db.table == route.dbTable``. The
    reference treats an empty ``dbTable`` as match-nothing (strict equality);
    we follow the README's documented intent instead: empty == match-all
    (divergence documented in SURVEY.md §7.3).
    """
    pred = operation.isin(list(route_operations))
    if route_db_table:
        pred = pred & (db_table == F.lit(route_db_table))
    return pred


def render_json(*cols: Column | str) -> Column:
    """The documented template output shape — a JSON object of selected fields
    (tmpl.go:114-121, docs/binwatch.v1alpha2.yaml:69-75) — rendered natively
    with ``to_json(struct(...))`` so it stays JVM-side."""
    return F.to_json(F.struct(*cols))


def monotonic_item_ids(
    df: DataFrame, order_by: list[Column], out_col: str = "item_id"
) -> DataFrame:
    """Gapless monotonic sequence in stream order (pools.go:57-74).

    Batch shape uses ``row_number`` over a global ordering. NOTE (scale): a
    single unpartitioned window serializes through one task; at 100 TB use the
    two-phase form — per-partition row_number + cumulative partition offsets
    (see streaming source, which carries the offset natively instead).
    """
    w = Window.orderBy(*order_by)
    return df.withColumn(out_col, F.row_number().over(w).cast("bigint"))


def checkpoint_frontier(
    df: DataFrame, file_col: str, pos_col: str
) -> DataFrame:
    """Highest storable position per binlog file (blsenderwork.go:204-213):
    the at-least-once commit frontier. Map-side partial aggregation makes this
    one cheap shuffle of pre-aggregated partials at any scale."""
    return df.groupBy(file_col).agg(
        F.max(pos_col).alias("max_position"),
        F.count(F.lit(1)).alias("n_events"),
    )


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    op_col: str = "operation",
    position_cols: Iterable[str] = ("binlog_file", "binlog_position"),
    delete_op: str = "DELETE",
) -> DataFrame:
    """Materialize a CDC change stream onto a snapshot table — the natural
    downstream consumer of the reference's delivery (a webhook receiver
    replaying row events into a queryable table). Latest-change-wins per
    key by binlog position:

    - key with no change            → snapshot row unchanged
    - latest op INSERT/UPDATE       → change's value columns overwrite the
                                      snapshot's same-named columns (upsert;
                                      new keys appear with snapshot-only
                                      columns NULL)
    - latest op ``delete_op``       → row removed

    Two shuffles total at any scale: one window over the change stream
    (partitioned by key — no global sort) collapses it to latest-per-key,
    one full-outer join merges with the snapshot. In Structured Streaming
    the same function runs inside foreachBatch against the served table.
    Reference tie-in: this is the consumer-side inverse of T1/K1
    (blsenderwork.go:186-213) — what the delivered JSON is FOR."""
    position_cols = list(position_cols)
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in position_cols]
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", *position_cols)
    )
    snap_cols = snapshot.columns
    value_cols = [c for c in latest.columns if c not in (key_col, op_col)]
    s, c = snapshot.alias("_s"), latest.alias("_c")
    joined = s.join(
        c, F.col(f"_s.{key_col}") == F.col(f"_c.{key_col}"), "full_outer"
    )
    op = F.col(f"_c.{op_col}")
    upserted = op.isNotNull() & (op != delete_op)
    cols = [
        F.coalesce(F.col(f"_s.{key_col}"), F.col(f"_c.{key_col}")).alias(key_col)
    ]
    for col in snap_cols:
        if col == key_col:
            continue
        if col in value_cols:
            cols.append(
                F.when(
                    upserted, F.coalesce(F.col(f"_c.{col}"), F.col(f"_s.{col}"))
                )
                .otherwise(F.col(f"_s.{col}"))
                .alias(col)
            )
        else:
            cols.append(F.col(f"_s.{col}").alias(col))
    for col in value_cols:
        if col not in snap_cols:
            cols.append(F.when(upserted, F.col(f"_c.{col}")).alias(col))
    return joined.filter(op.isNull() | (op != delete_op)).select(*cols)


def scd2_history(
    changes: DataFrame,
    key_col: str,
    time_col: str,
    op_col: str = "operation",
    tiebreak_cols: Iterable[str] = (),
    delete_op: str = "DELETE",
) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a CDC change stream into
    versioned history rows with validity intervals — where ``apply_cdc``
    materializes only the latest state, SCD2 keeps every version queryable
    ("what was this row worth when the model trained?").

    Each INSERT/UPDATE becomes a version valid from its change time until
    the NEXT change of the same key (lead over the keyed window); a DELETE
    emits no version but closes the previous one (it participates in the
    window ordering, so the preceding version's valid_to lands on the
    delete time). is_current = open-ended interval. One keyed-window
    shuffle at any scale, no self-join against history."""
    tiebreak = list(tiebreak_cols)
    w = Window.partitionBy(key_col).orderBy(time_col, *tiebreak)
    return (
        changes.withColumn("_valid_to", F.lead(time_col).over(w))
        .filter(F.col(op_col) != delete_op)
        .withColumn("is_current", F.col("_valid_to").isNull())
        .withColumnRenamed(time_col, "valid_from")
        .withColumnRenamed("_valid_to", "valid_to")
        .drop(op_col)
    )
