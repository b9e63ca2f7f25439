"""Event-time streaming analytics: watermarked windowed aggregation and
streaming deduplication.

The reference is purely arrival-order processing — no event time, no
watermarks, no late-data handling anywhere (SURVEY §2.2). These operators are
the derived-layer extensions a CDC consumer needs the moment it aggregates:
each is the streaming twin of a batch query in the verified inventory
(q16 windowed counts, q18/q34 dedup), same DataFrame expressions, so batch
results oracle-check the logic and these wrappers only add the streaming
state policy (watermark = state-eviction horizon).

Scale posture: windowed aggregation state is bounded by (watermark horizon /
window size) windows per key; dedup state by the id cardinality inside the
horizon. Both shuffle once on their key — identical to the batch twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window event counts with a late-data watermark.

    Batch twin: q16_sliding_window_agg (same window() expression — on a batch
    DataFrame the watermark is a no-op and results match the oracle).
    Late rows beyond the watermark are dropped; window state older than the
    horizon is evicted, so state size is bounded at any input rate.
    """
    keys: list[Column | str] = [F.window(F.col(ts_col), window).alias("win")]
    keys += list(extra_keys or [])
    out = df
    if df.isStreaming:
        out = out.withWatermark(ts_col, watermark)
    return (
        out.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *(extra_keys or []),
            "n_events",
        )
    )


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Drop duplicate events by key within the watermark horizon.

    Batch twin: q18/q34 exact dedup (dropDuplicates on the same keys).
    Streaming uses dropDuplicatesWithinWatermark so the key-set state is
    evicted past the horizon — unbounded-state dedup is not a 100 TB/day
    plan; at-least-once replays (SURVEY §2.2) land inside the horizon and
    are collapsed, which is exactly the idempotence window the reference's
    delivery contract needs.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on a key within a time interval: each left
    row matches right rows with ``right_ts ∈ [left_ts - lookback, left_ts]``
    — the enrichment join (event ↔ recent order) that completes the
    streaming-analytics family.

    Batch twin: q49_range_join (same predicate shape, oracle-checked).
    Streaming requires watermarks on BOTH inputs plus the time-range join
    condition — Spark derives the state-eviction horizon from them, so
    per-side join state is bounded by (watermark + lookback) of data per
    key instead of growing forever. One shuffle per side on the key; the
    range predicate rides the same exchange. ``left_ts``/``right_ts`` must
    be distinct column names (both survive into the joined row).

    ``how='left_outer'`` is the production CDC-enrichment form: a left row
    with NO match emits null-padded — but only once the watermark passes
    its time range, because until then a matching right row could still
    arrive; the emission is literally the state-eviction event, so outer
    results trail the data by the watermark delay and a bounded run needs
    a far-future tail to flush the last rows (q146 stages one). Inner
    joins emit matches immediately and need no tail."""
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported interval join type {how!r}")
    l, r = left, right
    if l.isStreaming:
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(right_ts, watermark)
    # The right key is RENAMED before the join rather than side-qualified
    # and dropped after: drop(r[key]) can silently keep the right-side
    # column when the join re-aliases attributes, which an inner join
    # never exposes (both sides' key values are equal) but a left-outer
    # join does — unmatched rows then carry a NULL key. Renaming makes the
    # post-join drop name-unique, so the surviving key column is always
    # the left's (non-null on every emitted row).
    rk = f"__interval_join_r_{key}"
    r = r.withColumnRenamed(key, rk)
    cond = (
        (l[key] == r[rk])
        & (r[right_ts] <= l[left_ts])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {lookback}"))
    )
    return l.join(r, cond, how).drop(rk)


BUDGET_OUTPUT_SCHEMA = (
    "doc_id long, source string, n_tokens long, cum_tokens long"
)
BUDGET_STATE_SCHEMA = "cum long"


def budget_fill_stream(df: DataFrame, budget: int) -> DataFrame:
    """Streaming per-source token-budget admission (q124's streaming twin,
    ARRIVAL-order semantics): documents arrive per source in stream
    order; each is admitted while the source's cumulative token count
    BEFORE it is under ``budget`` — so the crossing doc is admitted and
    everything after is dropped, exactly the batch rule with priority
    order replaced by arrival order (a stream can't sort the future).

    applyInPandasWithState keyed by source; state is ONE long (the
    running token total — O(1) per source, no timeout: a budget is a
    lifetime quota, not a window). Input batches sort by doc_id within
    the group so replays of the same micro-batch sequence are
    deterministic. Input needs (doc_id, source, n_tokens)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (source,) = key
        chunks = list(pdfs)
        batch = (chunks[0] if len(chunks) == 1 else pd.concat(chunks)).sort_values(
            "doc_id"
        )
        (cum,) = state.get if state.exists else (0,)
        # Vectorized admission (was a per-row Python loop): a doc is
        # admitted iff the source's cumulative total BEFORE it is under
        # budget; cum_tokens emitted is the total AFTER it. Integer math
        # throughout — identical admissions and totals.
        ns = batch["n_tokens"].to_numpy(dtype=np.int64)
        after = cum + np.cumsum(ns)
        admit = (after - ns) < budget
        state.update((int(cum + ns.sum()),))
        if admit.any():
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].to_numpy(dtype=np.int64)[admit],
                    "source": source,
                    "n_tokens": ns[admit],
                    "cum_tokens": after[admit],
                }
            )

    return df.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=BUDGET_OUTPUT_SCHEMA,
        stateStructType=BUDGET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SCD2_OUTPUT_SCHEMA = (
    "user_id long, event_type string, valid_from timestamp, "
    "valid_to timestamp"
)
SCD2_STATE_SCHEMA = (
    "uids array<long>, types array<string>, froms array<long>"
)

# applyInPandasWithState pays one Arrow round trip (plus state ser/de and a
# pandas frame build) PER KEY PER BATCH — measured ~4-5 ms/key here, which
# at 1 500 keys/batch made the protocol, not the row work, the stage
# (guide §4: the boundary's fixed cost). The stateful kernels therefore
# group on pmod(xxhash64(key), B) — B buckets, each holding the state of
# every key that hashes into it as parallel arrays — so the per-group
# protocol cost amortizes over ~#keys/B keys while the per-row logic (and
# emitted rows) stay identical. B is env-tunable: it is a state-LAYOUT
# constant in the same class as shuffle partitions, NOT a core-count fit —
# production sizes it so one bucket's state row stays in the tens-of-KB
# range (keys/bucket in the hundreds); the local default 64 keeps
# 1 500-key fixtures at ~25 keys/bucket. Correctness does not depend on B
# (tests pin B=1 and B=7 against the batch twin).
import os as _os

STATE_BUCKETS = int(_os.environ.get("SPARK_GRAFT_STATE_BUCKETS", "64"))


def _bucketed(df: DataFrame, key: str, n_buckets: int):
    return df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    ).groupBy("__bucket")


def scd2_stream(df: DataFrame, state_buckets: int | None = None) -> DataFrame:
    """Streaming SCD2 maintenance (q139's streaming twin): per-key state
    holds the OPEN version (type + start); each arriving change CLOSES
    the previous version — one emitted row per closed version, open
    versions never emit (they are not history yet). No timeout: a
    dimension version has no expiry, only a successor. Consecutive
    no-change events fold into the open version, the SCD2 collapse rule.

    State is O(1) per key (a string + an epoch-micros long — the
    timestamp rides the state store as int64 to stay timezone-exact),
    laid out as per-bucket key/type/from arrays (see STATE_BUCKETS);
    arrival must be event-time ordered per key across micro-batches
    (the CDC pipeline's per-key ordering contract; the bounded harness
    stages ts-ranged batches). Input needs (user_id, event_type, ts,
    event_id).

    Checkpoint format: state is keyed by bucket, not by user, so a
    checkpoint written by the earlier per-user layout cannot be resumed;
    start such a query from a fresh checkpoint."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # A numpy change scan was tried here (r13) and REVERTED: per-KEY
        # runs are ~20 rows in this workload, so per-key ndarray setup
        # cost more than the row loop (same finding as sessionize). The
        # bucket sort below is one vectorized pandas sort per ~500-row
        # bucket; the per-row loop is unchanged from the per-key form.
        chunks = list(pdfs)
        batch = (chunks[0] if len(chunks) == 1 else pd.concat(chunks)).sort_values(
            ["user_id", "ts", "event_id"]
        )
        open_st: dict[int, list] = {}
        if state.exists:
            uids, types, froms = state.get
            open_st = {u: [t, f] for u, t, f in zip(uids, types, froms)}
        closed = []
        ts_ns = batch["ts"].to_numpy(dtype="datetime64[ns]").astype("int64")
        for uid, etype, t in zip(
            batch["user_id"].to_numpy(), batch["event_type"], ts_ns
        ):
            uid = int(uid)
            ts_us = int(t) // 1_000  # pandas ns -> micros
            et = str(etype)
            cur = open_st.get(uid)
            if cur is None:
                open_st[uid] = [et, ts_us]
            elif et != cur[0]:
                closed.append(
                    (
                        uid,
                        cur[0],
                        pd.Timestamp(cur[1] * 1_000),
                        pd.Timestamp(ts_us * 1_000),
                    )
                )
                cur[0], cur[1] = et, ts_us
        state.update(
            (
                list(open_st.keys()),
                [v[0] for v in open_st.values()],
                [v[1] for v in open_st.values()],
            )
        )
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "event_type", "valid_from", "valid_to"],
            )

    return _bucketed(df, "user_id", state_buckets or STATE_BUCKETS).applyInPandasWithState(
        update,
        outputStructType=SCD2_OUTPUT_SCHEMA,
        stateStructType=SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
