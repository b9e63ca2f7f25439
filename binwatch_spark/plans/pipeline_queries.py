"""Training-data pipeline utility queries: q35 sessionize, q36/q66 sampling,
q72 sequence packing, q73 train/val/test split, q74 overlapping chunking."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binwatch_spark.functions.texthash import polyhash, polyhash_sql
from binwatch_spark.operators.sessions import sessionize_batch
from binwatch_spark.plans.registry import register
from binwatch_spark.tables import load

SESSION_GAP_MINUTES = 30
SAMPLE_PCT = 10


_SESSIONIZE_SQL = f"""
WITH l AS (
  SELECT user_id, ts, event_id,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
o AS (
  SELECT user_id, ts, event_id,
    CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL {SESSION_GAP_MINUTES} MINUTE
         THEN 1 ELSE 0 END AS is_new
  FROM l),
s AS (
  SELECT user_id, ts,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM o)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, session_id
"""


@register("q35_sessionize", oracle=_SESSIONIZE_SQL)
def q35_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (batch shape): lag + running sum over
    one shuffle on user_id. The streaming twin (operators.sessions.
    sessionize_stream) runs the same semantics with applyInPandasWithState
    and an event-time timeout."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return sessionize_batch(
        ev, "user_id", "ts", SESSION_GAP_MINUTES, tiebreak=["event_id"]
    )


@register(
    "q36_deterministic_sample",
    oracle=f"""
SELECT doc_id, lang, source FROM documents
WHERE {polyhash_sql("text")} % 100 < {SAMPLE_PCT}
""",
)
def q36_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~{SAMPLE_PCT}% of documents):
    reproducible across runs/engines because the predicate is a pure hash of
    the content, not an RNG — the sane way to sample a 100 TB corpus
    consistently across pipeline stages."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(polyhash(F.col("text")) % 100 < SAMPLE_PCT).select(
        "doc_id", "lang", "source"
    )


# Per-language keep rates (percent) for mixture construction: upsample the
# scarce languages, downsample the dominant one. Shared with the oracle.
STRATA_PCT = {"en": 5, "zh": 80, "es": 50, "de": 25}
STRATA_DEFAULT_PCT = 10


def _strata_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(STRATA_PCT.items())
    )
    return f"CASE lang {whens} ELSE {STRATA_DEFAULT_PCT} END"


@register(
    "q66_stratified_sample",
    oracle=f"""
SELECT doc_id, lang, source FROM documents
WHERE {polyhash_sql("text")} % 100 < {_strata_case_sql()}
""",
)
def q66_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling for training-mixture construction:
    per-language keep rates applied through the same content-hash predicate
    as q36, so every stage of a 100 TB pipeline reproduces the exact same
    subset per stratum — map-side filter, no shuffle, no RNG state."""
    docs = load(spark, sf_dir, "documents")
    rate = None
    for lang, pct in sorted(STRATA_PCT.items()):
        cond = F.col("lang") == lang
        rate = F.when(cond, pct) if rate is None else rate.when(cond, pct)
    rate = rate.otherwise(F.lit(STRATA_DEFAULT_PCT))
    return docs.filter(polyhash(F.col("text")) % 100 < rate).select(
        "doc_id", "lang", "source"
    )


PACK_BUDGET = 512  # tokens per packed training sequence


@register(
    "q72_sequence_pack",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, lang, n_tokens,
    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
  FROM t)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(tok_before // {PACK_BUDGET} AS BIGINT) AS seq_id,
  CAST(tok_before % {PACK_BUDGET} AS BIGINT) AS seq_offset
FROM c
""",
)
def q72_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate documents per language
    stream in doc_id order and cut every {PACK_BUDGET} tokens — each doc is
    assigned the packed sequence its first token lands in (seq_id) and its
    offset inside it. This is the concat-then-chunk packing every large
    pretraining pipeline runs to avoid padding waste. One shuffle on the
    stream key; the running total is a window prefix sum (no driver state),
    so at 100 TB the stream key just gets finer (lang, shard) and the same
    plan holds. Deterministic: token counts are whitespace splits and order
    is (lang, doc_id), no RNG."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok_before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
        "tok_before"
    )
    c = t.select("doc_id", "lang", "n_tokens", tok_before)
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("tok_before") / PACK_BUDGET).cast("bigint").alias("seq_id"),
        (F.col("tok_before") % PACK_BUDGET).cast("bigint").alias("seq_offset"),
    )


TRAIN_PCT, VAL_PCT = 80, 10  # remainder = test


def split_column() -> "F.Column":
    """THE train/val/test split rule, as a Column over ``text`` — the single
    definition shared by q73 and q82 (decontamination composes the same
    split; a drifting copy would silently break its train-set semantics)."""
    bucket = polyhash(F.col("text")) % 100
    return (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


def split_case_sql() -> str:
    """The oracle-side spelling of :func:`split_column` (same sharing
    contract)."""
    return (
        f"CASE WHEN {polyhash_sql('text')} % 100 < {TRAIN_PCT} THEN 'train'"
        f" WHEN {polyhash_sql('text')} % 100 < {TRAIN_PCT + VAL_PCT}"
        " THEN 'val' ELSE 'test' END"
    )


@register(
    "q73_hash_split",
    oracle=f"SELECT doc_id, lang, {split_case_sql()} AS split FROM documents",
)
def q73_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash — the split
    must be a pure function of the document so that (a) re-runs and other
    engines agree, (b) exact duplicates land in the SAME split (no
    train/test leakage through dup pairs), which an RNG split cannot
    guarantee. Map-side expression, no shuffle, no state."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", split_column().alias("split"))


CHUNK_TOKENS, CHUNK_STRIDE = 64, 48  # 16-token overlap between windows


@register(
    "q74_chunk_overlap",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n FROM documents),
s AS (
  SELECT doc_id, toks, n, unnest(range(0, n, {CHUNK_STRIDE})) AS start
  FROM t WHERE n > 0)
SELECT doc_id, CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
  CAST(len(list_slice(toks, start + 1, start + {CHUNK_TOKENS})) AS BIGINT)
    AS n_chunk_tokens,
  array_to_string(list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ')
    AS chunk_text
FROM s
""",
)
def q74_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG/embedding prep): each document
    becomes ceil(n/stride) windows of {CHUNK_TOKENS} tokens advancing by
    {CHUNK_STRIDE} ({CHUNK_TOKENS - CHUNK_STRIDE}-token overlap so no
    boundary context is lost). Pure codegen — split once, explode a stride
    sequence, slice per window; no UDF, no shuffle (the explode is map-side
    row generation). At 100 TB chunk_text feeds the embedding UDF stage
    directly; the fan-out factor is bounded by document length."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") > 0)
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS))
    return s.select(
        "doc_id",
        F.floor(F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# Temperature exponent for mixture weighting: w_i ∝ n_i^alpha with alpha=0.5
# (sqrt), the standard multilingual-sampling flattening (e.g. the
# temperature-based sampling in multilingual pretraining). sqrt is IEEE
# correctly-rounded in both engines, so the only order-sensitive float step
# is the k-row normalizing sum, absorbed by round(8).
MIX_ROUND = 8


@register(
    "q86_mixture_weights",
    oracle=f"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source)
SELECT source, n_docs, n_tokens,
  round(sqrt(CAST(n_tokens AS DOUBLE))
        / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), {MIX_ROUND})
    AS mix_weight
FROM s
""",
)
def q86_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: per-source token totals and the
    temperature-flattened sampling weight w_i = sqrt(n_i) / Σ sqrt(n_j) a
    data-loader uses to balance sources (upweights scarce sources, tempers
    dominant ones). Plan: one two-stage integer aggregate over the corpus
    (map-side partial sums; exact, order-insensitive), then the normalizing
    window runs on the AGGREGATED frame — #sources rows, not corpus rows —
    so the unpartitioned window is a no-op at any corpus scale."""
    docs = load(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    w = F.sqrt(F.col("n_tokens").cast("double"))
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            w / F.sum(w).over(Window.partitionBy()), MIX_ROUND
        ).alias("mix_weight"),
    )


# Length-trim bounds: documents outside [p01, p99] of their language's
# token-length distribution are curation outliers (truncated fragments /
# concatenation artifacts). Continuous-interpolation percentiles match
# between Spark `percentile` and DuckDB `quantile_cont` (q43); bounds are
# rounded to 6 dp on BOTH sides before the comparison so the gate predicate
# is engine-identical.
TRIM_LO = 0.01
TRIM_HI = 0.99


@register(
    "q88_length_trim_filter",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
b AS (
  SELECT lang, round(quantile_cont(n_tokens, {TRIM_LO}), 6) AS lo,
               round(quantile_cont(n_tokens, {TRIM_HI}), 6) AS hi
  FROM t GROUP BY lang)
SELECT t.doc_id, t.lang, t.n_tokens
FROM t JOIN b ON t.lang = b.lang
WHERE t.n_tokens >= b.lo AND t.n_tokens <= b.hi
""",
)
def q88_length_trim_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-outlier trim: keep documents whose token count
    lies within [p01, p99] of their language's distribution — the standard
    curation pass that drops truncated fragments and concatenation
    artifacts without a hand-tuned global threshold. Plan: exact interpolated
    percentiles per language (one aggregate; the result is #languages rows),
    broadcast the bounds back, filter map-side. At 100 TB swap the exact
    percentile for approx_percentile and the shape is one scan + one
    broadcast join — no corpus-sized shuffle."""
    from pyspark.sql.functions import broadcast

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    pcts = F.percentile(
        F.col("n_tokens"), F.array(F.lit(TRIM_LO), F.lit(TRIM_HI))
    )
    bounds = (
        t.groupBy("lang")
        .agg(pcts.alias("_p"))
        .select(
            "lang",
            F.round(F.col("_p")[0], 6).alias("lo"),
            F.round(F.col("_p")[1], 6).alias("hi"),
        )
    )
    return (
        t.join(broadcast(bounds), "lang")
        .filter((F.col("n_tokens") >= F.col("lo")) & (F.col("n_tokens") <= F.col("hi")))
        .select("doc_id", "lang", "n_tokens")
    )


SAMPLE_K_PER_STRATUM = 25


@register(
    "q91_fixed_size_sample",
    oracle=f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
      ORDER BY {polyhash_sql("text")}, doc_id) AS rn
  FROM documents)
WHERE rn <= {SAMPLE_K_PER_STRATUM}
""",
)
def q91_fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-SIZE sample: exactly {SAMPLE_K_PER_STRATUM}
    documents per language, chosen by ranking on a content hash — the
    distributed, reproducible replacement for reservoir sampling (same
    sample every run and on every engine; a true reservoir is RNG- and
    order-dependent). Complements q36/q66, which sample at a fixed RATE.
    Plan: one shuffle on the stratum key; at scale swap row_number for a
    per-partition top-k + merge (the TakeOrdered shape) when k ≪ stratum —
    rank-by-hash stays embarrassingly parallel either way. The hash is
    PROJECTED before the window: an interpreted HOF fold directly inside
    Window.orderBy re-evaluates per sort comparison (observed 13 s → 1.2 s
    at sf0.1 for the projected spelling)."""
    from binwatch_spark.functions.texthash import polyhash

    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "lang", polyhash(F.col("text")).alias("_h")
    )
    w = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K_PER_STRATUM)
        .select("doc_id", "lang")
    )


def _curation_sql() -> str:
    # Compose the SAME SQL pieces the stage queries hash-check alone:
    # q64's verdict CTE, q34's digest dedup, q73's split rule.
    from binwatch_spark.plans.text_queries import _Q64_SQL

    return f"""
WITH verdicts AS ({_Q64_SQL}),
keep AS (
  SELECT d.doc_id, d.text, d.source, v.n_words
  FROM documents d JOIN verdicts v USING (doc_id) WHERE v.passes
), keepers AS (
  SELECT min(doc_id) AS doc_id FROM keep GROUP BY sha256(text)
), final AS (
  SELECT keep.doc_id, keep.n_words, keep.source, {split_case_sql()} AS split
  FROM keep JOIN keepers USING (doc_id))
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM final GROUP BY split
"""


@register("q95_curation_pipeline", oracle=_curation_sql())
def q95_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining curation pipeline as ONE composed plan:
    quality filter (q64's exact rule set) → exact dedup keep-first (q34's
    digest semantics) → deterministic content-hash split (q73's rule) →
    per-split corpus accounting (docs, tokens, distinct sources) — the
    summary a data team reads before shipping a training mix. Every stage
    reuses the SAME shared expression its standalone query hash-checks, so
    the composite cannot drift from the stages.

    Scale posture: the verdict semi-join is a doc_id equi-join (at 100 TB
    AQE broadcasts the verdict side if filtered small, else shuffle-joins
    on the key); the dedup shuffle carries 32-byte digests, not documents;
    the split is map-side expression math; the final aggregate reduces to
    3 rows with map-side partial aggregation. Output is integer-only —
    bit-exact across engines by construction."""
    from binwatch_spark.operators.text import tokens
    from binwatch_spark.plans.text_queries import q64_quality_filter

    docs = load(spark, sf_dir, "documents")
    passing = q64_quality_filter(spark, sf_dir).filter(F.col("passes")).select(
        "doc_id"
    )
    keep = docs.join(passing, "doc_id", "left_semi").select(
        "doc_id",
        "text",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_words"),
    ).persist()
    # two consumers: the digest groupBy + the semi-join
    keep.count()
    keepers = (
        keep.groupBy(F.sha2(F.col("text"), 256).alias("_dig"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    final = keep.join(keepers, "doc_id", "left_semi")
    return (
        final.select(
            split_column().alias("split"), "n_words", "source"
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
    )



import contextlib


@contextlib.contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Scope spark.sql.shuffle.partitions down for a bounded streaming run.

    A Structured Streaming query fixes its state-store partition count from
    this conf at FIRST start (written into the checkpoint), and the fixture
    streams move a few MB through 3 micro-batches — at the session default
    of 32, per-task scheduling overhead dominates every stateful stage
    (measured ~2x the wall of the same run at 8). Production jobs size this
    for their own volume; the scope-and-restore keeps the batch queries'
    planning unaffected.
    """
    key = "spark.sql.shuffle.partitions"
    nodata = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    old_nodata = spark.conf.get(nodata, "true")
    spark.conf.set(key, str(n))
    # Trailing no-data micro-batches exist to advance the watermark and
    # flush state when no new data arrives. The bounded harness already
    # guarantees that by construction — the DOUBLE sentinel tail (the
    # second sentinel's batch carries the first's timestamp as watermark,
    # stated in _sentinel_frames and relied on by every stateful query's
    # docstring "regardless of whether a trailing empty commit batch
    # runs") — so the extra empty batch is one full stateful-stage pass
    # (state-store load + commit across every partition) that emits
    # nothing. Skipping it saves one micro-batch per bounded run; every
    # streaming query re-verified hash-exact under this setting.
    spark.conf.set(nodata, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)
        spark.conf.set(nodata, old_nodata)


def _run_bounded_stream(spark, prefix, stages, build_output) -> DataFrame:
    """Shared harness for the streaming-verified queries (q99-q102): stage
    each (name, frame) as a SINGLE-file parquet dir under a temp source in
    list order, read them back as one file-source stream
    (``maxFilesPerTrigger=1`` → one micro-batch per staged frame, in
    order), apply ``build_output(stream)``, run to completion under
    Trigger.AvailableNow with the scoped shuffle partitions, and return
    the parquet sink read back as a batch DataFrame.

    Contract details that exist because they are load-bearing:
    - ``coalesce(1)`` per stage: a multi-part stage would split one logical
      batch across micro-batches, and with a 0-second watermark the later
      part's older rows would be dropped as late data — silently wrong
      sessions/windows, not an error.
    - ``awaitTermination``'s boolean IS checked: a timeout means the sink
      is partially written, and reading it anyway would report a confusing
      hash mismatch (or silently wrong bench output) instead of failing.
    - The staging source and checkpoint are removed in ``finally``; the
      sink must outlive the call (the returned DataFrame reads it lazily —
      the driver collects later), so it is the one dir intentionally kept.
    """
    # The read-back schema is captured from the ALREADY-ANALYZED output
    # plan (.schema is driver-local, no job) so the final
    # spark.read.parquet(sink) skips footer re-inference — ~0.1-0.3 s of
    # per-query fixed cost re-deriving a structure this function just
    # built (same class as tables._SCHEMA_CACHE).
    schema_cell: dict = {}

    def start(stream, sink, ckpt):
        out = build_output(stream)
        schema_cell["schema"] = out.schema
        return (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    return _bounded_stream_core(spark, prefix, stages, start, schema_cell)


def _run_bounded_stream_foreach(spark, prefix, stages, probe) -> DataFrame:
    """foreachBatch variant of ``_run_bounded_stream``: each staged frame
    arrives as one micro-batch (maxFilesPerTrigger=1, in list order) and is
    handed to ``probe(batch_df)`` — an arbitrary batch-DataFrame transform
    that may join catalog tables, aggregate, or window, exactly like a
    production foreachBatch sink — whose result is APPENDED to the parquet
    sink. This is the harness for patterns the built-in streaming sinks
    can't express (q118: probing each micro-batch against the bucketed
    dedup index tables); q99-q102/q110 use the plain writeStream form
    because their whole transform is stream-native."""

    schema_cell: dict = {}

    def start(stream, sink, ckpt):
        def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            out = probe(batch_df)
            # capture once, from the first batch's analyzed plan (driver-
            # local): the read-back then skips footer re-inference
            schema_cell.setdefault("schema", out.schema)
            out.write.mode("append").parquet(sink)

        return (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    return _bounded_stream_core(spark, prefix, stages, start, schema_cell)


# Wall-clock cap on one bounded stream run. 300 s covers every query at
# sf0.01/sf0.1 with 10x headroom, so a run that hits it is a hang or a
# regression, not a cap to raise. When it fires, Spark's stop() interrupt
# can surface as a secondary java.lang.StackOverflowError from the stream
# thread's exception-classification regex; the timeout is the primary
# failure, not that stack trace.
STREAM_TIMEOUT_S = 300


def _bounded_stream_core(spark, prefix, stages, start, schema_cell=None) -> DataFrame:
    """One copy of the bounded-stream scaffolding (staging writes, one-file-
    per-trigger source, scoped shuffle partitions, 300s await, cleanup) —
    both harness variants differ only in ``start(stream, sink, ckpt)``, the
    sink-wiring step, so fixes to the shared mechanics cannot miss one."""
    import atexit
    import shutil
    import tempfile

    # The sink dir must outlive this call (the returned DataFrame reads it
    # lazily) — defer removal to interpreter exit, same policy as q122's
    # verdict spill (ADVICE r07 #5).
    root = tempfile.mkdtemp(prefix=prefix)  # noqa: SIM115 — sink outlives us
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src, sink, ckpt = f"{root}/src", f"{root}/sink", f"{root}/ckpt"
    try:
        # Stage the frames CONCURRENTLY (independent writes — guide §2.6),
        # then pin each stage's file mtimes to strictly increasing values
        # in list order. The file-stream source replays files oldest-first
        # by modification time, so the explicit stamps make batch order a
        # stated invariant instead of a side effect of sequential writes
        # (serial writes could in principle even collide within a
        # millisecond); semantics are unchanged and every streaming query
        # re-verified hash-exact.
        import time as _time

        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=min(4, len(stages))) as pool:
            futs = [
                pool.submit(
                    inheritable_thread_target(spark)(
                        lambda df=df, name=name: df.coalesce(1)
                        .write.mode("overwrite")
                        .parquet(f"{src}/{name}")
                    )
                )
                for name, df in stages
            ]
            for f in futs:
                f.result()
        t_base = _time.time()
        for k, (name, _) in enumerate(stages):
            d = f"{src}/{name}"
            for fn in os.listdir(d):
                os.utime(os.path.join(d, fn), (t_base + k, t_base + k))
        stream = (
            spark.readStream.schema(stages[0][1].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        with _stream_shuffle_partitions(spark):
            q = start(stream, sink, ckpt)
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise RuntimeError(
                    "bounded stream run did not finish within "
                    f"{STREAM_TIMEOUT_S}s"
                )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    schema = (schema_cell or {}).get("schema")
    if schema is not None:
        return spark.read.schema(schema).parquet(sink)
    return spark.read.parquet(sink)


def _sentinel_frames(spark, schema, max_ts, make_row):
    """Two far-future single-row frames under reserved negative ids — the
    end-of-stream tail that advances the watermark past every real
    session/window (the second sentinel's batch carries the first's
    timestamp as watermark, so all REAL state flushes deterministically
    regardless of whether a trailing empty commit batch runs).

    Built JVM-side (range + literals), NOT spark.createDataFrame: a
    parallelize-backed one-row frame writes through a Python-RDD task
    whose worker round-trip costs ~5-7 s under load, vs ~0.2 s for the
    pure-codegen literal row (measured; it dominated the whole harness)."""
    import datetime as _dt

    out = []
    for i, h in ((1, 1000), (2, 2000)):
        vals = make_row(-i, max_ts + _dt.timedelta(hours=h))
        df = spark.range(1).select(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for f, v in zip(schema.fields, vals)
            ]
        )
        out.append((f"sentinel{i}", df))
    return out


@register("q99_sessionize_stream", oracle=_SESSIONIZE_SQL)
def q99_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q35's sessionization executed through the REAL Structured-Streaming
    stateful path (operators.sessions.sessionize_stream,
    applyInPandasWithState with event-time timeout) and hash-checked
    against the SAME batch SQL oracle — the proof that the custom stateful
    operator's streaming semantics equal the batch window form, promoted
    from a pytest assertion to driver-grade evidence.

    Mechanics (shared _run_bounded_stream harness): the events table plus
    two far-future sentinel rows under reserved negative user_ids stream
    as three ordered micro-batches; each batch advances the watermark
    computed from the PREVIOUS batch, so the sentinel batches flush every
    real session's timed-out state while the sentinels' own sessions are
    still open at termination and are never emitted (append mode).
    Watermarks require TIMESTAMP (ltz), not the fixture's ntz: staged with
    an ntz→ltz cast and cast back on output — wall-clock-preserving within
    one session (exact under the driver's UTC). Session ids are assigned
    batch-side by per-user start order, the same ordinal rule the batch
    form and the oracle use. Scale posture: identical to production — the
    state store shuffles once on user_id, per-user state is O(1), and the
    watermark bounds state lifetime; the staging exists only to give the
    bounded fixture a deterministic end-of-stream flush."""
    from binwatch_spark.operators.sessions import sessionize_stream

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    max_ts = ev.agg(F.max("ts").alias("m")).first()["m"]
    stages = [("batch0", ev)] + _sentinel_frames(
        spark, ev.schema, max_ts, lambda i, t: (i, t, i)
    )
    out = _run_bounded_stream(
        spark,
        "q99_stream_",
        stages,
        lambda s: sessionize_stream(
            s.withWatermark("ts", "0 seconds"),
            gap_minutes=SESSION_GAP_MINUTES,
        ),
    )
    # AvailableNow may run a final commit batch whose watermark (advanced
    # by the last sentinel) flushes the FIRST sentinel's own session —
    # drop the reserved sentinel ids rather than depending on that
    # batch-scheduling detail either way.
    out = out.filter(~F.col("user_id").isin(-1, -2))
    w = Window.partitionBy("user_id").orderBy("session_start")
    return out.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("session_id"),
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@register(
    "q100_dedup_stream",
    oracle="SELECT event_id, user_id, ts, event_type, value, props FROM events",
)
def q100_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay collapse through the REAL streaming dedup path
    (streaming/analytics.dedup_stream → dropDuplicatesWithinWatermark),
    hash-checked against the plain table: the stream is fed the events
    table TWICE (a full replay — the delivery scenario the reference's
    at-least-once contract produces, SURVEY §2.2) in two micro-batches,
    and the watermarked key-dedup state must emit each event exactly once.
    The watermark horizon is sized past the fixture's full time span so
    every replay lands inside it — the documented contract (horizon ≥
    replay lag); state is evicted past the horizon, which is what makes
    this a bounded-state 100 TB/day plan rather than an unbounded key set.
    Scale posture: one shuffle on the dedup key per batch; state size =
    keys within the horizon."""
    from binwatch_spark.streaming.analytics import dedup_stream

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
        "props",
    )
    out = _run_bounded_stream(
        spark,
        "q100_stream_",
        [("original", ev), ("replay", ev)],
        lambda s: dedup_stream(
            s, keys=["event_id"], ts_col="ts", watermark="60 days"
        ),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
        "props",
    )


@register(
    "q101_windowed_counts_stream",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       count(*) AS n_events
FROM events GROUP BY 1
""",
)
def q101_windowed_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window event counts through the REAL streaming
    aggregation path (streaming/analytics.windowed_counts), hash-checked
    against the batch GROUP BY: append mode only emits a window once the
    watermark passes its end, so the double-sentinel tail (shared
    _run_bounded_stream harness) guarantees every real window finalizes
    within the AvailableNow run; windows at/after the first sentinel are
    unfinalized by construction and excluded by the max-real-timestamp
    bound. Scale posture: the production shape unchanged — one shuffle on
    the window key, state bounded by (horizon / window) windows."""
    from binwatch_spark.streaming.analytics import windowed_counts

    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    max_ts = ev.agg(F.max("ts").alias("m")).first()["m"]
    stages = [("batch0", ev)] + _sentinel_frames(
        spark, ev.schema, max_ts, lambda i, t: (i, t)
    )
    out = _run_bounded_stream(
        spark,
        "q101_stream_",
        stages,
        lambda s: windowed_counts(
            s, ts_col="ts", window="1 hour", watermark="0 seconds"
        ),
    )
    return out.filter(F.col("win_start") <= max_ts).select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        F.col("win_end").cast("timestamp_ntz").alias("win_end"),
        "n_events",
    )


@register(
    "q102_interval_join_stream",
    oracle="""
SELECT a.event_id AS l_event_id, b.event_id AS r_event_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts <= a.ts
 AND b.ts >= a.ts - INTERVAL 1 HOUR
""",
)
def q102_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (streaming/analytics.
    interval_join — the enrichment join of the streaming family, batch
    twin q49's predicate shape) run end-to-end and hash-checked against
    the batch join: both legs are the SAME staged events stream (a
    streaming self-join; the right leg is a column-renamed select of the
    left — one staged copy, not two), so the oracle is the plain
    self-join within the lookback. Inner stream-stream joins emit a pair
    as soon as both rows have arrived — no sentinel tail needed — but the
    watermark horizon must cover the fixture's full span so no join state
    is evicted before the opposite leg's rows land (the same horizon ≥
    replay-lag contract as q100; in production the horizon tracks actual
    cross-stream lag and bounds state). One shuffle per side on the join
    key; the range predicate rides the same exchange."""
    from binwatch_spark.streaming.analytics import interval_join

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )

    def build(s):
        right = s.select(
            F.col("event_id").alias("r_event_id"),
            "user_id",
            F.col("ts").alias("rts"),
        )
        return interval_join(
            s, right, "user_id", "ts", "rts",
            lookback="1 hour", watermark="60 days",
        ).select(
            F.col("event_id").alias("l_event_id"),
            F.col("r_event_id"),
            "user_id",
        )

    return _run_bounded_stream(spark, "q102_stream_", [("events", ev)], build)


# Mixture materialization: fraction of total corpus tokens the sampled mix
# targets, and the integer hash modulus the per-source gate uses. The gate
# threshold floor(rate * MIX_MOD) is integer in both engines, so the only
# float steps are IEEE mul/div in a spelled-identical order plus q86's
# round(8) weight — the whole sample is hash-exact.
MIX_BUDGET = 0.25
MIX_MOD = 1_000_000


@register(
    "q108_mixture_sample",
    oracle=f"""
WITH s AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_tokens,
    round(sqrt(CAST(n_tokens AS DOUBLE))
          / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), {MIX_ROUND})
      AS mix_weight,
    CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens
  FROM s),
thr AS (
  SELECT source,
    CAST(floor(least(CAST(1 AS DOUBLE),
      CAST({MIX_BUDGET} AS DOUBLE) * CAST(total_tokens AS DOUBLE) * mix_weight
        / CAST(n_tokens AS DOUBLE)) * {MIX_MOD}) AS BIGINT) AS gate
  FROM w)
SELECT d.doc_id, d.source,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_doc_tokens
FROM documents d JOIN thr USING (source)
WHERE {polyhash_sql("d.text")} % {MIX_MOD} < thr.gate
""",
)
def q108_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize q86's training mixture: a deterministic per-source
    document sample whose expected token mass per source is
    MIX_BUDGET × total_tokens × mix_weight (the sqrt-temperature weight,
    q86's exact expression). The per-source gate is
    polyhash(text) % 1e6 < floor(rate · 1e6) — the same content-hash
    sampling family as q36/q73, so membership is a pure function of the
    text (reproducible across runs, engines, and cluster sizes; no RNG
    state). Sources whose fair share exceeds their actual mass are kept
    whole (rate clamps at 1): temperature sampling upweights scarce
    sources by DOWN-sampling dominant ones, never duplicating.

    Scale: one two-stage integer aggregate builds the #sources-row rate
    table; the window normalization runs on that aggregated frame (q86's
    posture); the rate table broadcasts back and the gate is a map-side
    filter over the corpus scan — no corpus shuffle at all."""
    docs = load(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    sq = F.sqrt(F.col("n_tokens").cast("double"))
    w = agg.select(
        "source",
        "n_tokens",
        F.round(sq / F.sum(sq).over(Window.partitionBy()), MIX_ROUND).alias(
            "mix_weight"
        ),
        F.sum("n_tokens").over(Window.partitionBy()).alias("total_tokens"),
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(MIX_BUDGET)
        * F.col("total_tokens").cast("double")
        * F.col("mix_weight")
        / F.col("n_tokens").cast("double"),
    )
    thr = w.select(
        "source",
        F.floor(rate * MIX_MOD).cast("bigint").alias("_gate"),
    )
    return (
        docs.join(F.broadcast(thr), "source")
        .filter(polyhash(F.col("text")) % MIX_MOD < F.col("_gate"))
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias(
                "n_doc_tokens"
            ),
        )
    )


@register(
    "q110_stream_static_dedup",
    oracle="""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
incoming AS (SELECT * FROM documents WHERE doc_id % 5 = 0)
SELECT i.doc_id, i.source FROM incoming i
WHERE sha256(i.text) NOT IN (SELECT sha256(text) FROM corpus)
""",
)
def q110_stream_static_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join through the real streaming engine — the one core
    Structured Streaming join pattern q99-q102 don't cover: an arriving
    stream of documents (q107's incoming batch, staged as two
    micro-batches) is exact-deduped against the STATIC corpus digest
    index, emitting only documents that are genuinely new. The join is
    left_outer + IS NULL rather than left_anti (the stream-static support
    matrix guarantees outer with the stream on the left), stateless per
    micro-batch — no watermark, no state store.

    Scale posture: the static side is the production dedup index (digest →
    keeper), re-resolved per micro-batch — which is exactly what you want
    when the index is a table that grows between batches; it broadcasts
    when small or hash-joins on the 32-byte digest when corpus-sized.
    Oracle: the identical NOT IN over sha256 in batch SQL, so the
    streaming path is hash-checked end-to-end."""
    docs = load(spark, sf_dir, "documents")
    corpus_dig = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .groupBy(F.sha2(F.col("text"), 256).alias("_dig"))
        .agg(F.min("doc_id").alias("_dup_of"))
    )
    incoming = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "source", "text"
    )
    first = incoming.filter(F.col("doc_id") % 10 == 0)
    second = incoming.filter(F.col("doc_id") % 10 != 0)

    def build(stream):
        return (
            stream.withColumn("_dig", F.sha2(F.col("text"), 256))
            .join(corpus_dig, "_dig", "left_outer")
            .filter(F.col("_dup_of").isNull())
            .select("doc_id", "source")
        )

    return _run_bounded_stream(
        spark, "q110_stream_", [("b0", first), ("b1", second)], build
    )


def _embed_index_sql() -> str:
    from binwatch_spark.functions.texthash import (
        EMBED_DIM,
        MINHASH_A,
        MINHASH_B,
        POLY_PRIME,
        lsh_bucket_sql,
        polyhash_sql,
    )

    emb_list = "[" + ", ".join(
        f"CAST(({MINHASH_A[d]} * ph + {MINHASH_B[d]}) % {POLY_PRIME} AS DOUBLE)"
        f" / {POLY_PRIME}"
        for d in range(EMBED_DIM)
    ) + "]"
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE len(string_split(text, ' ')) > 0
), c AS (
  SELECT doc_id, toks, n, unnest(range(0, n, {CHUNK_STRIDE})) AS start
  FROM t
), chunks AS (
  SELECT doc_id, CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
    array_to_string(list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ')
      AS chunk_text
  FROM c
), ph AS (
  SELECT doc_id, chunk_id, {polyhash_sql('chunk_text')} AS ph FROM chunks
), emb AS (
  SELECT doc_id, chunk_id, {emb_list} AS embedding FROM ph
), idx AS (
  SELECT {lsh_bucket_sql('embedding')} AS bucket,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 6) AS nrm
  FROM emb)
SELECT bucket, count(*) AS n_chunks,
       CAST(sum(CAST(nrm AS DECIMAL(18,4))) AS DOUBLE) AS sum_norm
FROM idx GROUP BY bucket
"""


@register("q111_embed_index_pipeline", oracle=_embed_index_sql())
def q111_embed_index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding-index pipeline composition: q74's overlapping
    chunking → per-chunk embedding → q33's hyperplane-LSH bucket index,
    summarized as per-bucket chunk counts and norm mass. The embedding
    stage is a DETERMINISTIC hash featurizer (dim d = affine permutation d
    of the chunk's polyhash, scaled to [0,1) — the same seeded constants
    the MinHash family uses), standing in for the model call exactly like
    operators/multimodal's fake decoder: the pipeline shape (chunk →
    vectorize → index → bucket stats) is the production plan; swap the
    featurizer UDF for a real encoder and nothing else changes. Fully
    hash-checked: every stage (chunking, polyhash, affine dims, LSH
    planes, norm) is spelled identically in the oracle; norms round(6)
    then accumulate in DECIMAL so the bucket aggregate is
    order-insensitive.

    Scale: chunking is map-side row generation (q74's zero-shuffle plan);
    hashing is the memoized Arrow kernel; dims + bucket + norm are codegen
    expressions; the ONLY exchange is the final groupBy on ~2^8 bucket
    ids with map-side partial aggregation."""
    from binwatch_spark.functions.texthash import (
        EMBED_DIM,
        MINHASH_A,
        MINHASH_B,
        POLY_PRIME,
        lsh_bucket,
        make_polyhash_udf,
    )

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") > 0)
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk_text = F.array_join(
        F.slice(F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS)), " "
    )
    ph = make_polyhash_udf()
    hashed = s.select(ph(chunk_text).alias("_ph"))
    # Array HOF form on purpose: an expanded 64-dim × 8-plane SCALAR
    # expression tree was measured 1.9× SLOWER (5.5 s vs 2.9 s at sf0.1 —
    # the ~512-term tree exceeds codegen method limits and the whole
    # projection falls back to interpreted eval), so the fold-based
    # aggregate/zip_with spelling, while CodegenFallback per element, is
    # the faster of the two and stays bit-identical to list_dot_product.
    emb = F.array(
        *[
            (
                (F.lit(MINHASH_A[d]) * F.col("_ph") + F.lit(MINHASH_B[d]))
                % POLY_PRIME
            ).cast("double")
            / F.lit(POLY_PRIME)
            for d in range(EMBED_DIM)
        ]
    )
    dot = F.aggregate(
        F.zip_with(F.col("_emb"), F.col("_emb"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    idx = (
        hashed.select(emb.alias("_emb"))
        .select(
            lsh_bucket("_emb").alias("bucket"),
            F.round(F.sqrt(dot), 6).alias("_nrm"),
        )
    )
    return idx.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("_nrm").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_norm"),
    )


@register(
    "q115_corpus_diff",
    oracle="""
WITH v1 AS (
  SELECT doc_id, sha256(text) AS dig FROM documents WHERE doc_id % 7 <> 0),
v2 AS (
  SELECT doc_id,
         sha256(CASE WHEN doc_id % 10 = 1 THEN text || ' edited'
                     ELSE text END) AS dig
  FROM documents WHERE doc_id % 5 <> 0)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
  CASE WHEN v1.doc_id IS NULL THEN 'added'
       WHEN v2.doc_id IS NULL THEN 'removed'
       ELSE 'changed' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.dig <> v2.dig
""",
)
def q115_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions — the data-versioning
    primitive a pipeline runs between crawls before deciding what to
    re-process: added / removed / changed doc ids, where 'changed' means
    same id with a different content digest (v2 simulates an edit on
    doc_id % 10 == 1 so the changed class is non-empty; in production the
    two sides are two snapshot tables). Unchanged docs — the overwhelming
    bulk — are filtered OUT, so downstream incremental work (q107's index
    probe, re-embedding, re-chunking) touches only the delta.

    Scale: both sides reduce to (doc_id, 32-byte digest) map-side before
    the full-outer join on doc_id — the join never carries text; the
    output is delta-sized. This is the scan-side complement of q107: diff
    picks WHAT to process, the index decides what to keep."""
    docs = load(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("dig")
    )
    v2_text = F.when(
        F.col("doc_id") % 10 == 1, F.concat(F.col("text"), F.lit(" edited"))
    ).otherwise(F.col("text"))
    v2 = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.sha2(v2_text, 256).alias("dig")
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    return (
        j.filter(
            F.col("a.doc_id").isNull()
            | F.col("b.doc_id").isNull()
            | (F.col("a.dig") != F.col("b.dig"))
        )
        .select(
            F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
            F.when(F.col("a.doc_id").isNull(), F.lit("added"))
            .when(F.col("b.doc_id").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


# Per-source token budget for q124 (the fixture's sources hold ~1.3-1.5k
# whitespace tokens each, so 800 exercises the budget-crossing rule).
TOKEN_BUDGET = 800

# THE budget-fill rule, shared by q124 and q131 (the composite reuses the
# same cumulative window + crossing predicate; only the budget constant is
# a parameter): admit longest-first per source while the cumulative count
# BEFORE the doc is under budget, so the crossing doc is admitted and
# every source yields at least one doc.
_BUDGET_CUM_SQL = """CAST(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY n_tokens DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)"""


def token_budget_admit(t: DataFrame, budget: int) -> DataFrame:
    """Spark spelling of the budget-fill rule over a (doc_id, source,
    n_tokens, ...) frame — q124's window, verbatim."""
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    return c.filter(F.col("cum_tokens") - F.col("n_tokens") < budget)


@register(
    "q124_token_budget_select",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
    {_BUDGET_CUM_SQL} AS cum_tokens
  FROM t)
SELECT doc_id, source, n_tokens, cum_tokens FROM c
WHERE cum_tokens - n_tokens < {TOKEN_BUDGET}
""",
)
def q124_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: per mixture source, admit documents
    in priority order (longest first, doc_id tiebreak) until the source's
    cumulative token count reaches {TOKEN_BUDGET} — the doc that CROSSES
    the budget is admitted (cum before it < budget), so every source
    yields at least one doc and the budget is met, not undershot. This is
    the "fill each source's token quota" step of assembling a pretraining
    mixture from heterogeneous sources (the greedy dual of q108's
    rate-based mixture sampling).

    Scale shape: token counts are a map-side expression; the running sum
    is one window PARTITIONED BY source (shuffle on source — the mixture
    axis, naturally bounded cardinality; a skewed giant source is the
    q97-salting case and would reuse that operator). No global sort, no
    collect."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return token_budget_admit(t, TOKEN_BUDGET)


# q131's per-source budget: the post-thinning survivor mass per source is
# 38-223 whitespace tokens at the test SFs (q124's 800 would never bind),
# so 120 exercises the crossing rule on every multi-doc source while
# single-doc sources still admit their one doc.
CURATION_BUDGET = 120


def _full_curation_sql() -> str:
    # Compose the SAME SQL pieces the stage queries hash-check alone:
    # q64's verdict CTE, q34/q95's digest keep-min, q96's source-blocked
    # Jaccard + recursive-CTE clustering, q126's full thinning oracle
    # (kmeans + size quota + hash gate) embedded verbatim, q124's budget
    # window, q73/q95's split rule and accounting shape.
    from binwatch_spark.plans.dedup_queries import (
        _JAC,
        _TOKS,
        JACCARD_THRESHOLD,
    )
    from binwatch_spark.plans.similarity_queries import _cluster_sample_sql
    from binwatch_spark.plans.text_queries import _Q64_SQL

    return f"""
WITH RECURSIVE
verdicts AS ({_Q64_SQL}),
qkeep AS (
  SELECT d.doc_id, d.text, d.source
  FROM documents d JOIN verdicts v USING (doc_id) WHERE v.passes
),
ex_keepers AS (
  SELECT min(doc_id) AS doc_id FROM qkeep GROUP BY sha256(text)
),
ekeep AS (
  SELECT qkeep.* FROM qkeep JOIN ex_keepers USING (doc_id)
),
s AS (SELECT doc_id, source, {_TOKS} AS toks FROM ekeep),
pairs AS (
  SELECT i, j FROM (
    SELECT x.doc_id AS i, y.doc_id AS j, {_JAC} AS jac
    FROM s x JOIN s y ON x.source = y.source AND x.doc_id < y.doc_id)
  WHERE jac >= {JACCARD_THRESHOLD}),
edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs),
comp(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
  WHERE c.label <= e.v),
cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM comp GROUP BY node),
nkeep AS (
  SELECT ekeep.* FROM ekeep
  WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
),
thin AS (SELECT vec_id FROM ({_cluster_sample_sql()}) q126),
tkeep AS (
  SELECT nkeep.* FROM nkeep JOIN thin ON nkeep.doc_id = thin.vec_id
),
t AS (
  SELECT doc_id, source, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM tkeep),
c AS (
  SELECT doc_id, source, text, n_tokens,
    {_BUDGET_CUM_SQL} AS cum_tokens
  FROM t),
admitted AS (SELECT * FROM c WHERE cum_tokens - n_tokens < {CURATION_BUDGET})
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM (SELECT {split_case_sql()} AS split, n_tokens, source FROM admitted)
GROUP BY split
"""


@register("q131_full_curation", oracle=_full_curation_sql())
def q131_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP end-to-end pretraining curation pipeline — the single
    query a pretraining-data customer runs over a crawl (VERDICT r07 #5),
    q95 extended to the full modern recipe, every stage the SAME shared
    expression its standalone query hash-checks:

      1. quality filter          (q64's exact rule set)
      2. exact dedup keep-first  (q34/q95's digest semantics)
      3. near dedup              (q96's source-blocked Jaccard pairs +
                                  connected components, drop non-canonical)
      4. cluster-balanced thin   (q126 verbatim: k-means quota + hash
                                  gate over the embedding space; docs
                                  without an embedding drop — at 100 TB
                                  the embedding table IS the corpus index)
      5. token-budget fill       (q124's cumulative window + crossing
                                  predicate at CURATION_BUDGET)
      6. split accounting        (q73's content-hash split, q95's
                                  per-split docs/tokens/sources summary)

    Stage order is the production order: cheap row-local filters first,
    then digest dedup (32-byte shuffle), then the near-dup pair stage over
    the already-reduced survivor set, then embedding-space thinning, and
    the budget window last over the smallest frame. Thinning clusters the
    FULL embedding space (q126 verbatim, one shared clustering per crawl)
    and intersects survivors against the kept ids — a recipe choice
    documented here: clustering only survivors would re-run k-means per
    pipeline variant instead of reusing the corpus-wide one.

    Scale posture: every join is a key equi-join (verdict/digest/thin
    frames are delta- or k-sized → AQE broadcasts them); the only
    quadratic stage is q96's within-block Jaccard with its block-size
    probe + LSH fallback; the final aggregate reduces to 3 rows map-side.
    Output is integer-only — bit-exact across engines by construction."""
    from binwatch_spark.operators import dedup
    from binwatch_spark.plans.dedup_queries import JACCARD_THRESHOLD
    from binwatch_spark.plans.similarity_queries import (
        q126_cluster_balanced_sample,
    )
    from binwatch_spark.plans.text_queries import q64_quality_filter

    docs = load(spark, sf_dir, "documents")
    # The embedding-space thinning stage (q126: k-means rounds + quota
    # gate) only reads the embeddings table — it is INDEPENDENT of the
    # quality/dedup chain over documents, but its k-means rounds collect
    # eagerly while being BUILT. Build it on a worker thread so its rounds
    # overlap the dedup chain's jobs (guide §2.6) instead of serializing
    # after them; the result frame is joined exactly as before. The
    # worker's jobs keep the caller's job group (inheritable_thread_target).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    _thin_pool = ThreadPoolExecutor(max_workers=1)
    thin_future = _thin_pool.submit(
        inheritable_thread_target(spark)(
            lambda: q126_cluster_balanced_sample(spark, sf_dir).select(
                F.col("vec_id").alias("doc_id")
            )
        )
    )
    passing = q64_quality_filter(spark, sf_dir).filter(F.col("passes")).select(
        "doc_id"
    )
    qkeep = docs.join(passing, "doc_id", "left_semi").select(
        "doc_id", "text", "source"
    ).persist()
    # two consumers: digest groupBy + semi-join
    qkeep.count()
    ex_keepers = (
        qkeep.groupBy(F.sha2(F.col("text"), 256).alias("_dig"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    ekeep = qkeep.join(ex_keepers, "doc_id", "left_semi").persist()
    # two consumers: pair stage + anti-join
    ekeep.count()
    cc = dedup.connected_components(
        dedup.jaccard_pairs(
            ekeep, "text", "doc_id", "source", JACCARD_THRESHOLD
        ).select("i", "j")
    )
    near_drop = cc.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    nkeep = ekeep.join(near_drop, "doc_id", "left_anti")
    thin = thin_future.result()
    _thin_pool.shutdown(wait=False)
    tkeep = nkeep.join(thin, "doc_id", "left_semi")
    t = tkeep.select(
        "doc_id",
        "source",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    admitted = token_budget_admit(t, CURATION_BUDGET)
    out = (
        admitted.select(split_column().alias("split"), "n_tokens", "source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
    )
    # Materialize the 3-row summary eagerly so qkeep/ekeep can be released
    # HERE instead of leaking into executor storage for the rest of the
    # session (3 bench runs + oracle sweep would otherwise accumulate six
    # cached survivor sets). localCheckpoint keeps the result executor-side
    # (no driver collect of anything unbounded) and its tiny RDD is
    # ContextCleaner-reclaimed once the frame is dropped, unlike persist()
    # entries which the cache manager holds until an explicit unpersist.
    try:
        return out.localCheckpoint(eager=True)
    finally:
        qkeep.unpersist()
        ekeep.unpersist()


MIN_DOC_TOKENS = 30  # q64's lower bound, reused as the audit's gate


@register(
    "q137_constraint_audit",
    oracle=f"""
SELECT 'orders_fk_customer' AS check_name,
  CAST((SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    AS violations,
  CAST((SELECT count(*) FROM orders) AS BIGINT) AS checked
UNION ALL
SELECT 'lineitem_fk_orders',
  CAST((SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
  CAST((SELECT count(*) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'orders_pk_unique',
  CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT),
  CAST((SELECT count(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'lineitem_qty_range',
  CAST((SELECT count(*) FROM lineitem
        WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
  CAST((SELECT count(*) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'events_required_fields',
  CAST((SELECT count(*) FROM events
        WHERE ts IS NULL OR user_id IS NULL OR event_type IS NULL)
    AS BIGINT),
  CAST((SELECT count(*) FROM events) AS BIGINT)
UNION ALL
SELECT 'documents_min_tokens',
  CAST((SELECT count(*) FROM documents
        WHERE text IS NULL
           OR len(string_split(text, ' ')) < {MIN_DOC_TOKENS}) AS BIGINT),
  CAST((SELECT count(*) FROM documents) AS BIGINT)
""",
)
def q137_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training-run data validation (the dbt-test / Great-Expectations
    pass a pipeline runs before spending GPU-hours): referential
    integrity (FK anti-joins), key uniqueness, domain ranges,
    required-field nulls, and the corpus minimum-length gate — one
    (check_name, violations, checked) row each, all six checks in one
    result so the run gate is a single scan of a tiny frame.

    Scale shape: each FK check is a LEFT ANTI join counting survivors
    (broadcast when the parent side is dim-sized, shuffle otherwise —
    Catalyst's call); per-table predicate checks fuse into one aggregate
    per table (violations + total in the same pass, conditional sum).
    Output is integer-only and 6 rows regardless of corpus size."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")
    events = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents")

    def row(name, violations_df, checked_df):
        v = violations_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("violations")
        )
        c = checked_df.agg(F.count(F.lit(1)).cast("bigint").alias("checked"))
        return v.crossJoin(c).select(
            F.lit(name).alias("check_name"), "violations", "checked"
        )

    def agg_row(name, df, bad):
        # one pass: violations and total from the same aggregate
        return df.agg(
            F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias(
                "violations"
            ),
            F.count(F.lit(1)).cast("bigint").alias("checked"),
        ).select(F.lit(name).alias("check_name"), "violations", "checked")

    checks = [
        row(
            "orders_fk_customer",
            orders.join(
                customer, orders.o_custkey == customer.c_custkey, "left_anti"
            ),
            orders,
        ),
        row(
            "lineitem_fk_orders",
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
            ),
            lineitem,
        ),
        orders.agg(
            (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
            .cast("bigint")
            .alias("violations"),
            F.count(F.lit(1)).cast("bigint").alias("checked"),
        ).select(
            F.lit("orders_pk_unique").alias("check_name"),
            "violations",
            "checked",
        ),
        agg_row(
            "lineitem_qty_range",
            lineitem,
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        ),
        agg_row(
            "events_required_fields",
            events,
            F.col("ts").isNull()
            | F.col("user_id").isNull()
            | F.col("event_type").isNull(),
        ),
        agg_row(
            "documents_min_tokens",
            docs,
            F.col("text").isNull()
            | (F.size(F.split(F.col("text"), " ")) < MIN_DOC_TOKENS),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# q138's budget: arrival order admits SHORT docs too, so the quota fills
# slower than q124's longest-first — same constant still crosses within
# the fixture sources' 1.3-1.5k token mass.
STREAM_BUDGET = TOKEN_BUDGET


@register(
    "q138_stream_budget_fill",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum_tokens
  FROM t)
SELECT doc_id, source, n_tokens, cum_tokens FROM c
WHERE cum_tokens - n_tokens < {STREAM_BUDGET}
""",
)
def q138_stream_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q124's token-budget admission executed through the REAL streaming
    engine — the SEVENTH streaming pattern with driver-grade hash
    evidence: a lifetime per-key quota in applyInPandasWithState (state =
    one long per source, NO timeout — a budget is a quota, not a
    window), in ARRIVAL order because a stream cannot sort the future
    (the batch form's longest-first priority becomes doc_id arrival
    order, which the oracle's window states identically). Documents
    stream as three doc_id-ranged micro-batches; each source's running
    total persists across batches, so admission decisions span
    micro-batch boundaries — the property that actually needs the state
    store. The crossing doc is admitted per the shared rule; everything
    after is dropped at the operator, so the downstream write sees only
    admitted rows (the streaming-curation economics: drop at ingest,
    not in a later batch pass).

    Scale posture: state shuffles once on source (the mixture axis,
    bounded cardinality), O(1) bytes per source, no watermark needed;
    the staged file-ordering exists only to make the bounded fixture's
    arrival order deterministic."""
    from binwatch_spark.streaming.analytics import budget_fill_stream

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    # three ordered arrival waves by doc_id range — batch boundaries land
    # mid-source so the cross-batch state carry is actually exercised
    n_docs = t.agg(F.max("doc_id")).first()[0]
    b0 = t.filter(F.col("doc_id") <= n_docs // 3)
    b1 = t.filter(
        (F.col("doc_id") > n_docs // 3) & (F.col("doc_id") <= 2 * n_docs // 3)
    )
    b2 = t.filter(F.col("doc_id") > 2 * n_docs // 3)
    return _run_bounded_stream(
        spark,
        "q138_stream_",
        [("b0", b0), ("b1", b1), ("b2", b2)],
        lambda s: budget_fill_stream(s, STREAM_BUDGET),
    )


# Temperature sampling at alpha = 1/2: doc keep probability proportional
# to n_lang^(alpha-1) = 1/sqrt(n_lang) — rare languages survive whole,
# dominant ones thin as the square root. C and M spelled in both engines.
TEMP_C = 32
TEMP_M = 1000


@register(
    "q140_temperature_sample",
    oracle=f"""
WITH n AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY lang)
SELECT doc_id, lang, n_l FROM (
  SELECT doc_id, d.lang, n_l,
         ({polyhash_sql("text")} % {TEMP_M}) AS h
  FROM documents d JOIN n ON d.lang = n.lang)
WHERE h * h * n_l < {TEMP_C * TEMP_C * TEMP_M * TEMP_M}
""",
)
def q140_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature sampling (the mT5/XLM-R mixture recipe) at
    temperature alpha = 1/2, fully DETERMINISTIC: a document survives iff
    hash/M < C/sqrt(n_lang) — i.e. per-doc keep probability proportional
    to n_lang^(alpha-1), which upweights rare languages exactly like
    temperature-scaled sampling, but reproducible across engines and
    runs. The square-root threshold is evaluated in ALL-INTEGER form
    (h²·n_lang < C²·M²) — no pow()/sqrt() doubles anywhere near the
    decision boundary, so a last-ulp libm difference can never flip a
    document in or out (the failure mode that keeps float thresholds out
    of hash-gate oracles; compare q36/q66's rational-rate gates, which
    this generalizes to data-dependent rates).

    Scale shape: the language histogram is a k-row aggregate broadcast
    back; the gate is one map-side integer expression — same single-scan
    economics as q36 with the rate now a function of corpus statistics.
    When C² >= n_lang the inequality holds for every h (< M), so
    under-threshold languages are kept whole with no special case."""
    from binwatch_spark.functions.texthash import polyhash

    docs = load(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_l"))
    h = polyhash(F.col("text")) % TEMP_M
    return (
        docs.join(F.broadcast(n), "lang")
        .withColumn("h", h)
        .filter(
            F.col("h") * F.col("h") * F.col("n_l")
            < F.lit(TEMP_C * TEMP_C * TEMP_M * TEMP_M)
        )
        .select("doc_id", "lang", "n_l")
    )


@register(
    "q141_scd2_stream",
    oracle="""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_type
  FROM events),
chg AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE prev_type IS NULL OR prev_type <> event_type),
iv AS (
  SELECT user_id, event_type, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM chg)
SELECT user_id, event_type, valid_from, valid_to
FROM iv WHERE valid_to IS NOT NULL
""",
)
def q141_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q139's SCD2 maintenance executed through the REAL streaming engine
    — the EIGHTH streaming pattern with driver-grade hash evidence:
    per-key open-version state (string + epoch-micros, O(1), no
    timeout), each change CLOSING the predecessor version; emitted
    history is exactly q139's closed intervals (open versions are not
    history yet, so the oracle filters valid_to IS NOT NULL — the one
    stated difference from the batch view, inherent to append-mode
    streaming). Events stream as three ts-ranged micro-batches, so
    versions opened in one batch close in a later one — the cross-batch
    carry the state store exists for.

    Scale posture: one shuffle on the key, O(1) state per key forever
    (no watermark needed — a dimension version has no expiry); this is
    the natural foreachBatch-free form of maintaining a type-2 history
    table directly from the CDC envelope stream."""
    from binwatch_spark.streaming.analytics import scd2_stream

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    # three ts-ranged arrival waves: equal-width cuts from one map-side
    # min/max pass (2 scalars driver-side); ties share a batch because the
    # split is on ts value. Wave BOUNDARIES don't affect the result — the
    # emitted history is invariant to how the ts-ordered stream is split —
    # so the exact-percentile cut used before r13 was paying a sort-based
    # aggregation (buffers every value per partition) for balance the
    # query doesn't need; min/max is a partial-aggregated single pass
    # (guide §1.2: don't compute more precision than the job consumes).
    cuts = ev.agg(
        F.min(F.col("ts").cast("double")).alias("mn"),
        F.max(F.col("ts").cast("double")).alias("mx"),
    ).first()
    mn, mx = cuts["mn"], cuts["mx"]
    c1 = mn + (mx - mn) / 3.0
    c2 = mn + 2.0 * (mx - mn) / 3.0
    tsd = F.col("ts").cast("double")
    stages = [
        ("b0", ev.filter(tsd <= c1)),
        ("b1", ev.filter((tsd > c1) & (tsd <= c2))),
        ("b2", ev.filter(tsd > c2)),
    ]
    out = _run_bounded_stream(spark, "q141_stream_", stages, scd2_stream)
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
        F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
    )


@register(
    "q146_interval_join_outer_stream",
    oracle="""
SELECT a.event_id AS l_event_id, b.event_id AS r_event_id, a.user_id
FROM (SELECT * FROM events WHERE event_type = 'click') a
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id AND b.ts <= a.ts
 AND b.ts >= a.ts - INTERVAL 1 HOUR
""",
)
def q146_interval_join_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-evicted stream-stream LEFT OUTER interval join — the
    NINTH streaming pattern (VERDICT r08 #4): the production
    CDC-enrichment case q102's inner join can't express, where a click
    with NO same-user purchase in the preceding hour must still emit,
    null-padded. An outer non-match is only decidable once the watermark
    proves no matching right row can still arrive, so the null-padded
    emission IS the state-eviction event — which this query pins across
    micro-batch boundaries: events stream as three ts-ranged waves
    (q141's tercile staging), so clicks from wave k are evicted-and-
    emitted by the watermark that wave k+1 (or the sentinel tail)
    carries, never inside their own batch.

    Both legs derive from the SAME staged stream (one copy), filtered by
    event_type AFTER the stream source, and each leg gets its own
    watermark: the global watermark is the min across legs, so the
    sentinel frames must advance BOTH — each sentinel stage therefore
    carries a click-typed AND a purchase-typed far-future row under
    reserved negative ids/user_ids (distinct per leg so sentinels can
    never match each other), where q99-q101's single-leg patterns need
    only one row. Sentinel clicks do emit (null-padded, nothing
    matches a negative user) and are dropped by the reserved-id filter;
    real rows flush because the second sentinel's batch carries the
    first's timestamp as watermark — the same double-tail contract as
    q99.

    Watermark safety at the staging's wave boundaries: waves are
    ts-ordered, so a matching purchase is always staged in the same or an
    earlier wave than its click; right-side state is needed while
    rts >= click.ts - lookback and the 2 h delay keeps every such row
    alive past its wave (eviction threshold trails the newest wave by
    delay + lookback). Batch twin: q49's bin-bucketed range join with the
    same LEFT JOIN predicate — the oracle states it directly.

    Scale posture: one shuffle per leg on the join key; per-key state
    bounded by (watermark + lookback) of rows; outer results trail the
    stream by the watermark delay — the inherent latency price of
    proving a negative, stated rather than hidden."""
    from binwatch_spark.streaming.analytics import interval_join

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    # equal-width wave cuts from the same map-side min/max pass that
    # produces the sentinel anchor — see q141's cut comment: boundaries
    # don't affect the joined result, so the former exact percentile was
    # an unneeded sort-based pass over every ts.
    agg = ev.agg(
        F.max("ts").alias("m"),
        F.min(F.col("ts").cast("double")).alias("mn"),
        F.max(F.col("ts").cast("double")).alias("mx"),
    ).first()
    max_ts, mn, mx = agg["m"], agg["mn"], agg["mx"]
    c1 = mn + (mx - mn) / 3.0
    c2 = mn + 2.0 * (mx - mn) / 3.0
    tsd = F.col("ts").cast("double")

    import datetime as _dt

    def sentinel(i: int, hours: int) -> DataFrame:
        t = max_ts + _dt.timedelta(hours=hours)
        rows = [(-i, -1, t, "click"), (-i - 10, -2, t, "purchase")]
        frames = [
            spark.range(1).select(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    for f, v in zip(ev.schema.fields, vals)
                ]
            )
            for vals in rows
        ]
        return frames[0].unionByName(frames[1])

    stages = [
        ("b0", ev.filter(tsd <= c1)),
        ("b1", ev.filter((tsd > c1) & (tsd <= c2))),
        ("b2", ev.filter(tsd > c2)),
        ("sentinel1", sentinel(1, 1000)),
        ("sentinel2", sentinel(2, 2000)),
    ]

    def build(s):
        clicks = s.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        buys = s.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("r_event_id"),
            "user_id",
            F.col("ts").alias("rts"),
        )
        return interval_join(
            clicks, buys, "user_id", "ts", "rts",
            lookback="1 hour", watermark="2 hours", how="left_outer",
        ).select(
            F.col("event_id").alias("l_event_id"),
            F.col("r_event_id"),
            "user_id",
        )

    out = _run_bounded_stream(spark, "q146_stream_", stages, build)
    # The reserved-id filter runs on the BATCH read-back, never inside the
    # streaming query: placed post-join in the stream, Catalyst pushes the
    # null-preserving l_event_id >= 0 predicate through the outer join
    # down the left leg, BELOW the watermark node — the sentinel clicks
    # then never advance the left watermark and the last real wave's
    # unmatched rows stay in state forever (observed: the final ~2 h of
    # clicks silently missing). Same placement rule as q99's sentinel
    # drop.
    return out.filter(F.col("l_event_id") >= 0)
