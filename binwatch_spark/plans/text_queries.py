"""Text-analysis and multimodal query inventory (q27–q30, q32)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binwatch_spark.functions.texthash import STOPWORDS, polyhash_sql
from binwatch_spark.operators import multimodal, text
from binwatch_spark.plans.registry import register
from binwatch_spark.tables import load, local_frame


def _stop_list_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _hits_sql(lang: str) -> str:
    return (
        f"CAST(len(list_filter(toks, t -> list_contains({_stop_list_sql(lang)}, t)))"
        " AS BIGINT)"
    )


def _langid_sql() -> str:
    langs = sorted(STOPWORDS)
    scores = ", ".join(f"{_hits_sql(lang)} AS s_{lang}" for lang in langs)
    all_scores = ", ".join(f"s_{lang}" for lang in langs)
    case = " ".join(
        f"WHEN s_{lang} >= greatest({all_scores}) THEN '{lang}'" for lang in langs
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
s AS (SELECT doc_id, {scores} FROM t)
SELECT doc_id, CASE {case} ELSE 'und' END AS pred_lang, s_en AS en_hits FROM s
"""


@register("q27_language_id", oracle=_langid_sql())
def q27_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-hit argmax (alphabetical tiebreak) — one scan,
    zero shuffles, pure array expressions."""
    docs = load(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        text.language_id(F.col("text")).alias("pred_lang"),
        text.stopword_hits(toks, "en").cast("bigint").alias("en_hits"),
    )


@register(
    "q28_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
    len(string_split(lower(text), ' ')) AS n_tokens,
    len(list_filter(string_split(lower(text), ' '),
        t -> list_contains({_stop_list_sql("en")}, t))) AS hits
  FROM documents)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
  CAST(hits AS DOUBLE) / n_tokens AS stop_ratio,
  round(least(CAST(n_tokens AS DOUBLE) / 50, CAST(1 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
    + (CAST(hits AS DOUBLE) / n_tokens) * CAST(0.5 AS DOUBLE), 6) AS quality
FROM t
""",
)
def q28_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, average token length,
    stopword ratio, bounded composite score."""
    docs = load(spark, sf_dir, "documents")
    feats = text.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["stop_ratio"].alias("stop_ratio"),
        feats["quality"].alias("quality"),
    )


@register(
    "q29_token_stats",
    oracle=(
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,"
        " CAST(len(regexp_extract_all(lower(text),"
        r" '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS bpe_tokens"
        " FROM documents"
    ),
)
def q29_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex tokenizer
    (word / number / symbol runs) — both as JVM regexp expressions."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("ws_tokens"),
        text.bpe_token_count(F.col("text")).cast("bigint").alias("bpe_tokens"),
    )


@register(
    "q30_doc_fingerprint",
    oracle=f"""
SELECT doc_id, {polyhash_sql("text")} AS doc_hash,
  list_min(list_transform(list_distinct(string_split(lower(text), ' ')),
           t -> {polyhash_sql("t")})) AS min_token_hash
FROM documents
""",
)
def q30_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text rolling hash + min token hash
    (1-permutation MinHash) — the primitive under the q23 signatures."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.doc_fingerprint(F.col("text")).alias("doc_hash"),
        text.min_token_fingerprint(F.col("text")).alias("min_token_hash"),
    )


@register(
    "q39_tfidf",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
    round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
SELECT doc_id, token, tf, tfidf, CAST(rn AS INTEGER) AS rank FROM (
  SELECT doc_id, token, tf, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored)
WHERE rn <= 3
""",
)
def q39_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Classic two-phase shape: per-doc term
    frequencies (one shuffle on (doc, token)), document frequencies derived
    from the tf relation (map-side partial aggs), idf joined back broadcast —
    the doc-frequency side is |vocabulary| rows, tiny at any corpus scale.
    tfidf rounded to 6 decimals so Java/libm ln ulp differences can't flip
    the hash."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )


@register(
    "q32_multimodal_decode",
    oracle=(
        "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,"
        " sha256(text) AS content_sha256 FROM documents"
    ),
)
def q32_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: text bytes stand in for an opaque
    media payload → binary column + metadata → Arrow-batched mapInPandas
    decode (stub featurizer) → metadata out. The oracle checks the
    metadata columns; the feature vector is exercised by unit tests."""
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.with_binary_payload(docs, "text", "doc_id")
    decoded = multimodal.decode_features(payload)
    return decoded.select("doc_id", "byte_len", "content_sha256")


@register(
    "q75_frame_sample",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text,
         CAST(ceil(length(text) / {multimodal.FRAME_CHARS}.0) AS BIGINT) AS nf
  FROM documents),
s AS (
  SELECT doc_id, text, unnest(range(0, nf, {multimodal.FRAME_STRIDE})) AS k
  FROM t WHERE nf > 0)
SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
  sha256(substring(text, CAST(k * {multimodal.FRAME_CHARS} + 1 AS BIGINT),
                   {multimodal.FRAME_CHARS})) AS frame_sha256,
  CAST(strlen(substring(text, CAST(k * {multimodal.FRAME_CHARS} + 1 AS BIGINT),
                        {multimodal.FRAME_CHARS})) AS BIGINT) AS frame_bytes
FROM s
""",
)
def q75_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through the multimodal plumbing: payload →
    fixed-size frames → keep every {multimodal.FRAME_STRIDE}th → digest per
    sampled frame. A fan-out mapInPandas stage (rows out > rows in), the
    batch shape a real ffmpeg/decord sampler slots into; frames are
    character windows of the text stand-in so the oracle checks every
    sampled frame's hash."""
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.with_binary_payload(docs, "text", "doc_id")
    return multimodal.sample_frames(payload)


@register(
    "q76_thumbnail",
    oracle=f"""
SELECT doc_id,
  sha256(substring(text, 1, {multimodal.THUMB_CHARS})) AS thumb_sha256,
  CAST(strlen(substring(text, 1, {multimodal.THUMB_CHARS})) AS BIGINT)
    AS thumb_bytes
FROM documents
""",
)
def q76_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/thumbnail through the multimodal plumbing: each payload
    shrunk to a fixed {multimodal.THUMB_CHARS}-char budget (stub for a real
    image resize) in one Arrow-batched mapInPandas pass; the oracle checks
    the digest and byte length of every thumbnail."""
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.with_binary_payload(docs, "text", "doc_id")
    return multimodal.resize_thumbnail(payload)


_PNG_N = 3 * multimodal.PNG_W * multimodal.PNG_H


@register(
    "q119_png_decode",
    oracle=f"""
WITH px AS (
  SELECT doc_id, unnest(range(0, {_PNG_N})) AS k FROM documents)
SELECT doc_id,
  CAST({multimodal.PNG_W} AS BIGINT) AS width,
  CAST({multimodal.PNG_H} AS BIGINT) AS height,
  round(avg(CASE WHEN k % 3 = 0 THEN (doc_id * 7 + k) % 256 END), 6) AS mean_r,
  round(avg(CASE WHEN k % 3 = 1 THEN (doc_id * 7 + k) % 256 END), 6) AS mean_g,
  round(avg(CASE WHEN k % 3 = 2 THEN (doc_id * 7 + k) % 256 END), 6) AS mean_b
FROM px GROUP BY doc_id
""",
)
def q119_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→pixels through the multimodal decode stage: each doc gets
    a deterministic 16×16 RGB PNG (closed-form pixel rule, scanline filter
    cycling through all five types — operators/multimodal.
    synthesize_png_payloads), decode_features routes it to real_decode's
    pure-stdlib PNG decoder (zlib inflate + CRC check + per-spec
    unfiltering), and the decoded per-channel means come out as features.
    The oracle computes the SAME means from the closed-form pixel rule in
    SQL — no PNG anywhere on the oracle side — so a decoder that
    mis-reconstructs ANY filter type (the pixel rule makes adjacent bytes
    differ, exercising Sub/Up/Average/Paeth non-trivially) hash-mismatches
    immediately. Integer sums / power-of-two pixel count keep the doubles
    exact on both engines. q32/q75/q76 remain the text-payload plumbing
    checks; this is the bytes→pixels one (VERDICT r06 #7)."""
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.synthesize_png_payloads(docs, "doc_id")
    decoded = multimodal.decode_features(payload)
    f = F.col("feature")
    return decoded.select(
        "doc_id",
        f[0].cast("bigint").alias("width"),
        f[1].cast("bigint").alias("height"),
        F.round(f[3], 6).alias("mean_r"),
        F.round(f[4], 6).alias("mean_g"),
        F.round(f[5], 6).alias("mean_b"),
    )


@register(
    "q125_wav_decode",
    oracle=f"""
WITH s AS (
  SELECT doc_id, k,
         ((doc_id * 31 + k * 7) % 4096) - 2048 AS v
  FROM (SELECT doc_id, unnest(range(0, {multimodal.WAV_N})) AS k
        FROM documents)
), z AS (
  SELECT doc_id, k, v,
    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
  FROM s)
SELECT doc_id,
  CAST({multimodal.WAV_N} AS BIGINT) AS n_samples,
  CAST({multimodal.WAV_RATE} AS BIGINT) AS sample_rate,
  avg(v) AS mean_sample,
  avg(abs(v)) AS mean_abs,
  CAST(sum(CASE WHEN pv IS NOT NULL AND (pv < 0) != (v < 0)
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
  CAST(min(v) AS BIGINT) AS min_sample,
  CAST(max(v) AS BIGINT) AS max_sample
FROM z GROUP BY doc_id
""",
)
def q125_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→samples through the multimodal decode stage, audio
    modality: each doc gets a deterministic mono 16-bit PCM WAV
    (closed-form sample rule — operators/multimodal.
    synthesize_wav_payloads), decode_features routes the RIFF magic to
    wav_features (pure-stdlib chunk walk + PCM unpack), and the decoded
    statistics (mean, mean |amplitude|, zero crossings, min/max) come out
    as features. The oracle computes the SAME statistics from the sample
    rule in SQL — no audio codec on the oracle side — so a decoder that
    misparses the RIFF layout or sample encoding hash-mismatches
    immediately. Integer sums over a power-of-two sample count keep the
    doubles exact in both engines. Together with q119 (PNG) this makes
    BOTH real decoders first-class oracle-checked paths; q32/q75/q76
    remain the opaque-payload plumbing checks."""
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.synthesize_wav_payloads(docs, "doc_id")
    decoded = multimodal.decode_features(payload)
    f = F.col("feature")
    return decoded.select(
        "doc_id",
        f[0].cast("bigint").alias("n_samples"),
        f[1].cast("bigint").alias("sample_rate"),
        f[3].alias("mean_sample"),
        f[4].alias("mean_abs"),
        f[5].cast("bigint").alias("zero_crossings"),
        f[6].cast("bigint").alias("min_sample"),
        f[7].cast("bigint").alias("max_sample"),
    )


def _resize_sql() -> str:
    """q132's oracle: every RESIZED pixel stated from the closed-form
    input rule — value at input (y, x, c) is (doc_id*7 + (y*W + x)*3 + c)
    % 256 (q119's rule), and output pixel k is the floor-mean of its
    factor×factor block. No PNG codec and no resampler on the oracle
    side; a resize that pools the wrong block, channel-interleaves
    incorrectly, or rounds instead of flooring hash-mismatches."""
    f = multimodal.RESIZE_FACTOR
    w, nw = multimodal.PNG_W, multimodal.PNG_W // f
    nh = multimodal.PNG_H // f
    n_out = nw * nh * 3
    # k → (oy = k // (nw*3), ox = (k // 3) % nw, c = k % 3); block member
    # b → (dy = b // f, dx = b % f); flat input index (y*W + x)*3 + c.
    px = (
        f"list_sum(list_transform(range(0, {f * f}), b -> "
        f"(doc_id * 7 + (((k // {nw * 3}) * {f} + b // {f}) * {w} "
        f"+ ((k // 3) % {nw}) * {f} + (b % {f})) * 3 + k % 3) % 256"
        f")) // {f * f}"
    )
    return f"""
WITH o AS (
  SELECT doc_id, unnest(range(0, {n_out})) AS k FROM documents),
v AS (
  SELECT doc_id, k, {px} AS px FROM o)
SELECT doc_id,
  CAST({nw} AS BIGINT) AS width,
  CAST({nh} AS BIGINT) AS height,
  round(avg(CASE WHEN k % 3 = 0 THEN px END), 6) AS mean_r,
  round(avg(CASE WHEN k % 3 = 1 THEN px END), 6) AS mean_g,
  round(avg(CASE WHEN k % 3 = 2 THEN px END), 6) AS mean_b,
  CAST(min(px) AS BIGINT) AS min_px,
  CAST(max(px) AS BIGINT) AS max_px
FROM v GROUP BY doc_id
"""


@register("q132_image_resize", oracle=_resize_sql())
def q132_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→pixels→RESIZED-pixels (VERDICT r07 #6 — the rung q76's
    text-payload stub pointed at): synthesize each doc's deterministic
    16×16 RGB PNG (q119's fixture rule, all five scanline filters),
    decode with the pure-stdlib decoder, box-downsample by
    {multimodal.RESIZE_FACTOR} with integer floor-mean pooling
    (operators/multimodal.box_downsample), and emit the thumbnail's
    per-channel means + min/max. The oracle recomputes every output
    pixel from the closed-form input rule in SQL — decoder AND resampler
    are both hash-checked end-to-end. Integer sums over a power-of-two
    output count keep the doubles exact on both engines.

    Scale shape: one Arrow-batched mapInPandas pass, same stage contract
    as decode_features — at 100 TB the resize fuses with decode in a
    single partition-local pass (no shuffle), and a GPU/SIMD resampler
    replaces only box_downsample."""
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.synthesize_png_payloads(docs, "doc_id")
    resized = multimodal.resize_box_features(payload)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_r"), 6).alias("mean_r"),
        F.round(F.col("mean_g"), 6).alias("mean_g"),
        F.round(F.col("mean_b"), 6).alias("mean_b"),
        "min_px",
        "max_px",
    )


def _pii_redact_sql() -> str:
    from binwatch_spark.operators.text import PII_EMAIL, PII_IPV4, PII_PHONE

    # Deterministic PII spans appended in SQL exactly as the Spark side
    # does — the fixture corpus carries no real PII, so the query
    # synthesizes its own test spans from doc_id (every engine-visible
    # rule shared).
    aug = (
        "text || CASE CAST(doc_id % 4 AS INTEGER)"
        " WHEN 0 THEN ' contact user' || doc_id || '@example.com now'"
        " WHEN 1 THEN ' from 10.' || CAST(doc_id % 256 AS BIGINT) || '.0.1 seen'"
        " WHEN 2 THEN ' call +1 555 ' || CAST(1000 + doc_id % 9000 AS BIGINT)"
        " ELSE '' END"
    )
    return f"""
WITH a AS (SELECT doc_id, {aug} AS t FROM documents),
s1 AS (
  SELECT doc_id, t,
    len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_emails,
    regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM a),
s2 AS (
  SELECT doc_id, n_emails,
    len(regexp_extract_all(t1, '{PII_IPV4}')) AS n_ips,
    regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2
  FROM s1),
s3 AS (
  SELECT doc_id, n_emails, n_ips,
    len(regexp_extract_all(t2, '{PII_PHONE}')) AS n_phones,
    regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g') AS t3
  FROM s2)
SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_ips AS BIGINT) AS n_ips,
       CAST(n_phones AS BIGINT) AS n_phones,
       sha256(t3) AS redacted_sha256
FROM s3
"""


@register("q121_pii_redact", oracle=_pii_redact_sql())
def q121_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured PII redaction (emails → <EMAIL>, IPv4 → <IP>, intl
    phone numbers → <PHONE>) — the curation pass q65's digit-run scrub is
    the blunt version of. The fixture corpus carries no real PII, so the
    query appends deterministic spans derived from doc_id (email / IP /
    phone / none by doc_id % 4) with the SAME expression in both engines,
    then redacts and counts per category; the output hash-checks the
    redacted text (sha256) plus the counts, so a pattern-ordering or
    dialect drift (Java regex vs RE2 — the shared patterns live in
    operators/text.py and use only the common subset) mismatches
    immediately. Pure regexp column expressions: one scan, no shuffle,
    whole-stage codegen — at 100 TB this runs at IO speed."""
    from binwatch_spark.operators import text as T

    docs = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1 seen"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" call +1 555 "),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
    )
    r = T.pii_redact(aug)
    return docs.select(
        "doc_id",
        r["n_emails"].alias("n_emails"),
        r["n_ips"].alias("n_ips"),
        r["n_phones"].alias("n_phones"),
        F.sha2(r["redacted"], 256).alias("redacted_sha256"),
    )


_Q64_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
hist AS (
  SELECT doc_id, max(c) AS max_tok_cnt FROM (
    SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
  GROUP BY doc_id),
m AS (
  SELECT doc_id,
    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
    (CAST(length(text) AS BIGINT) - (len(string_split(lower(text), ' ')) - 1))
      / CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS mean_wlen,
    CAST(len(list_filter(string_split(lower(text), ' '),
         t -> list_contains(['the','a','and','of','to','in','is','it'], t)))
      AS BIGINT) AS stop_cnt
  FROM documents)
SELECT m.doc_id, m.n_words, m.mean_wlen, m.stop_cnt, h.max_tok_cnt,
  (m.n_words BETWEEN 30 AND 2000
   AND m.mean_wlen >= 2 AND m.mean_wlen <= 12
   AND h.max_tok_cnt * 5 <= m.n_words
   AND m.stop_cnt * 50 >= m.n_words) AS passes
FROM m JOIN hist h ON m.doc_id = h.doc_id
"""


@register("q64_quality_filter", oracle=_Q64_SQL)
def q64_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality filtering: word-count bounds, mean word
    length, stopword floor, and a max-token-repetition cap. Per-row rules
    are pure codegen expressions (operators.text.filter_rules); the
    repetition rule needs the per-document token histogram — explode +
    two-level groupBy, which at 100 TB is the same shape as TF-IDF's DF
    pass (shuffle carries (doc, token) counts, combined map-side). All
    verdict arithmetic is integer cross-multiplication: bit-exact across
    engines."""
    docs = load(spark, sf_dir, "documents")
    rules = text.filter_rules(F.col("text"))
    m = docs.select(
        "doc_id",
        rules["n_words"].alias("n_words"),
        rules["mean_wlen"].alias("mean_wlen"),
        rules["stop_cnt"].alias("stop_cnt"),
    )
    hist = (
        docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok_cnt"))
    )
    j = m.join(hist, "doc_id")
    passes = (
        F.col("n_words").between(30, 2000)
        & (F.col("mean_wlen") >= 2)
        & (F.col("mean_wlen") <= 12)
        & (F.col("max_tok_cnt") * 5 <= F.col("n_words"))
        & (F.col("stop_cnt") * 50 >= F.col("n_words"))
    )
    return j.select(
        "doc_id", "n_words", "mean_wlen", "stop_cnt", "max_tok_cnt",
        passes.alias("passes"),
    )


@register(
    "q65_pii_scrub",
    oracle="""
SELECT event_id,
  regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
  CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
       AS BIGINT) AS n_digits
FROM events
""",
)
def q65_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact digit runs from the event payload and
    count redacted characters — pure regexp_replace codegen (no UDF), one
    scan, no shuffle; the pattern is a plain character class so Java regex
    and RE2 produce identical output. The training-pipeline shape for
    masking account numbers / phone fragments before a corpus ships."""
    ev = load(spark, sf_dir, "events")
    s = text.pii_scrub(F.col("props"))
    return ev.select(
        "event_id", s["scrubbed"].alias("scrubbed"), s["n_digits"].alias("n_digits")
    )


@register(
    "q79_boilerplate_strip",
    oracle=r"""
SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(
      regexp_replace(text, 'https?://[^ ]+', ' ', 'g'),
      '<[^>]*>', ' ', 'g'),
    ' +', ' ', 'g')) AS cleaned,
  CAST(length(trim(regexp_replace(
    regexp_replace(
      regexp_replace(text, 'https?://[^ ]+', ' ', 'g'),
      '<[^>]*>', ' ', 'g'),
    ' +', ' ', 'g'))) AS BIGINT) AS cleaned_chars,
  CAST(length(text) AS BIGINT) AS raw_chars
FROM documents
""",
)
def q79_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping (web-corpus cleaning): remove URLs and markup
    tags, collapse whitespace, report cleaned vs raw char counts — the
    first pass of every crawl-derived training pipeline. Three chained
    regexp_replace calls, all codegen (character classes only, so Java
    regex and RE2 agree byte-for-byte), one scan, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"https?://[^ ]+", " "),
                r"<[^>]*>",
                " ",
            ),
            r" +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.length(cleaned).cast("bigint").alias("cleaned_chars"),
        F.length("text").cast("bigint").alias("raw_chars"),
    )


@register(
    "q80_repetition_score",
    oracle="""
WITH s AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(text, '.'), x -> trim(x)),
                x -> x <> '') AS sents
  FROM documents)
SELECT doc_id,
  CAST(len(sents) AS BIGINT) AS n_sentences,
  CASE WHEN len(sents) = 0 THEN 0.0
       ELSE 1.0 - CAST(len(list_distinct(sents)) AS DOUBLE) / len(sents)
  END AS dup_sentence_frac
FROM s
""",
)
def q80_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (Gopher/C4-style quality rule): fraction of
    duplicated sentences per document — templated/spammy documents repeat
    themselves, and curation pipelines threshold on exactly this signal.
    Sentence split + distinct-count as pure array expressions: one scan,
    no shuffle, no UDF."""
    docs = load(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"\."), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n = F.size(sents)
    frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(sents)).cast("double") / n
    )
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_sentences"),
        frac.alias("dup_sentence_frac"),
    )


@register(
    "q83_token_commonness",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), total AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM counts
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(c.c) AS BIGINT) AS freq_sum,
       CAST(sum(c.c) AS DOUBLE)
         / (CAST((SELECT n FROM total) AS DOUBLE) * count(*))
         AS commonness
FROM toks t JOIN counts c ON t.tok = c.tok
GROUP BY t.doc_id
""",
)
def q83_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM commonness score — the deterministic core of a
    perplexity-style quality filter (CCNet-family): per document, the mean
    corpus frequency of its token positions. Rare-token-heavy (garbled)
    docs score low, boilerplate scores high; curation pipelines threshold
    both tails. Kept EXACT: counts stay integers end-to-end and the single
    final division freq_sum / (corpus_total × n_tokens) is one double op,
    so the oracle hash-matches bit-for-bit (no logs/exp — a true LM
    perplexity would lose cross-engine determinism for no analytic gain at
    the filter stage).

    Scale shape: tokens are collapsed to int64 xxhash64 keys map-side
    (outputs equal the string-keyed result absent ~2⁻⁶⁴ collisions); the
    corpus count table and the per-doc join both exchange (int64, int64)
    rows with map-side partial aggregation; the corpus total is a 1-row
    broadcast."""
    from binwatch_spark.tables import spread

    docs = load(spark, sf_dir, "documents")
    # Persist the hashed token frame: it feeds the corpus count table AND
    # the per-doc join (and counts feeds total + the join), so without the
    # cache the scan+explode+hash pipeline runs ~3× per execution — the
    # same two-consumer shape duplicated_span_stats caches away. Eager
    # count so concurrent stages don't race to fill the lazy cache.
    toks = (
        spread(docs, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.split(F.lower(F.col("text")), " "), lambda t: F.xxhash64(t)
                )
            ).alias("_th"),
        )
        .persist()
    )
    toks.count()
    counts = toks.groupBy("_th").agg(F.count(F.lit(1)).alias("_c"))
    total = counts.agg(F.sum("_c").alias("_n"))
    per_doc = (
        toks.join(counts, "_th")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_c").alias("freq_sum"),
        )
    )
    # _n is cast to double BEFORE the product: corpus_total × n_tokens as
    # bigint×bigint overflows int64 at ~2e13 corpus tokens × 5e5-token
    # docs (ANSI error at the 100 TB posture this query documents); the
    # double product is exact below 2^53 so the sf0.01 hash is unchanged.
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "freq_sum",
        (
            F.col("freq_sum").cast("double")
            / (F.col("_n").cast("double") * F.col("n_tokens"))
        ).alias("commonness"),
    )


@register(
    "q87_type_token_ratio",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS t FROM documents)
SELECT lang,
  CAST(count(DISTINCT t) AS BIGINT) AS vocab_size,
  CAST(count(*) AS BIGINT) AS n_tokens,
  round(CAST(count(DISTINCT t) AS DOUBLE) / count(*), 8) AS type_token_ratio
FROM tok GROUP BY lang
""",
)
def q87_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: per-language type (distinct token) and
    token counts plus the type-token ratio — the quick corpus-health signal
    for over-deduplicated (TTR too high) or boilerplate-heavy (TTR too low)
    slices. Plan: one map-side explode to (lang, token), then a single
    count-distinct aggregate — Spark expands count(DISTINCT) into a
    two-stage partial/final over (lang, token), which is exactly the
    scalable shape (no per-group set materialization). The final division
    is one double op on integer-exact inputs, rounded to 8 dp."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    )
    return tok.groupBy("lang").agg(
        F.count_distinct(F.col("t")).alias("vocab_size"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.count_distinct(F.col("t")).cast("double") / F.count(F.lit(1)), 8
        ).alias("type_token_ratio"),
    )


# BM25 configuration: the standard Okapi parameters and a fixed query-term
# set (documents are synthetic English-ish text; these are high-df tokens).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("the", "and", "data", "model", "system")


@register(
    "q90_bm25",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, avg(CAST(dlen AS DOUBLE)) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, t, count(*) AS tf FROM tok
  WHERE t IN {BM25_TERMS!r} GROUP BY doc_id, t
), df AS (
  SELECT t, count(*) AS df FROM tf GROUP BY t
), scored AS (
  SELECT tf.doc_id,
    ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
      * (tf.tf * ({BM25_K1} + 1))
      / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dlen / stats.avgdl))
      AS s
  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, round(sum(s), 6) AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms_hit
FROM scored GROUP BY doc_id
""",
)
def q90_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring of every document against a fixed query-term set —
    the classic retrieval ranking (and the relevance feature extractor of a
    RAG/data-curation pipeline). Corpus statistics (N, avgdl, per-term df)
    are tiny aggregates broadcast back; tf is one (doc, term) aggregate
    over tokens pre-filtered to the query terms, so the scan prunes
    everything else map-side. The per-doc score sums ≤|terms| doubles;
    round(6) absorbs summation-order and libm-ln last-ulp differences.
    At scale the term set is the only broadcast (bytes), and every shuffle
    carries (doc_id, term) pairs already filtered to query terms."""
    return bm25_scores(load(spark, sf_dir, "documents"))


def bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25 round(6), n_terms_hit) for the fixed BM25_TERMS query
    — q90's scoring, factored so the hybrid-retrieval rung (q123) ranks
    the IDENTICAL lexical score; only docs hitting ≥1 query term appear."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dlen").cast("double")).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("t").isin(*BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    s = idf * (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dlen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_t), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("s"), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )


# Bigram language-model smoothing constant (add-k / Jelinek-style additive
# smoothing; shared verbatim with the DuckDB oracle below).
LM_ADD_K = 0.5


@register(
    "q92_bigram_lm_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS bg
  FROM toks
), bi2 AS (
  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bi
), c_bg AS (
  SELECT bg, count(*) AS c_bg FROM bi2 GROUP BY bg
), c_w AS (
  SELECT w1, count(*) AS c_w FROM bi2 GROUP BY w1
), v AS (
  SELECT count(DISTINCT tok) AS vsz
  FROM (SELECT unnest(t) AS tok FROM toks)
), scored AS (
  SELECT b.doc_id,
         ln((c_bg.c_bg + {LM_ADD_K}) / (c_w.c_w + {LM_ADD_K} * v.vsz)) AS lp
  FROM bi2 b JOIN c_bg USING (bg) JOIN c_w USING (w1) CROSS JOIN v)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(lp) / count(*), 6) AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def q92_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM scoring — the KenLM/CCNet-style fluency
    proxy of a pretraining curation pipeline: train add-k-smoothed bigram
    counts on the corpus itself, then score every document by its mean
    bigram log-probability (low scorers are the disfluent/boilerplate
    tail the wikipedia-perplexity bucket filter drops).

    Plan: bigrams come from one transform over the token array (codegen,
    no self-join), exploded once into a persisted (doc, w1, bigram) frame
    that feeds both LM-training aggregates AND the scoring join — three
    consumers, one tokenization pass. The LM tables are corpus-sized, so
    scoring joins on the bigram/context keys (shuffle carries counted
    pairs, combined map-side); neither side is broadcast — at 100 TB the
    bigram table alone outgrows any executor. Only the vocabulary size (one
    row) is broadcast. The per-doc mean sums ≤doc-length doubles;
    round(6) absorbs summation order and libm-ln last-ulp drift (the
    q90/BM25 determinism contract). At scale you'd key the join by
    xxhash64(bigram) as q81 does for spans — kept as the string key here so
    the oracle shares it verbatim. Body: operators/text.bigram_lm_scores —
    the single definition the numpy reference test also validates."""
    docs = load(spark, sf_dir, "documents")
    return text.bigram_lm_scores(docs, "text", "doc_id", LM_ADD_K)


@register(
    "q113_source_drift",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents),
sc AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sc GROUP BY source),
corpus AS (SELECT tok, CAST(sum(c) AS BIGINT) AS d FROM sc GROUP BY tok),
total AS (SELECT CAST(sum(d) AS BIGINT) AS n FROM corpus),
terms AS (
  SELECT s.source,
         abs(CAST(coalesce(sc.c, 0) AS HUGEINT) * t.n
             - CAST(co.d AS HUGEINT) * s.ns) AS num,
         s.ns, t.n
  FROM corpus co
  CROSS JOIN st s
  LEFT JOIN sc ON sc.tok = co.tok AND sc.source = s.source
  CROSS JOIN total t)
SELECT source, max(ns) AS n_tokens,
  CAST(CAST(sum(num) AS DECIMAL(38,0)) AS DOUBLE)
    / ((2 * CAST(max(ns) AS DOUBLE)) * CAST(max(n) AS DOUBLE))
    AS tv_distance
FROM terms GROUP BY source
""",
)
def q113_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture drift monitor: for each source, the TOTAL
    VARIATION distance between its unigram distribution and the whole
    corpus's — ½ Σ_tok |p_src(tok) − p_corpus(tok)| — the number a data
    pipeline alarms on when one crawl's language shifts. Chosen over
    KL/χ² because TV needs NO transcendentals: with integer counts c
    (source), d (corpus), totals ns/n, the per-token term is
    |c·n − d·ns| — exact integer arithmetic summed exactly (DECIMAL(38)),
    one final division — so the metric is hash-exact, not
    tolerance-fuzzy.

    Scale: two count aggregates (map-side partials) sized by vocab×sources
    and vocab; the per-source totals and the corpus total are tiny frames
    broadcast into the term join; the term frame is vocab×sources rows —
    the same dictionary-cardinality regime as q92's LM tables. |c·n| at
    100 TB exceeds int64 (counts ~1e12 × totals ~1e14), hence the
    HUGEINT/DECIMAL(38) spelling on BOTH engines from the start."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )

    # THREE consumers (per-source totals, corpus totals, the term join)
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    sc = sc.persist()
    sc.count()
    st = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    corpus = sc.groupBy("tok").agg(F.sum("c").alias("d"))
    total = corpus.agg(F.sum("d").alias("n"))
    terms = (
        corpus.crossJoin(F.broadcast(st))
        .join(sc, ["source", "tok"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "ns",
            "n",
            F.abs(
                F.coalesce(F.col("c"), F.lit(0)).cast("decimal(38,0)")
                * F.col("n")
                - F.col("d").cast("decimal(38,0)") * F.col("ns")
            ).alias("num"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("ns").alias("n_tokens"),
        (
            F.sum(F.col("num")).cast("decimal(38,0)").cast("double")
            / (
                (F.lit(2) * F.max("ns").cast("double"))
                * F.max("n").cast("double")
            )
        ).alias("tv_distance"),
    )


BPE_TOPK = 50


def _word_freq(docs: DataFrame) -> DataFrame:
    """The q133/q135 shared vocabulary aggregate: lowercase whitespace
    words of length >= 2 with corpus frequencies — ONE definition so the
    merge round can never drift from iteration zero."""
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).filter(F.length("word") >= 2)
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _sym_pairs(df: DataFrame, col: str) -> DataFrame:
    """Adjacent symbol pairs (2-char windows) of ``col``, weighted by
    ``freq`` — shared by both BPE iterations."""
    return df.filter(F.length(col) >= 2).select(
        F.explode(
            F.expr(
                f"transform(sequence(1, length({col}) - 1),"
                f" i -> substring({col}, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )


# The oracle-side spelling of the two helpers above (same sharing contract).
_WORD_FREQ_SQL = """
w AS (
  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
f AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM w WHERE len(word) >= 2 GROUP BY word)"""


def _sym_pairs_sql(rel: str, col: str) -> str:
    return (
        f"SELECT unnest(list_transform(range(1, len({col})), "
        f"i -> substring({col}, CAST(i AS INTEGER), 2))) AS pair, freq "
        f"FROM {rel} WHERE len({col}) >= 2"
    )


@register(
    "q133_bpe_pair_counts",
    oracle=f"""
WITH {_WORD_FREQ_SQL},
p AS ({_sym_pairs_sql("f", "word")})
SELECT pair, cnt FROM (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair)
ORDER BY cnt DESC, pair LIMIT {BPE_TOPK}
""",
)
def q133_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, iteration zero: corpus-weighted adjacent
    character-pair frequencies — the statistic the first merge of
    byte-pair encoding maximizes (Sennrich et al.; production trainers
    iterate merge→recount, and EVERY iteration is this same shape over a
    re-symbolized vocabulary). Word frequencies aggregate once
    (the classic wordcount shuffle — map-side combined, key space is the
    corpus vocabulary); pair explosion then runs over the DISTINCT
    vocabulary weighted by freq, not over raw tokens — on a 100 TB corpus
    the vocabulary is millions of rows while raw tokens are trillions, so
    pair counting rides the small frame. Top-{BPE_TOPK} with a total-order
    tiebreak plans as TakeOrderedAndProject (per-partition top-k + single
    merge, no global sort).

    Simplification vs a production trainer, stated: pairs are raw
    character bigrams without word-boundary markers and one iteration
    only — the distributed SHAPE (vocab aggregate → weighted pair count)
    is the part that matters at scale and is what later iterations reuse.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = _sym_pairs(_word_freq(docs), "word")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOPK)
    )


_VID_N = 3 * multimodal.VID_W * multimodal.VID_H


@register(
    "q134_video_frame_decode",
    oracle=f"""
WITH fr AS (
  SELECT doc_id, unnest(range(0, {multimodal.VID_FRAMES},
                              {multimodal.VID_STRIDE})) AS f
  FROM documents),
px AS (
  SELECT doc_id, f, unnest(range(0, {_VID_N})) AS k FROM fr)
SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
  CAST({multimodal.VID_W} AS BIGINT) AS width,
  CAST({multimodal.VID_H} AS BIGINT) AS height,
  round(avg(CASE WHEN k % 3 = 0 THEN (doc_id * 7 + f * 13 + k) % 256 END), 6)
    AS mean_r,
  round(avg(CASE WHEN k % 3 = 1 THEN (doc_id * 7 + f * 13 + k) % 256 END), 6)
    AS mean_g,
  round(avg(CASE WHEN k % 3 = 2 THEN (doc_id * 7 + f * 13 + k) % 256 END), 6)
    AS mean_b
FROM px GROUP BY doc_id, f
""",
)
def q134_video_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→frames→pixels, the video modality (q75's text-payload
    frame sampling made real): each doc gets a deterministic
    {multimodal.VID_FRAMES}-frame length-prefixed container of
    {multimodal.VID_W}×{multimodal.VID_H} RGB PNGs (closed-form per-frame
    pixel rule, all five scanline filters per frame), the stage demuxes
    the container, samples every {multimodal.VID_STRIDE}nd frame BEFORE
    decoding (skipped frames cost only the demux walk — the economics a
    real `ffmpeg -vf select` sampler exploits), decodes each sampled
    frame with the pure-stdlib PNG decoder, and emits per-frame channel
    means. The oracle restates every sampled frame's means from the
    closed-form rule in SQL — demuxer AND per-frame decoder are
    hash-checked end-to-end. With q119 (image), q125 (audio), and q132
    (resize), all three modalities now have REAL oracle-checked decode
    paths; the fake featurizer remains only for codecs the container
    genuinely lacks."""
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.synthesize_video_payloads(docs, "doc_id")
    feat = multimodal.video_frame_features(payload)
    return feat.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("mean_r"), 6).alias("mean_r"),
        F.round(F.col("mean_g"), 6).alias("mean_g"),
        F.round(F.col("mean_b"), 6).alias("mean_b"),
    )


@register(
    "q135_bpe_merge_round",
    oracle=f"""
WITH {_WORD_FREQ_SQL},
p0 AS ({_sym_pairs_sql("f", "word")}),
top1 AS (
  SELECT pair AS merge_pair FROM (
    SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p0 GROUP BY pair)
  ORDER BY cnt DESC, pair LIMIT 1),
f2 AS (
  SELECT replace(word, merge_pair, chr(1)) AS sym, freq
  FROM f CROSS JOIN top1),
p2 AS ({_sym_pairs_sql("f2", "sym")})
SELECT replace(rawpair, chr(1), '<' || merge_pair || '>') AS pair, cnt
FROM (SELECT pair AS rawpair, CAST(sum(freq) AS BIGINT) AS cnt
      FROM p2 GROUP BY pair)
CROSS JOIN top1
ORDER BY cnt DESC, pair LIMIT {BPE_TOPK}
""",
)
def q135_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, iteration ONE — the merge-and-recount step
    every subsequent iteration repeats: take q133's winning pair, merge
    it into a single symbol across the vocabulary (leftmost
    non-overlapping, the greedy scan both engines' ``replace`` implements
    — 'aaa' + merge 'aa' → one merged symbol then 'a'), and recount
    adjacent symbol pairs over the re-symbolized vocabulary. Merged
    symbols surface as ``<xy>`` in the output pairs. Shares
    _word_freq/_sym_pairs with q133 on BOTH engines, so the iteration can
    never drift from iteration zero.

    Scale shape: identical to q133 plus one broadcast — the winning pair
    is a 1-row frame cross-joined (broadcast) into the map-side
    re-symbolization; no new shuffle class. A production trainer loops
    this plan vocabulary-resident (the vocab frame is millions of rows —
    cacheable), exactly like q98's kmeans loops its Arrow kernel."""
    docs = load(spark, sf_dir, "documents")
    freq = _word_freq(docs)
    p0 = _sym_pairs(freq, "word")
    top1 = (
        p0.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .select(F.col("pair").alias("merge_pair"))
    )
    f2 = freq.crossJoin(F.broadcast(top1)).select(
        F.replace(
            F.col("word"), F.col("merge_pair"), F.lit("\x01")
        ).alias("sym"),
        "freq",
        "merge_pair",
    )
    p2 = _sym_pairs(f2, "sym")
    counted = p2.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("cnt")
    )
    return (
        counted.crossJoin(F.broadcast(top1))
        .select(
            F.replace(
                F.col("pair"),
                F.lit("\x01"),
                F.concat(F.lit("<"), F.col("merge_pair"), F.lit(">")),
            ).alias("pair"),
            "cnt",
        )
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOPK)
    )


BPE_MERGES = 8


def _bpe_train_parts(k: int) -> list[str]:
    """The shared training-chain CTEs (f -> s0 -> p{r}/t{r}/s{r}) — used
    by the q145 merge-table oracle and the q150 encode oracle, so the
    applied tokenizer can never drift from the trained one."""
    parts = [_WORD_FREQ_SQL.strip(), "s0 AS (SELECT word AS sym, freq FROM f)"]
    for r in range(1, k + 1):
        prev = f"s{r - 1}"
        parts.append(f"p{r} AS MATERIALIZED ({_sym_pairs_sql(prev, 'sym')})")
        parts.append(
            f"t{r} AS MATERIALIZED ("
            f"SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt"
            f" FROM p{r} GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"s{r} AS MATERIALIZED ("
                f"SELECT replace(sym, (SELECT pair FROM t{r}),"
                f" chr({r})) AS sym, freq FROM {prev})"
            )
    return parts


def _bpe_train_sql(k: int) -> str:
    """Oracle CTE builder for the k-merge BPE training loop (the
    loop-with-oracle-CTE-builder pattern q122 established): round r's
    CTEs are s{r-1} -> p{r} (pairs) -> t{r} (winning pair) -> s{r}
    (re-symbolized vocabulary, sentinel chr(r)), and the final select
    expands sentinels DESCENDING (chr(k) first) so each inserted raw
    pair's own earlier-round sentinels are expanded by the later
    replaces — byte-identical to the Spark side's expansion.

    Every loop CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and
    with s{r} referencing both s{r-1} and t{r} (itself built on s{r-1}),
    inlining re-evaluates the chain EXPONENTIALLY in k — the 8-round
    oracle never finished without it; materialized, each round runs
    once (linear, like the Spark loop)."""
    parts = _bpe_train_parts(k)

    def expand(col: str) -> str:
        e = col
        for j in range(k, 0, -1):
            e = (
                f"replace({e}, chr({j}),"
                f" '<' || (SELECT pair FROM t{j}) || '>')"
            )
        return e

    selects = [
        f"SELECT CAST({r} AS BIGINT) AS merge_rank,"
        f" {expand('pair')} AS pair, cnt FROM t{r}"
        for r in range(1, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_rank"
    )


def _bpe_train_merges(freq: DataFrame) -> list[tuple[int, str, int]]:
    """The k-merge training loop over a persisted (word, freq) vocabulary
    — ONE definition shared by q145 (emits the merge table) and q150
    (applies it to the corpus). Returns [(rank, raw sentinel-coded pair,
    count)]; the winner collect per round is the q98/q145 O(model)
    driver pattern."""
    cur = freq.select(F.col("word").alias("sym"), "freq")
    merges: list[tuple[int, str, int]] = []
    for r in range(1, BPE_MERGES + 1):
        win_df = (
            _sym_pairs(cur, "sym")
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
        )
        win = win_df.first()
        merges.append((r, win["pair"], int(win["cnt"])))
        if r < BPE_MERGES:
            cur = cur.select(
                F.replace(
                    F.col("sym"), F.lit(win["pair"]), F.lit(chr(r))
                ).alias("sym"),
                "freq",
            )
    return merges


@register("q145_bpe_train", oracle=_bpe_train_sql(BPE_MERGES))
def q145_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the full k-merge loop (k={BPE_MERGES}),
    completing the q133 (iteration zero) / q135 (one merge round)
    progression into the real workload an LLM-data platform runs
    (VERDICT r08 #3): each round counts corpus-weighted adjacent symbol
    pairs over the current vocabulary, picks the most frequent pair
    (total-order tiebreak: count desc, pair asc), merges it into a
    single sentinel symbol chr(round) across the vocabulary, and
    recounts. Output is the merge TABLE — rank, the winning pair in
    readable form (earlier merged symbols expanded as <...>), and its
    count at merge time — i.e. exactly the artifact a trained tokenizer
    ships. Shares _word_freq/_sym_pairs with q133/q135 on BOTH engines,
    so no round can drift from the proven single-iteration semantics.

    Loop mechanics, and why the driver participates: the per-round
    winner is ONE row — argmax of the pair counts — and the next
    round's re-symbolization needs it as a literal. Keeping it
    distributed (q135's broadcast-crossJoin form) would embed round
    r-1's whole aggregation inside round r's plan TWICE (once via the
    vocabulary, once via the winner), doubling plan size per round —
    2^k growth. Collecting the single winner row per round (the q98
    kmeans pattern: k driver-resident centroids, here 1 driver-resident
    pair) keeps every round's plan linear: the persisted vocabulary
    frame + r literal-projection re-symbolizations + one wordcount-shaped
    aggregate. At 100 TB the vocabulary is millions of rows (cacheable —
    the corpus scan happens ONCE, in _word_freq) while raw tokens are
    trillions; every round rides the small frame, and the driver traffic
    is k rows total.

    The merge table itself is driver-sized by definition (a production
    tokenizer ships 32k-256k merges — list-file scale), so the result is
    assembled driver-side from the k collected winners, with sentinel
    expansion applied in descending round order exactly as the oracle
    spells it."""
    docs = load(spark, sf_dir, "documents")
    freq = _word_freq(docs).persist()
    try:
        merges = _bpe_train_merges(freq)
        rows = []
        for r, pair, cnt in merges:
            readable = pair
            for j in range(BPE_MERGES, 0, -1):
                readable = readable.replace(
                    chr(j), "<" + merges[j - 1][1] + ">"
                )
            rows.append((r, readable, cnt))
        return local_frame(
            spark, rows, "merge_rank bigint, pair string, cnt bigint"
        )
    finally:
        freq.unpersist()


GD_ROUNDS = 8
GD_LR = 0.01


def _gd_train_parts(k: int) -> list[str]:
    """The shared GD training-chain CTEs (feat/n/w0 -> g{r}/w{r}) — used
    by the q147 training oracle and the q151 residual-filter oracle, so
    the applied model can never drift from the trained one."""
    feats = """
feat AS MATERIALIZED (
  SELECT CAST(n_chars AS DOUBLE) / 100.0 AS x2,
         CAST(len(string_split(text, ' ')) AS DOUBLE) / 10.0 AS x3,
         CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
           / 10.0 AS y
  FROM documents),
n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feat),
w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    parts = [feats.strip()]
    for r in range(1, k + 1):
        prev = f"w{r - 1}"
        err = "(w.w1 + w.w2 * f.x2 + w.w3 * f.x3 - f.y)"
        parts.append(
            f"""g{r} AS MATERIALIZED (
  SELECT
    sum(CAST({err} AS DECIMAL(28,10))) AS s1,
    sum(CAST({err} * f.x2 AS DECIMAL(28,10))) AS s2,
    sum(CAST({err} * f.x3 AS DECIMAL(28,10))) AS s3
  FROM feat f CROSS JOIN {prev} w)"""
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
  SELECT
    w.w1 - {GD_LR} * (2.0 * CAST(g.s1 AS DOUBLE) / n.n) AS w1,
    w.w2 - {GD_LR} * (2.0 * CAST(g.s2 AS DOUBLE) / n.n) AS w2,
    w.w3 - {GD_LR} * (2.0 * CAST(g.s3 AS DOUBLE) / n.n) AS w3
  FROM {prev} w CROSS JOIN g{r} g CROSS JOIN n)"""
        )
    return parts


def _gd_train_sql(k: int) -> str:
    """Oracle CTE builder for the q147 gradient-descent training loop —
    the q145 materialized-chain pattern applied to model fitting: round
    r's CTEs are g{r} (the three DECIMAL(28,10)-accumulated gradient
    sums under the round-(r-1) weights) and w{r} (the scalar weight
    update), every arithmetic step spelled in the same order as the
    Spark driver loop so doubles stay bit-identical; the final select
    re-emits each round's weights rounded to 8 decimals (masking
    nothing real — amplification over {GD_ROUNDS} rounds of a last-ulp
    divergence is ~1e-15, far below the rounding grain)."""
    parts = _gd_train_parts(k)
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, round(w1, 8) AS w1,"
        f" round(w2, 8) AS w2, round(w3, 8) AS w3 FROM w{r}"
        for r in range(1, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


def _gd_features(docs: DataFrame, with_id: bool = False) -> DataFrame:
    """The q147 feature frame — ONE definition shared by training (q147)
    and application (q151): x2 = chars/100, x3 = whitespace tokens/10,
    y = distinct lowercase tokens/10 (the redundancy target)."""
    cols = [
        (F.col("n_chars").cast("double") / 100.0).alias("x2"),
        (F.size(F.split(F.col("text"), " ")).cast("double") / 10.0).alias(
            "x3"
        ),
        (
            F.size(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ).cast("double")
            / 10.0
        ).alias("y"),
    ]
    if with_id:
        cols = [F.col("doc_id"), *cols]
    return docs.select(*cols)


def _gd_train_weights(feat: DataFrame) -> list[tuple[int, float, float, float]]:
    """The GD_ROUNDS full-batch training loop over a persisted feature
    frame — shared by q147 (emits the weight trajectory) and q151
    (applies the final weights). Returns [(round, w1, w2, w3)] with the
    weights UNROUNDED (bit-identical to the oracle's w{r} CTEs; rounding
    is presentation, applied by the callers exactly where their oracles
    round)."""
    n = float(feat.count())
    w1 = w2 = w3 = 0.0
    rows: list[tuple[int, float, float, float]] = []
    for r in range(1, GD_ROUNDS + 1):
        err = (
            F.lit(w1)
            + F.lit(w2) * F.col("x2")
            + F.lit(w3) * F.col("x3")
            - F.col("y")
        )
        sums_df = feat.agg(
            F.sum(err.cast("decimal(28,10)")).alias("s1"),
            F.sum((err * F.col("x2")).cast("decimal(28,10)")).alias("s2"),
            F.sum((err * F.col("x3")).cast("decimal(28,10)")).alias("s3"),
        )
        sums = sums_df.first()
        w1 = w1 - GD_LR * (2.0 * float(sums["s1"]) / n)
        w2 = w2 - GD_LR * (2.0 * float(sums["s2"]) / n)
        w3 = w3 - GD_LR * (2.0 * float(sums["s3"]) / n)
        rows.append((r, w1, w2, w3))
    return rows


@register("q147_quality_regression_gd", oracle=_gd_train_sql(GD_ROUNDS))
def q147_quality_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MODEL TRAINING by batch gradient descent — the
    capability family beyond q98's k-means: fit a linear model
    predicting a document's distinct-token count from its length
    features (a quality-classifier building block: the residual IS a
    redundancy signal), {GD_ROUNDS} full-batch least-squares GD rounds.
    Completes the driver-resident-loop trio: q98 carries k centroids,
    q145 carries the winning merge pair, this carries the weight vector
    — in every case the driver state is O(model), never O(data), and
    each round is ONE map-side-combined aggregation over the feature
    frame (no shuffle growth with rounds; at 100 TB each round is a
    single pass with a 3-number result, the textbook distributed-GD
    shape, and the feature frame is computed once and cached).

    Cross-engine float determinism: the per-row gradient terms are
    IEEE-identical expressions; their SUM is order-sensitive in double,
    so both engines accumulate DECIMAL(28,10) (exact, order-free — the
    registry-wide convention) and cast the total back to double; the
    scalar update arithmetic is spelled in the same operation order on
    both sides, and the emitted weights round to 8 decimals (ulp-drift
    amplification over {GD_ROUNDS} rounds is ~1e-15, seven orders below
    the grain). Oracle states the identical loop as a materialized CTE
    chain (the q145 pattern)."""
    docs = load(spark, sf_dir, "documents")
    feat = _gd_features(docs).persist()
    try:
        rows = _gd_train_weights(feat)
        # rounding runs through F.round (BigDecimal HALF_UP — away from
        # zero on ties, same as DuckDB's round), NOT python's round
        # (banker's half-even): the two disagree exactly on tie digits
        return local_frame(
            spark, rows, "round bigint, w1 double, w2 double, w3 double"
        ).select(
            "round",
            F.round("w1", 8).alias("w1"),
            F.round("w2", 8).alias("w2"),
            F.round("w3", 8).alias("w3"),
        )
    finally:
        feat.unpersist()


def _bpe_encode_sql(k: int) -> str:
    """Oracle for q150: the q145 training chain verbatim
    (_bpe_train_parts — the applied tokenizer cannot drift from the
    trained one) plus the APPLY stage: every corpus word re-encoded by
    the same ascending replace chain the training rounds used (merge r's
    sentinel-coded pair replaced on the output of merges 1..r-1 — greedy
    BPE application), then per-source token accounting."""
    parts = _bpe_train_parts(k)
    enc = "word"
    for r in range(1, k + 1):
        enc = f"replace({enc}, (SELECT pair FROM t{r}), chr({r}))"
    parts.append(
        """ws AS (
  SELECT source, word FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS word
    FROM documents)
  WHERE len(word) >= 2)"""
    )
    parts.append(f"enc AS MATERIALIZED (SELECT source, word, {enc} AS sym FROM ws)")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(word)) AS BIGINT) AS n_chars,
       CAST(sum(len(sym)) AS BIGINT) AS n_tokens_bpe,
       round(CAST(sum(len(word)) AS DOUBLE) / sum(len(sym)), 6)
         AS compression
FROM enc GROUP BY source ORDER BY source
"""
    )


@register("q150_bpe_encode_corpus", oracle=_bpe_encode_sql(BPE_MERGES))
def q150_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN-THEN-APPLY for the tokenizer family — the half q145 left
    open: train the k-merge BPE table (the identical _bpe_train_merges
    loop, so the applied tokenizer IS the trained one), then ENCODE the
    whole corpus with it and account tokens per source: word
    occurrences, raw characters, post-merge BPE tokens (each sentinel
    counts 1), and the compression ratio — the number an LLM-data team
    actually watches when sizing a tokenizer against a corpus mix.

    Scale shape: training rides the persisted (word, freq) vocabulary
    (one corpus scan, k single-row collects — q145's analysis); the
    APPLY is a pure codegen projection of k chained replace literals
    over the per-(source, word) frame — no UDF, no extra shuffle beyond
    the wordcount-shaped groupBys, and at 100 TB the encode projection
    pipelines inside the same stage as the source aggregation's partial.
    Oracle spells the identical chain via _bpe_train_parts + the same
    ascending replaces, so the driver hash-check covers train AND apply
    end-to-end."""
    docs = load(spark, sf_dir, "documents")
    freq = _word_freq(docs).persist()
    try:
        merges = _bpe_train_merges(freq)
    finally:
        freq.unpersist()
    ws = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    ).filter(F.length("word") >= 2)
    enc = F.col("word")
    for r, pair, _cnt in merges:
        enc = F.replace(enc, F.lit(pair), F.lit(chr(r)))
    return (
        ws.select("source", "word", enc.alias("sym"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum(F.length("sym")).cast("bigint").alias("n_tokens_bpe"),
            F.round(
                F.sum(F.length("word")).cast("double")
                / F.sum(F.length("sym")),
                6,
            ).alias("compression"),
        )
        .orderBy("source")
    )


def _gd_filter_sql(k: int) -> str:
    """Oracle for q151: the q147 training chain verbatim
    (_gd_train_parts) plus the APPLY stage — per-document absolute
    residual under the final round's weights (the same expression order
    as training's err term), rounded to 8 dp (both engines, past the
    ~1e-15 ulp-drift range), flagged past the interpolated p95 bound
    computed on the rounded values (the q114 percentile contract)."""
    parts = _gd_train_parts(k)
    parts.append(
        """featd AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) / 100.0 AS x2,
         CAST(len(string_split(text, ' ')) AS DOUBLE) / 10.0 AS x3,
         CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
           / 10.0 AS y
  FROM documents)"""
    )
    parts.append(
        f"""r AS MATERIALIZED (
  SELECT doc_id,
         round(abs(w.w1 + w.w2 * f.x2 + w.w3 * f.x3 - f.y), 8) AS resid
  FROM featd f CROSS JOIN w{k} w)"""
    )
    parts.append(
        "b AS (SELECT round(quantile_cont(resid, 0.95), 8) AS b FROM r)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT doc_id, resid, resid > (SELECT b FROM b) AS is_outlier
FROM r
"""
    )


@register("q151_quality_residual_filter", oracle=_gd_filter_sql(GD_ROUNDS))
def q151_quality_residual_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN-THEN-APPLY for the regression family — q147's model put to
    its stated use as a quality classifier: train the redundancy
    regression (identical _gd_train_weights loop), score every document
    by |predicted − actual distinct-token ratio| under the FINAL
    weights, and flag the top-5% residuals (documents whose vocabulary
    diversity the length features cannot explain — the repetition/
    boilerplate suspects a curation pipeline routes to review). The
    q114 outlier shape (score, percentile bound, flag), so the whole
    train→score→threshold pipeline is driver-hash-checked.

    Determinism: the trained weights are bit-identical across engines
    (q147's DECIMAL(28,10) contract — the helper returns them
    UNROUNDED, matching the oracle's w{k} CTE exactly); the residual
    expression is spelled in training's operand order; residuals round
    to 8 dp before the interpolated-percentile bound and the comparison
    (both engines compare the same rounded doubles). Scale: scoring is
    a map-side projection with three weight literals; the bound is one
    percentile aggregate broadcast into the flag projection — q88/q114's
    pattern."""
    docs = load(spark, sf_dir, "documents")
    feat = _gd_features(docs).persist()
    try:
        rows = _gd_train_weights(feat)
    finally:
        feat.unpersist()
    _, w1, w2, w3 = rows[-1]
    scored = _gd_features(docs, with_id=True)
    resid = F.round(
        F.abs(
            F.lit(w1)
            + F.lit(w2) * F.col("x2")
            + F.lit(w3) * F.col("x3")
            - F.col("y")
        ),
        8,
    )
    r = scored.select("doc_id", resid.alias("resid"))
    bound = r.agg(
        F.round(F.percentile(F.col("resid"), F.lit(0.95)), 8).alias("b")
    )
    return r.crossJoin(F.broadcast(bound)).select(
        "doc_id", "resid", (F.col("resid") > F.col("b")).alias("is_outlier")
    )
