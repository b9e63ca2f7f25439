"""Text-analysis operators for large-scale corpus processing: tokenization,
language-ID, quality scoring, token counting, document fingerprinting.

Everything here is built-in Spark expressions (split/transform/aggregate/
regexp) — no Python UDFs — so the hot path stays inside whole-stage codegen
and scales linearly with one scan and zero shuffles per document.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from binwatch_spark.functions.texthash import (
    POLY_MULT,
    POLY_PRIME,
    STOPWORDS,
    polyhash,
)

# BPE-ish word/number/symbol-run tokenizer (shared with the DuckDB oracle;
# plain RE2-compatible character classes so Java and RE2 agree).
BPE_TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.split(F.lower(text), " ")


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def stopword_hits(toks: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang` (array filter, no join)."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))


def language_id(text: Column) -> Column:
    """Heuristic language-ID: stopword-hit score per language, argmax with
    alphabetical tiebreak. Returns the language code column."""
    toks = tokens(text)
    scores = {lang: stopword_hits(toks, lang) for lang in sorted(STOPWORDS)}
    best = F.greatest(*scores.values())
    expr = None
    for lang in sorted(scores):
        cond = scores[lang] >= best
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise(F.lit("und"))


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality features: token count, average token length,
    stopword ratio, and a bounded composite score."""
    toks = tokens(text)
    n_tokens = F.size(toks).cast("bigint")
    n_chars = F.length(text).cast("bigint")
    avg_token_len = (n_chars - (n_tokens - 1)) / n_tokens
    stop_ratio = stopword_hits(toks, "en").cast("double") / n_tokens
    quality = F.round(
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.5 + stop_ratio * 0.5, 6
    )
    return {
        "n_tokens": n_tokens,
        "avg_token_len": avg_token_len,
        "stop_ratio": stop_ratio,
        "quality": quality,
    }


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_PATTERN), 0))


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-gram shingles of lowercased text (order-aware
    dedup unit: token sets ignore word order, shingles don't). Guarded so
    texts shorter than k yield an empty array — F.sequence would otherwise
    produce a DESCENDING range for them."""
    low = F.lower(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(low) - (k - 1)),
        lambda i: F.substr(low, i, F.lit(k)),
    )
    return F.when(F.length(low) >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def filter_rules(text: Column) -> dict[str, Column]:
    """C4/Gopher-style document-quality rules as pure column expressions.

    Every metric is integer-derived (counts and integer-scaled comparisons)
    so the pass/fail verdicts are bit-identical across engines — ratio
    thresholds are expressed as cross-multiplications (``max_tok_cnt * 5 <=
    n_words`` is "top-token ratio ≤ 0.2") to avoid float comparison edges.
    One scan, no shuffle, whole-stage codegen; the max-repetition rule
    needs the per-document token histogram and is computed by the CALLER
    via explode+groupBy (see q64) because a per-row HOF histogram would be
    O(tokens²).

    Returns the per-row metric columns; the caller combines them with the
    histogram side and applies the verdict."""
    toks = tokens(text)
    n_words = F.size(toks).cast("bigint")
    n_chars = F.length(text).cast("bigint")
    return {
        "n_words": n_words,
        # exact mean word length from two integers (identical division
        # both engines)
        "mean_wlen": (n_chars - (n_words - 1)) / n_words,
        "stop_cnt": stopword_hits(toks, "en").cast("bigint"),
    }


# Digit-run scrubbing pattern shared with the oracle (plain character
# class — Java regex and RE2 agree).
PII_DIGIT_RUN = "[0-9]+"


def pii_scrub(col: Column) -> dict[str, Column]:
    """Redact digit runs (account numbers, phone fragments) from a string
    column: the basic PII pass of a training-data pipeline. Returns the
    scrubbed text and the count of redacted digit characters — both pure
    regexp expressions (codegen, no UDF, exact across engines)."""
    scrubbed = F.regexp_replace(col, PII_DIGIT_RUN, "#")
    n_digits = F.length(col) - F.length(F.regexp_replace(col, "[0-9]", ""))
    return {"scrubbed": scrubbed, "n_digits": n_digits.cast("bigint")}


# Structured PII patterns, shared verbatim with the oracle. Written in the
# COMMON subset of Java regex (Spark) and RE2 (DuckDB): character classes,
# bounded repetition, \b word boundaries — no backrefs, no lookaround
# (RE2 has neither).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d ]{7,}\d"


def pii_redact(col: Column) -> dict[str, Column]:
    """Structured PII redaction — the pass a curation pipeline runs before
    text reaches a training mix: emails → <EMAIL>, IPv4 literals → <IP>,
    international-format phone numbers → <PHONE>, applied IN THAT ORDER
    (an email's host can contain digit.digit sequences; redacting emails
    first keeps the IP pass from matching inside them). Returns the
    redacted text plus per-category match counts. All pure regexp
    expressions — whole-stage codegen, no UDF, and the patterns live in
    the shared constants above so the oracle spells the identical rules."""
    n_emails = F.regexp_count(col, F.lit(PII_EMAIL))
    step1 = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    n_ips = F.regexp_count(step1, F.lit(PII_IPV4))
    step2 = F.regexp_replace(step1, PII_IPV4, "<IP>")
    n_phones = F.regexp_count(step2, F.lit(PII_PHONE))
    redacted = F.regexp_replace(step2, PII_PHONE, "<PHONE>")
    return {
        "redacted": redacted,
        "n_emails": n_emails.cast("bigint"),
        "n_ips": n_ips.cast("bigint"),
        "n_phones": n_phones.cast("bigint"),
    }


def doc_fingerprint(text: Column) -> Column:
    """Whole-document rolling hash (polynomial over char codes)."""
    return polyhash(text)


def min_token_fingerprint(text: Column) -> Column:
    """Smallest token polyhash — a 1-permutation MinHash, the building block
    the dedup operator banks into signatures."""
    return F.array_min(F.transform(distinct_tokens(text), polyhash))


def bigram_lm_scores(
    df, text_col: str, id_col: str, add_k: float
):
    """Corpus-trained add-k bigram LM scoring: per-document count of
    bigrams and mean bigram log-probability (rounded to 6 dp — the
    summation-order determinism contract). THE single definition shared by
    the q92 plan and its numpy/pure-python reference test, so the plan
    body cannot drift from what the test validates.

    Plan shape: one transform over the token array builds (w1, bigram)
    structs (codegen, no self-join), exploded ONCE into a persisted frame
    feeding both LM-training aggregates and the scoring join; LM tables
    join back on the bigram/context KEYS (corpus-sized — never broadcast);
    only the single-row vocabulary size is broadcast.
    """
    from binwatch_spark.tables import spread

    toks = F.split(F.lower(F.col(text_col)), " ")
    bi = (
        spread(df, id_col)
        .withColumn("_t", toks)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(_t, 1, greatest(size(_t) - 1, 0)),"
                    " (x, i) -> struct(x AS w1,"
                    " concat(x, ' ', element_at(_t, i + 2)) AS bg))"
                )
            ).alias("_p"),
        )
        .select(F.col(id_col), F.col("_p.w1").alias("w1"), F.col("_p.bg").alias("bg"))
        .persist()
    )
    # three consumers below share one tokenization
    bi.count()
    c_bg = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    c_w = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w"))
    v = df.select(F.explode(toks).alias("tok")).agg(
        F.count_distinct("tok").alias("vsz")
    )
    lp = F.log(
        (F.col("c_bg") + F.lit(add_k))
        / (F.col("c_w") + F.lit(add_k) * F.col("vsz"))
    )
    scored = (
        bi.join(c_bg, "bg")
        .join(c_w, "w1")
        .crossJoin(F.broadcast(v))
        .select(F.col(id_col), lp.alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias("avg_logprob"),
    )
