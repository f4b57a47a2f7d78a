"""Text-analysis operators over ``documents`` (task brief: language-ID,
quality scoring, token counting, fingerprinting).

Everything is JVM-side column expressions — tokenize/regex/aggregate inside
whole-stage codegen; no Python UDFs. Formulas are deliberately simple and
exactly mirrored by the DuckDB oracle SQL in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from azure_workflow_for_kml_satellite_spark.operators.dedup import tokens_expr

# Tiny stopword lists per language for the n-gram-heuristic language id.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}

_EN_STOPWORDS = [
    "the", "and", "of", "to", "in", "a", "is", "it", "for", "on", "with", "as",
]


def token_stats(documents: DataFrame) -> DataFrame:
    """Token count (whitespace) + BPE-ish subword estimate: words plus one
    extra unit per 6 chars of long words (a deterministic proxy for BPE
    splits — len(word)>6 words count ceil(len/6) units)."""
    toks = tokens_expr()
    bpe_units = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.when(F.length(w) <= 6, F.lit(1)).otherwise(F.ceil(F.length(w) / 6.0)).cast("long"),
    )
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        bpe_units.alias("n_bpe_units"),
        F.length("text").alias("n_chars_measured"),
    )


def punct_ratio_expr():
    """Share of the ``text`` characters that are neither word characters nor
    whitespace (the length floored at 1, so an empty text scores 0)."""
    punct = F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    return punct / F.greatest(F.length("text"), F.lit(1))


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristics; score in
    [0,1] = mean of three clamped components."""
    toks = tokens_expr()
    n_tokens = F.size(toks)
    mean_word_len = F.length(F.regexp_replace(F.lower(F.trim("text")), r"\s+", "")) / n_tokens
    stop_hits = F.size(
        F.filter(toks, lambda w: w.isin(_EN_STOPWORDS))
    )
    stop_ratio = stop_hits / n_tokens
    punct_ratio = punct_ratio_expr()
    len_component = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    stop_component = F.least(stop_ratio * 5.0, F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round((len_component + stop_component + punct_component) / 3.0, 4).alias(
            "quality_score"
        ),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-word-count language heuristic: argmax over per-language marker
    hits, 'und' (undetermined) when no marker hits; ties broken by language
    code order (deterministic)."""
    toks = tokens_expr()
    scores = [
        F.size(F.filter(toks, lambda w: w.isin(markers))).alias(f"score_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    ]
    df = documents.select("doc_id", "lang", *scores)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit("und")
    # reverse order so earlier languages win ties
    for lg in reversed(langs):
        pred = F.when(
            (F.col(f"score_{lg}") == best) & (best > 0), F.lit(lg)
        ).otherwise(pred)
    return df.select(
        "doc_id", F.col("lang").alias("declared_lang"), pred.alias("predicted_lang")
    )


def fingerprint(documents: DataFrame, window: int = 4) -> DataFrame:
    """Rolling-hash document fingerprint: min over xxhash64 of each
    ``window``-token slice (winnowing-style min sample) + full-text hash."""
    toks = tokens_expr()
    rolling = F.when(
        F.size(toks) >= window,
        F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - window),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, window))),
            )
        ),
    ).otherwise(F.xxhash64(F.concat_ws(" ", toks)))
    return documents.select(
        "doc_id",
        F.xxhash64("text").alias("text_hash"),
        rolling.alias("min_window_hash"),
    )


def source_stats(documents: DataFrame, source_col: str = "source") -> DataFrame:
    """Per-source (host-analog) corpus rollup — the Common-Crawl-style
    "stats by domain" pass: doc counts, size totals, language spread and
    exact-duplicate rate per source.

    Scale shape: one hash aggregation on the source key, every measure
    map-side combinable (count/sum) or a distinct-aggregate Spark rewrites
    to a two-stage expand+agg; no Python, no second shuffle."""
    chars = F.length("text")
    return (
        documents.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(chars).cast("long").alias("total_chars"),
            F.round(F.avg(chars), 2).alias("mean_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.countDistinct("text").cast("long").alias("n_unique_texts"),
        )
        .withColumn(
            "dup_rate",
            F.round(1.0 - F.col("n_unique_texts") / F.col("n_docs"), 4),
        )
    )
