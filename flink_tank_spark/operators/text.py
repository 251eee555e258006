"""Text-analysis operators for large-scale training-data pipelines.

Extension surface (absent in the reference — SURVEY §2.12): language ID,
quality scoring, token counting, shingling, MinHash, SimHash, and
document fingerprints, all as pure DataFrame→DataFrame transforms built
on JVM-side built-ins (split/transform/aggregate/md5) — no Python UDFs
in any hot path, so whole-stage codegen applies and the operators run
identically on a 1000-executor cluster.

Hashing design: every hash is ``md5`` of a UTF-8 string, compared/min'd
LEXICOGRAPHICALLY as hex strings. md5 is identical across Spark, DuckDB,
and Python, which makes every operator here oracle-checkable — a
deliberate trade (md5 is ~2× slower than murmur3, but engine-portable
and collision-safe for dedup purposes). The i-th MinHash "permutation"
is the i-th 8-hex-char slice of ONE ``md5(shingle)`` digest (one hash
per shingle, 4 independent 32-bit lanes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword profiles for the n-gram/stopword language-ID heuristic.
# Tiny by design (the point is the operator shape, not lexicon quality).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "und", "die", "das", "ein"],
    "es": ["el", "los", "de", "la", "que"],
    "fr": ["le", "les", "des", "une", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3"],
}

# BPE-ish tokenizer regex: letter runs, digit runs, or single punctuation.
# Kept to a dialect-portable subset (works identically in Java regex and
# RE2/DuckDB) so token counts are oracle-checkable.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# PII patterns for scrubbing, restricted to a dialect-portable subset:
# character classes, bounded repetition, and \b word boundaries only —
# no lookarounds (RE2 lacks them), no unicode classes — so a Spark
# (Java regex) scrub and a DuckDB (RE2) oracle produce byte-identical
# redactions. Real deployments extend this table; each added pattern
# stays oracle-checkable iff it keeps to this subset.
PII_EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_REGEX = r"\b\d{3}-\d{4}\b"
PII_PATTERNS: list[tuple[str, str]] = [
    (PII_EMAIL_REGEX, "<EMAIL>"),
    (PII_PHONE_REGEX, "<PHONE>"),
]


# Deterministic train/val/test split thresholds: first md5 hex byte of
# the doc id, compared lexicographically — 'cc' = 204/256 ≈ 79.7% train,
# 'e6' adds 26/256 ≈ 10.2% val, remainder test. Content-derived, so a
# doc's split NEVER changes as the corpus grows — streaming ingest can
# assign at arrival with no global state.
SPLIT_TRAIN_HI, SPLIT_VAL_HI = "cc", "e6"


def split_col(doc_id: Column) -> Column:
    """Deterministic train/val/test assignment from the doc id alone."""
    bucket = F.substring(F.md5(doc_id.cast("string").cast("binary")), 1, 2)
    return (
        F.when(bucket < SPLIT_TRAIN_HI, F.lit("train"))
        .when(bucket < SPLIT_VAL_HI, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-row match counts for each PII pattern (audit columns),
    STAGED exactly like the scrub: pattern *i* is counted on the text
    with patterns 0..i-1 already replaced, so a phone-shaped substring
    consumed by the email redaction (e.g. ``555-1234@x.com``) is not
    double-counted — the summed counts equal the number of replacements
    :func:`pii_scrub` actually performs."""
    names = ["n_emails", "n_phones"]
    out: dict[str, Column] = {}
    cur = text
    for name, (pattern, token) in zip(names, PII_PATTERNS):
        out[name] = F.size(
            F.regexp_extract_all(cur, F.lit(pattern), F.lit(0))
        )
        cur = F.regexp_replace(cur, pattern, token)
    return out


def pii_scrub(text: Column) -> Column:
    """Redact every PII pattern, emails before phones (a replacement
    token must never create a new match for a later pattern — the
    tokens are letter-only, so ordering is safe by construction).
    Pure nested ``regexp_replace``: JVM-side, codegen-friendly,
    no Python in the path."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def words(text: Column) -> Column:
    return F.split(text, " ")


def shingles_from_words(w: Column, text: Column, k: int = 3) -> Column:
    """Word k-grams from a MATERIALIZED words-array column.

    ``w`` must be a real column (e.g. ``withColumn("_w", split(text))``),
    not an inline ``split(...)`` expression: higher-order lambdas are
    interpreted, and an inline split would be re-evaluated per
    ``element_at`` — O(words²·k) per document (profiled as a hang on
    5k docs). A bound column reference evaluates once per row.
    A doc with <k words yields [full text].
    """
    n = F.size(w)
    grams = F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + F.lit(j + 1)) for j in range(k)]),
    )
    return F.when(n >= k, grams).otherwise(F.array(text))


def char_ngrams(text: Column, k: int = 8) -> Column:
    """Character k-grams; a doc with <k chars yields [full text]."""
    n = F.length(text)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.substring(text, i, F.lit(k)),
    )
    return F.when(n >= k, grams).otherwise(F.array(text))


def lsh_band_buckets(mh_cols: list[Column], rows_per_band: int = 2) -> list[Column]:
    """Group MinHashes into bands; bucket id = md5 of the concatenated
    band. Docs sharing any band bucket are near-dup candidates."""
    bands = []
    for b in range(0, len(mh_cols), rows_per_band):
        band = mh_cols[b : b + rows_per_band]
        bands.append(
            F.md5(F.concat_ws("|", *band).cast("binary")).alias(f"band_{b // rows_per_band}")
        )
    return bands


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-hit count per language over a padded lowercase text."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out = {}
    for lang, stopwords in LANG_PROFILES.items():
        score = None
        for wd in stopwords:
            hit = (
                F.length(padded)
                - F.length(F.replace(padded, F.lit(f" {wd} "), F.lit("")))
            ) / F.lit(len(wd) + 2)
            score = hit if score is None else score + hit
        out[lang] = score.cast("long")
    return out


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; ties break on language code."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_PROFILES)
        ]
    )
    # Deterministic argmax: sort by (-score, lang), take the first —
    # ties break on the alphabetically first language code.
    ranked = F.array_sort(
        F.transform(
            pairs,
            lambda p: F.struct((-p["score"]).alias("neg"), p["lang"].alias("lang")),
        )
    )
    return F.element_at(ranked, 1)["lang"]


def token_stats(text: Column) -> dict[str, Column]:
    return {
        "n_chars": F.length(text).cast("long"),
        "n_ws_tokens": F.size(words(text)).cast("long"),
        "n_bpe_tokens": F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).cast("long"),
    }


def quality_score(text: Column) -> Column:
    """Composite quality heuristic (deterministic integer-ratio math):
    alpha ratio, whitespace sanity, mean word length band, stopword hits.
    """
    n = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    n_space = F.length(F.regexp_replace(text, r"[^ ]", "")).cast("double")
    n_words = F.size(words(text)).cast("double")
    mean_wlen = (n - n_space) / n_words
    en_hits = lang_scores(text)["en"].cast("double")
    alpha_ratio = n_alpha / n
    space_ratio = n_space / n
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(en_hits / n_words > 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.2) * (F.lit(1.0) - F.abs(space_ratio - F.lit(1.0 / 6.0)))
        + F.lit(0.2) * wlen_ok
        + F.lit(0.2) * stop_ok
    )


def repetition_stats(w: Column, text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 use
    duplicate-line/ngram fractions as quality filters): fraction of
    duplicate words / 2-grams / 3-grams per document.

    ``w`` must be a MATERIALIZED words-array column (same contract as
    shingles_from_words). Pure per-row array math — zero shuffle, the
    whole filter is a map over the corpus scan. A doc with fewer words
    than the gram size scores 0.0 by construction ([text] fallback).
    """

    def dup_frac(arr: Column) -> Column:
        return F.lit(1.0) - (
            F.size(F.array_distinct(arr)).cast("double")
            / F.size(arr).cast("double")
        )

    return {
        "dup_word_frac": dup_frac(w),
        "dup_2gram_frac": dup_frac(shingles_from_words(w, text, 2)),
        "dup_3gram_frac": dup_frac(shingles_from_words(w, text, 3)),
    }


def fingerprint(text: Column, k: int = 8) -> Column:
    """Winnowing-style document fingerprint: min md5 over char k-grams.
    Equal fingerprints ⇒ shared rare substring — cheap near-dup signal."""
    return F.array_min(F.transform(char_ngrams(text, k), lambda g: F.md5(g.cast("binary"))))


def fingerprint_docs(
    df, id_col: str = "doc_id", text_col: str = "text", k: int = 8
):
    """DataFrame-level ``fingerprint``: identical result, distributed
    shape. The Column form evaluates an interpreted (non-codegen)
    ``transform(..., md5)`` per row — ~300 md5 calls per doc on ONE
    task when the corpus arrives as a single parquet split. This form
    spreads the input, explodes the gram offsets, computes md5 as a
    codegen'd top-level expression, and takes the per-doc min through a
    map-side-combinable aggregate (the shuffle carries one row per doc
    per partition). Measured 24 s -> 3 s on a 50 k-doc single-file
    corpus (PLANS.md round-4).
    """
    from pyspark.sql import functions as F  # noqa: redefined for clarity

    from flink_tank_spark.operators.skew import spread_partitions

    n = F.length(text_col)
    offs = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array(F.lit(0))
    )
    ex = spread_partitions(df).select(
        F.col(id_col), F.col(text_col), F.explode(offs).alias("_i")
    )
    gram = F.when(F.col("_i") == 0, F.col(text_col)).otherwise(
        F.substring(F.col(text_col), F.col("_i"), k)
    )
    return ex.select(
        F.col(id_col), F.md5(gram.cast("binary")).alias("_h")
    ).groupBy(id_col).agg(F.min("_h").alias("fingerprint"))
