"""Tokenizer vocabulary coverage — the OOV audit a tokenizer design
loop runs before committing to a vocab size.

Builds the top-V corpus vocabulary by token frequency (deterministic
tie-break on the token string) and reports, per source, how much of the
stream falls outside it: total tokens, OOV tokens, the corpus OOV rate,
and the worst single document's OOV rate. This is the measurement that
decides "is V big enough / which source needs a bigger vocab" — the
vocabulary-side complement to the BPE merge queries (plans/bpe.py).

Scale shape at 100 TB:
- one token explode (the shared word stage — no per-token text
  amplification), map-side-combinable frequency counts;
- the vocabulary is orderBy+limit → TakeOrderedAndProject (bounded V
  rows, never a global sort);
- membership is a BROADCAST left join against the ≤ V-row vocab —
  the corpus-side stream never shuffles for the lookup;
- all rates are exact integer ppm (numerator·10⁶ div denominator), so
  any partitioning and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators.skew import spread_partitions
from flink_tank_spark.plans import shared
from flink_tank_spark.plans.registry import QuerySpec

VOCAB_V = 256  # vocabulary size


def _doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, tok, c) — the per-doc token bag as a
    session-shared persisted stage: ONE corpus explode feeds both the
    vocabulary frequency branch and the membership/OOV branch
    (re-deriving each from the raw token stream would re-run the
    explode per branch), and the distinct-per-doc table it produces is
    strictly smaller than the token stream."""
    return shared.stage(
        spark,
        "vocab_doc_token_counts",
        sf_dir,
        lambda: doc_token_counts(
            spread_partitions(load_table(spark, sf_dir, "documents"))
        ),
    )


def top_vocab(doc_token_counts: DataFrame, v: int = VOCAB_V) -> DataFrame:
    """Top-v tokens by corpus frequency, ties broken by token string —
    a total order, so the vocabulary is deterministic. orderBy+limit
    lowers to TakeOrderedAndProject."""
    return (
        doc_token_counts.groupBy("tok")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(v)
        .select("tok")
    )


def doc_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, source, tok, c) token bag of a document set."""
    return (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def vocab_coverage_from_counts(dtc: DataFrame, v: int = VOCAB_V) -> DataFrame:
    """The per-source OOV audit from an already-built token-count table."""
    vocab = top_vocab(dtc, v).withColumn("_inv", F.lit(1))
    j = dtc.join(F.broadcast(vocab), "tok", "left")
    per_doc = j.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_tok"),
        F.sum(F.when(F.col("_inv").isNull(), F.col("c")).otherwise(0)).alias("n_oov"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_oov").cast("long").alias("n_oov"),
            F.expr("sum(n_oov) * 1000000 div sum(n_tok)")
            .cast("long")
            .alias("oov_ppm"),
            F.max(F.expr("n_oov * 1000000 div n_tok"))
            .cast("long")
            .alias("max_doc_oov_ppm"),
        )
        .orderBy("source")
    )


def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV audit against the top-256 corpus vocabulary."""
    return vocab_coverage_from_counts(_doc_token_counts(spark, sf_dir))


DOC_VOCAB_COVERAGE_SQL = dedent(f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
      ) ORDER BY cnt DESC, tok LIMIT {VOCAB_V}
    ),
    per_doc AS (
      SELECT t.doc_id, t.source,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
      GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_oov) AS BIGINT) AS n_oov,
           CAST(SUM(n_oov) * 1000000 // SUM(n_tok) AS BIGINT) AS oov_ppm,
           CAST(MAX(n_oov * 1000000 // n_tok) AS BIGINT) AS max_doc_oov_ppm
    FROM per_doc
    GROUP BY source
    ORDER BY source
""")


QUERIES = [
    QuerySpec(
        "doc_vocab_coverage",
        doc_vocab_coverage,
        DOC_VOCAB_COVERAGE_SQL,
        "per-source OOV audit vs the top-256 corpus vocabulary "
        "(broadcast vocab join, exact integer ppm rates)",
        ("llm", "text"),
    ),
]
