"""Deterministic weighted corpus sampling — the ticket-ballot bottom-k.

A training-data pipeline rarely trains on the whole corpus: it draws a
weighted sample (longer / higher-quality documents proportionally more
often). The standard streaming-friendly construction is bottom-k
priority sampling (Efraimidis–Spirakis A-ES: priority u^(1/w), keep the
k best). A-ES needs ln/pow floats, which are NOT bit-identical across
engines (libm vs JVM), so this module uses the exact-integer
ticket-ballot variant:

- every document casts ``w`` ballots (w = its token count, capped),
  ticket t's priority = md5("<doc_id>:<t>") — a content-addressed,
  uniformly-distributed hex string (the same public md5 convention the
  MinHash permutations and SRP hyperplanes use);
- the sample is the set of documents holding any of the k globally
  smallest priorities.

Inclusion probability rises with weight (≈ 1 − (1 − p)^w for the
per-ticket win rate p = k/Σw), doubling a document's weight ≈ doubles
its chance at small p — the PPS behaviour a data-mixing pipeline wants,
with every comparison an exact string compare: any partitioning, any
engine, the same sample.

Scale shape at 100 TB:
- the ticket explode is bounded by TICKET_CAP per document (no
  quadratic blowup, no full-text amplification — tickets carry only
  (doc_id, t));
- the global bottom-k is orderBy+limit → TakeOrderedAndProject: each
  task keeps its local k, the driver merges P·k rows — never a global
  sort, never a single-reducer window;
- the winning-ticket table is ≤ k rows — broadcastable state, and
  bottom-k is a KMV-style mergeable sketch
  (bottom_k(A ∪ B) = bottom_k(bottom_k(A) ∪ bottom_k(B))).
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators.skew import spread_partitions
from flink_tank_spark.plans import shared
from flink_tank_spark.plans.registry import QuerySpec

SAMPLE_K = 50      # winning tickets per draw
TICKET_CAP = 32    # max ballots per document (bounds the explode)


def weighted_sample(docs: DataFrame, k: int = SAMPLE_K) -> DataFrame:
    """The sampled documents: distinct holders of winning tickets, with
    their weight, number of winning tickets, and best (smallest)
    priority.

    - weight w = whitespace token count capped at TICKET_CAP, kept
      minimal so the ticket stage never carries text;
    - each doc explodes into its w tickets with md5 priorities: bounded
      fanout (≤ TICKET_CAP), codegen md5, no Python;
    - the k globally smallest priorities win, ties broken by doc_id, t
      (md5 collisions are astronomically unlikely but the order must be
      total for determinism). orderBy+limit lowers to
      TakeOrderedAndProject: per-partition local k, driver merge."""
    wins = (
        docs.select(
            "doc_id",
            F.least(
                F.size(F.split(F.col("text"), " ")), F.lit(TICKET_CAP)
            ).cast("long").alias("w"),
        )
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), F.col("w") - 1)).alias("t"),
        )
        .withColumn(
            "pr",
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("t")).cast("binary")),
        )
        .orderBy("pr", "doc_id", "t")
        .limit(k)
    )
    return (
        wins.groupBy("doc_id", "w")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.min("pr").alias("best_pr"),
        )
        .select("doc_id", "w", F.col("n_win").cast("long").alias("n_win"), "best_pr")
    )


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ticket-ballot weighted sample of the documents table: 50 winning
    tickets, weight = capped token count. Deterministic under any
    partitioning (exact md5-string priorities, total tie order)."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return weighted_sample(docs).orderBy("doc_id")


DOC_WEIGHTED_SAMPLE_SQL = dedent(f"""
    WITH w AS (
      SELECT doc_id,
             LEAST(len(string_split(text, ' ')), {TICKET_CAP}) AS w
      FROM documents
    ),
    tickets AS (
      SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(t.t AS BIGINT) AS t,
             md5(doc_id || ':' || t.t) AS pr
      FROM w CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS t) t
    ),
    wins AS (
      SELECT doc_id, w, t, pr
      FROM tickets
      ORDER BY pr, doc_id, t
      LIMIT {SAMPLE_K}
    )
    SELECT doc_id, w,
           CAST(COUNT(*) AS BIGINT) AS n_win,
           MIN(pr) AS best_pr
    FROM wins
    GROUP BY doc_id, w
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_chunk_windows — overlapping token-window chunking (stride < window)
# --------------------------------------------------------------------------

CHUNK_W = 64   # window size, tokens
CHUNK_S = 48   # stride (overlap = W - S = 16)


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-context chunking — the training-example constructor that
    cuts each document into overlapping token windows (size 64, stride
    48), the standard long-document treatment where a hard split would
    orphan context at every boundary. Complements doc_pack_chunks
    (plans/llm.py), which solves the opposite problem (packing SHORT
    docs up to a budget).

    Per source: documents, windows produced, window-token volume, and
    the exact duplication overhead (window tokens − corpus tokens — the
    storage/compute price of the overlap, the number a pipeline owner
    budgets against). Scale shape: one bounded explode per doc
    (⌈n/S⌉ window STARTS — never materializes window text), exact
    integer arithmetic throughout."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    n_tok = F.size(F.split(F.col("text"), " "))
    starts = docs.select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("n_tok"),
        F.explode(
            F.sequence(F.lit(0), n_tok - 1, F.lit(CHUNK_S))
        ).alias("start"),
    ).withColumn(
        "chunk_len",
        F.least(F.lit(CHUNK_W), F.col("n_tok") - F.col("start")).cast("long"),
    )
    per_doc = starts.groupBy("doc_id", "source", "n_tok").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("chunk_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("chunk_tokens").cast("long").alias("chunk_tokens"),
            F.sum("n_tok").cast("long").alias("corpus_tokens"),
            (F.sum("chunk_tokens") - F.sum("n_tok"))
            .cast("long")
            .alias("overlap_tokens"),
        )
        .orderBy("source")
    )


DOC_CHUNK_WINDOWS_SQL = dedent(f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    starts AS (
      SELECT doc_id, source, n_tok, CAST(t.s AS BIGINT) AS start,
             LEAST({CHUNK_W}, n_tok - t.s) AS chunk_len
      FROM d CROSS JOIN LATERAL
        (SELECT unnest(range(0, n_tok, {CHUNK_S})) AS s) t
    ),
    per_doc AS (
      SELECT doc_id, source, n_tok,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(chunk_len) AS BIGINT) AS chunk_tokens
      FROM starts
      GROUP BY doc_id, source, n_tok
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(chunk_tokens) AS BIGINT) AS chunk_tokens,
           CAST(SUM(n_tok) AS BIGINT) AS corpus_tokens,
           CAST(SUM(chunk_tokens) - SUM(n_tok) AS BIGINT) AS overlap_tokens
    FROM per_doc
    GROUP BY source
    ORDER BY source
""")


# --------------------------------------------------------------------------
# doc_dsir_weights — hashed-n-gram importance weights (DSIR-style)
# --------------------------------------------------------------------------

DSIR_BUCKETS = 256  # 2 hex chars of the bigram md5
DSIR_TARGET_LANG = "en"


def dsir_bucket_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bkt, c) hashed-bigram counts of a document set."""
    ws = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(ws) >= 2, F.sequence(F.lit(1), F.size(ws) - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = docs.select(
        "doc_id", "lang", ws.alias("_ws"), F.explode(idx).alias("_i")
    ).select(
        "doc_id",
        "lang",
        F.substring(
            F.md5(
                F.concat_ws(
                    " ",
                    F.element_at("_ws", F.col("_i")),
                    F.element_at("_ws", F.col("_i") + 1),
                ).cast("binary")
            ),
            1,
            2,
        ).alias("bkt"),
    )
    return bg.groupBy("doc_id", "lang", "bkt").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("c")
    )


def _dsir_doc_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, lang, bucket) bigram counts as a session-shared
    persisted stage: one corpus explode, referenced by three branches."""
    return shared.stage(
        spark,
        "dsir_doc_bucket_counts",
        sf_dir,
        lambda: dsir_bucket_counts(
            spread_partitions(load_table(spark, sf_dir, "documents"))
        ),
    )


def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023 — the public DSIR construction), exact-integer form: score
    every document by how much its hashed-bigram distribution looks
    like the TARGET distribution (here lang='en') relative to the raw
    corpus. DSIR proper uses log-likelihood ratios; ln() is
    libm-divergent across engines (the doc_bigram_fluency lesson), so
    the score is the mean per-bigram importance RATIO in exact ppm
    fixed point — add-1 smoothed,

        w_b = (n_target_b + 1)(N_raw + B) · 10⁶
              div (n_raw_b + 1)(N_target + B)

    — rank-equivalent for selection and bit-identical under any
    partitioning. Reported per language: the mean/max/min document
    score, so the target language's self-similarity (highest mean)
    is visible in the output.

    Scale shape: ONE bigram explode feeds a persisted (doc, bucket)
    count stage and every branch — the raw distribution, the target
    distribution, the per-doc rescore — derives from that bounded
    table (≤ docs×256 rows; re-deriving each branch from the raw
    bigram stream would re-run the corpus explode three times, the
    multi-branch-DAG lesson); bucket = 2 hex chars of the bigram md5
    (B=256 — the bucketed feature space is what makes DSIR
    corpus-size-free); the weight table is ≤ B rows (broadcast).
    Single-token documents carry no bigram evidence and are excluded
    (both engines). Precision: products ≤ (counts+B)² · 10⁶ stay in
    DECIMAL(38,0)/HUGEINT for corpora to ~10¹⁵ bigrams."""
    return (
        dsir_doc_scores(_dsir_doc_bucket_counts(spark, sf_dir))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(score_ppm) div count(1)").cast("long").alias("avg_score_ppm"),
            F.max("score_ppm").alias("max_score_ppm"),
            F.min("score_ppm").alias("min_score_ppm"),
        )
        .orderBy("lang")
    )


DSIR_TOPK = 20  # the selection cut doc_dsir_topk ships


def doc_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR SELECTION step itself: the top-k documents by
    importance score — what a data-mixture build actually consumes
    (doc_dsir_weights reports the per-language summary; this ships the
    chosen docs). orderBy+limit lowers to TakeOrderedAndProject:
    per-partition local k over the bounded per-doc score table, driver
    merge — no global sort at any corpus size. Ties broken by doc_id
    (total order, partition-invariant)."""
    return (
        dsir_doc_scores(_dsir_doc_bucket_counts(spark, sf_dir))
        .orderBy(F.col("score_ppm").desc(), "doc_id")
        .limit(DSIR_TOPK)
    )


def dsir_doc_scores(dbc: DataFrame) -> DataFrame:
    """Per-document DSIR importance scores (doc_id, lang, score_ppm)
    from an already-built (doc_id, lang, bkt, c) table — the shared
    core of :func:`doc_dsir_weights` and the curation job's
    optional scoring stage (jobs/curation_job.py). Single-token docs
    carry no bigram evidence and are absent."""
    raw_b = dbc.groupBy("bkt").agg(
        F.sum("c").cast("decimal(20,0)").alias("n_r")
    )
    tgt_b = (
        dbc.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bkt")
        .agg(F.sum("c").cast("decimal(20,0)").alias("n_t"))
    )
    totals = raw_b.agg(
        F.sum("n_r").cast("decimal(20,0)").alias("nr_tot")
    ).crossJoin(
        tgt_b.agg(F.sum("n_t").cast("decimal(20,0)").alias("nt_tot"))
    )
    w = (
        raw_b.join(tgt_b, "bkt", "left")
        .na.fill({"n_t": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "bkt",
            F.expr(
                f"((n_t + 1) * (nr_tot + {DSIR_BUCKETS}) * 1000000)"
                f" div ((n_r + 1) * (nt_tot + {DSIR_BUCKETS}))"
            ).alias("w_ppm"),
        )
    )
    return (
        dbc.join(F.broadcast(w), "bkt")
        .groupBy("doc_id", "lang")
        .agg(
            F.expr("sum(c * w_ppm) div sum(c)").cast("long").alias("score_ppm")
        )
    )


# the shared trainer CTE chain: bigram buckets -> distributions ->
# weight table -> per-doc scores (both DSIR queries finalize from
# per_doc)
_DSIR_PER_DOC_CTES = dedent(f"""\
    WITH bg AS MATERIALIZED (
      SELECT doc_id, lang,
             substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 2) AS bkt
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
      CROSS JOIN LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
    ),
    raw_b AS (
      SELECT bkt, CAST(COUNT(*) AS HUGEINT) AS n_r FROM bg GROUP BY bkt
    ),
    tgt_b AS (
      SELECT bkt, CAST(COUNT(*) AS HUGEINT) AS n_t
      FROM bg WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bkt
    ),
    totals AS (
      SELECT (SELECT SUM(n_r) FROM raw_b) AS nr_tot,
             (SELECT SUM(n_t) FROM tgt_b) AS nt_tot
    ),
    w AS (
      SELECT r.bkt,
             ((COALESCE(t.n_t, 0) + 1) * (tt.nr_tot + {DSIR_BUCKETS}) * 1000000)
             // ((r.n_r + 1) * (tt.nt_tot + {DSIR_BUCKETS})) AS w_ppm
      FROM raw_b r LEFT JOIN tgt_b t ON t.bkt = r.bkt CROSS JOIN totals tt
    ),
    per_doc AS (
      SELECT d.doc_id, d.lang,
             CAST(SUM(d.c * w.w_ppm) // SUM(d.c) AS BIGINT) AS score_ppm
      FROM (SELECT doc_id, lang, bkt, CAST(COUNT(*) AS HUGEINT) AS c
            FROM bg GROUP BY 1, 2, 3) d
      JOIN w ON w.bkt = d.bkt
      GROUP BY d.doc_id, d.lang
    )""")

DOC_DSIR_WEIGHTS_SQL = dedent(f"""
    {_DSIR_PER_DOC_CTES}
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS avg_score_ppm,
           CAST(MAX(score_ppm) AS BIGINT) AS max_score_ppm,
           CAST(MIN(score_ppm) AS BIGINT) AS min_score_ppm
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
""")

DOC_DSIR_TOPK_SQL = dedent(f"""
    {_DSIR_PER_DOC_CTES}
    SELECT doc_id, lang, score_ppm
    FROM per_doc
    ORDER BY score_ppm DESC, doc_id
    LIMIT {DSIR_TOPK}
""")


QUERIES = [
    QuerySpec(
        "doc_weighted_sample",
        doc_weighted_sample,
        DOC_WEIGHTED_SAMPLE_SQL,
        "ticket-ballot weighted bottom-k corpus sample (exact md5 "
        "priorities, PPS-style inclusion, TakeOrderedAndProject)",
        ("llm", "curation"),
    ),
    QuerySpec(
        "doc_chunk_windows",
        doc_chunk_windows,
        DOC_CHUNK_WINDOWS_SQL,
        "overlapping token-window chunking (64/48 stride) with exact "
        "overlap-overhead accounting per source",
        ("llm", "curation"),
    ),
    QuerySpec(
        "doc_dsir_weights",
        doc_dsir_weights,
        DOC_DSIR_WEIGHTS_SQL,
        "DSIR-style hashed-bigram importance weights vs the 'en' target "
        "(exact ppm ratios, 256-bucket broadcast weight table)",
        ("llm", "curation"),
    ),
    QuerySpec(
        "doc_dsir_topk",
        doc_dsir_topk,
        DOC_DSIR_TOPK_SQL,
        "the DSIR selection cut: top-20 documents by importance score "
        "(TakeOrderedAndProject over the per-doc score table)",
        ("llm", "curation"),
    ),
]
