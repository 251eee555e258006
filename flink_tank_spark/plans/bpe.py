"""BPE tokenizer-training queries over the documents corpus.

doc_bpe_merges learns the vocabulary (the top-8 pair merges, naive
trainer — kept as the didactic baseline); doc_bpe_merges256 learns 256
merges with the round-11 scale path (operators/bpe.train_merges_auto:
collect-and-train over the bounded word table, distributed
incremental-delta fallback); doc_bpe_tokens / doc_bpe_tokens256
re-tokenize the corpus with the respective vocabulary and report
per-language compression stats. All oracle-gated: the 8-merge mirror
re-derives the merges through an unrolled MATERIALIZED CTE chain (one
pairs→argmax→rewrite block per step — the k-means/PQ iterative-oracle
pattern); the 256-merge mirror uses ONE recursive CTE running the
incremental algorithm itself (kind-tagged working set: 'w' word rows,
'p' live pair counts, 'm' chosen merges; per iteration only the words
containing the merged pair are recounted), because the unrolled chain
at 256 steps exceeds DuckDB 1.0's max_expression_depth AND pays 256
full recounts (~35 s for 64 steps vs <1 s recursive at sf0.01).

Scale notes (see operators/bpe.py): training runs on the word-frequency
table — one corpus scan, then vocabulary-sized work; the tokenize
queries join per-(lang, word) counts against the learned vocab table —
an equi-join on word, never a corpus-sized regex re-pass per merge.
Measured trainer curve (BPE_SCALE_r11.json, 20k-word synthetic vocab,
256 merges): naive 192.9 s (superlinear — growing replace chain ×
full recounts), incremental 73.6 s (flat per-merge), local 2.9 s.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators import bpe
from flink_tank_spark.operators.skew import spread_partitions
from flink_tank_spark.plans import shared
from flink_tank_spark.plans.registry import QuerySpec

N_MERGES = 8
N_MERGES_BIG = 256  # the realistic-scale trainer (incremental deltas)

# learned merges are driver-side scalars; memoized per app/sf/n so
# doc_bpe_tokens reuses doc_bpe_merges' training pass within a session
_MERGES_CACHE: dict[tuple[str, str, int, bool], list[bpe.Merge]] = {}


def _seeded_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: global (word, cnt, syms) — the one corpus scan both
    BPE queries start from."""

    def build() -> DataFrame:
        docs = spread_partitions(load_table(spark, sf_dir, "documents"))
        return bpe.seed_symbols(bpe.word_counts(docs))

    return shared.stage(spark, "bpe_seeded_words", sf_dir, build)


def _trained_merges(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = N_MERGES,
    incremental: bool = False,
) -> list[bpe.Merge]:
    key = (spark.sparkContext.applicationId, sf_dir, n_merges, incremental)
    if key not in _MERGES_CACHE:
        # r14 optimization: BOTH paths train via train_merges_auto. The
        # naive train_merges ran one full pair-recount JOB PER MERGE
        # over a growing replace chain (8 merges → ~28 jobs; 164 s
        # first-touch in the r14 baseline bench under host contention);
        # auto collapses training to ONE bounded collect + driver-local
        # merge maintenance (falling back to the distributed
        # incremental loop past DRIVER_SYMBOL_LIMIT). All trainers are
        # bit-equal — same counts, same tie-break (tests/test_bpe.py) —
        # so the learned merges and every downstream query result are
        # unchanged; ``incremental`` stays in the cache key only to
        # keep the two query families' training passes distinct.
        _MERGES_CACHE[key] = bpe.train_merges_auto(
            _seeded_words(spark, sf_dir), n_merges
        )
    return _MERGES_CACHE[key]


# -- shared finalize functions (merges and tokenize queries) --------------

def lang_word_counts(docs: DataFrame) -> DataFrame:
    """One corpus scan → the per-(lang, word) count table — the
    mergeable state both tokenize queries share (global word counts are
    its lang-marginal)."""
    return (
        docs.select(
            "lang",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{bpe.WORD_REGEX}', 1)")
            ).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_stats_from_lang_counts(lw: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-language tokenization stats given the (lang, word, cnt)
    table and the (word, n_tok) learned vocabulary."""
    return (
        lw.join(vocab, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_tok")).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "avg_tokens_per_word",
            F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
        )
        .orderBy("lang")
    )


def merges_to_df(spark: SparkSession, merges: list[bpe.Merge]) -> DataFrame:
    """The learned merge list as the oracle-comparable DataFrame."""
    rows = [(m.step, m.left, m.right, m.merged, m.count) for m in merges]
    return spark.createDataFrame(
        rows,
        "step int, left_sym string, right_sym string, merged string, pair_count long",
    ).orderBy("step")


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned vocabulary: 8 BPE merges in training order."""
    return merges_to_df(spark, _trained_merges(spark, sf_dir))


def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenization stats under the learned vocabulary:
    word/token totals and the mean tokens-per-word compression ratio."""
    merges = _trained_merges(spark, sf_dir)
    vocab = bpe.apply_merges(_seeded_words(spark, sf_dir), merges).select(
        "word", bpe.token_count_col().alias("n_tok")
    )
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return token_stats_from_lang_counts(lang_word_counts(docs), vocab)


def doc_bpe_merges256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realistic-scale vocabulary: up to 256 BPE merges in training
    order (the small-SF corpus may exhaust its pair vocabulary earlier —
    both engines break identically), learned by the AUTO trainer
    (operators/bpe.py): collect-and-train over the bounded
    word-frequency table when it fits the driver (the public-tokenizer
    production shape — ONE Spark job), falling back to the distributed
    incremental-delta loop (driver-held pair counts updated by per-step
    affected-word delta jobs, lineage checkpointed) past
    DRIVER_SYMBOL_LIMIT. All trainers are bit-equal (tests/test_bpe.py);
    the oracle learns the same merges through a recursive incremental
    CTE rather than 256 unrolled full recounts."""
    return merges_to_df(
        spark,
        _trained_merges(spark, sf_dir, N_MERGES_BIG, incremental=True),
    )


def doc_bpe_tokens256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenization stats under the 256-merge vocabulary —
    the doc_bpe_tokens finalize re-run at the realistic training scale
    (apply_merges is one chained-replace projection: 256 codegen string
    replaces over the vocabulary-sized word table, no corpus re-pass)."""
    merges = _trained_merges(spark, sf_dir, N_MERGES_BIG, incremental=True)
    vocab = bpe.apply_merges(_seeded_words(spark, sf_dir), merges).select(
        "word", bpe.token_count_col().alias("n_tok")
    )
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return token_stats_from_lang_counts(lang_word_counts(docs), vocab)


def _bpe_train_recursive_sql(n_merges: int) -> str:
    """Oracle mirror of the INCREMENTAL training loop as one recursive
    CTE — the same algorithm train_merges_incremental runs: the working
    set carries kind-tagged rows ('w' = segmented words, 'p' = live pair
    counts, 'm' = the merge chosen that step); each iteration takes the
    argmax from the 'p' rows, rewrites only the words that CONTAIN the
    merged pair, and nets the pair-count delta from those affected words
    alone. An unrolled per-step chain at 256 steps both exceeds DuckDB
    1.0's max_expression_depth (1000) and pays 256 full pair recounts
    (~35 s for 64 steps at sf0.01); this runs in under a second."""
    return dedent(f"""\
        WITH RECURSIVE
        words_all AS MATERIALIZED (
          SELECT lang, unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS word
          FROM documents
        ),
        w0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
                 array_to_string(list_transform(range(1, len(word) + 1),
                                 i -> '{{' || substr(word, i, 1) || '}}'), '')
                   || '{{</w>}}' AS syms
          FROM words_all
          GROUP BY word
        ),
        p0 AS MATERIALIZED (
          SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_cnt FROM (
            SELECT cnt, list_extract(sl, i) AS l, list_extract(sl, i + 1) AS r
            FROM (SELECT cnt, regexp_extract_all(syms, '\\{{([^}}]*)\\}}', 1) AS sl
                  FROM w0),
                 unnest(range(1, len(sl))) AS t(i)
            WHERE len(sl) >= 2
          ) GROUP BY l, r
        ),
        st AS (
          SELECT 0 AS step, 'w' AS kind, word, cnt, syms,
                 CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r,
                 CAST(NULL AS BIGINT) AS pair_cnt
          FROM w0
          UNION ALL
          SELECT 0, 'p', NULL, NULL, NULL, l, r, pair_cnt FROM p0
          UNION ALL
          (
            WITH b AS (
              SELECT l, r, pair_cnt FROM st WHERE kind = 'p'
              ORDER BY pair_cnt DESC, l, r LIMIT 1
            ),
            aff AS (
              SELECT s.cnt, s.syms AS syms_old,
                     replace(s.syms, '{{' || b.l || '}}{{' || b.r || '}}',
                             '{{' || b.l || b.r || '}}') AS syms_new
              FROM st s, b
              WHERE s.kind = 'w'
                AND contains(s.syms, '{{' || b.l || '}}{{' || b.r || '}}')
            ),
            delta AS (
              SELECT l, r, CAST(SUM(c) AS BIGINT) AS d FROM (
                SELECT sgn * cnt AS c,
                       list_extract(sl, i) AS l, list_extract(sl, i + 1) AS r
                FROM (
                  SELECT cnt, 1 AS sgn,
                         regexp_extract_all(syms_new, '\\{{([^}}]*)\\}}', 1) AS sl
                  FROM aff
                  UNION ALL
                  SELECT cnt, -1,
                         regexp_extract_all(syms_old, '\\{{([^}}]*)\\}}', 1)
                  FROM aff
                ), unnest(range(1, len(sl))) AS t(i)
                WHERE len(sl) >= 2
              ) GROUP BY l, r
            )
            SELECT s.step + 1, 'w', s.word, s.cnt,
                   CASE WHEN b.l IS NULL THEN s.syms
                        ELSE replace(s.syms, '{{' || b.l || '}}{{' || b.r || '}}',
                                     '{{' || b.l || b.r || '}}') END,
                   NULL, NULL, NULL
            FROM st s LEFT JOIN b ON TRUE
            WHERE s.kind = 'w' AND s.step < {n_merges}
            UNION ALL
            SELECT s.step + 1, 'p', NULL, NULL, NULL, m.l, m.r, m.pc
            FROM (SELECT DISTINCT step FROM st WHERE step < {n_merges}) s,
                 (SELECT COALESCE(p.l, d.l) AS l, COALESCE(p.r, d.r) AS r,
                         CAST(COALESCE(p.pair_cnt, 0) + COALESCE(d.d, 0) AS BIGINT) AS pc
                  FROM (SELECT l, r, pair_cnt FROM st WHERE kind = 'p') p
                  FULL OUTER JOIN delta d ON p.l = d.l AND p.r = d.r) m
            WHERE m.pc != 0
            UNION ALL
            SELECT s.step + 1, 'm', NULL, NULL, NULL, b.l, b.r, b.pair_cnt
            FROM (SELECT DISTINCT step FROM st WHERE step < {n_merges}) s, b
          )
        )
        SELECT 1 AS _done
    """)


# the shared trainer CTE block: everything between WITH RECURSIVE and
# the final SELECT (strip the placeholder select on the last line)
def _bpe_recursive_ctes(n_merges: int) -> str:
    sql = _bpe_train_recursive_sql(n_merges)
    return sql[: sql.rindex("SELECT 1 AS _done")].rstrip().rstrip(",")


DOC_BPE_MERGES256_SQL = dedent(f"""
    {_bpe_recursive_ctes(N_MERGES_BIG)}
    SELECT CAST(step AS INTEGER) AS step, l AS left_sym, r AS right_sym,
           l || r AS merged, pair_cnt AS pair_count
    FROM st WHERE kind = 'm' ORDER BY step
""")

DOC_BPE_TOKENS256_SQL = dedent(f"""
    {_bpe_recursive_ctes(N_MERGES_BIG)},
    vocab256 AS MATERIALIZED (
      SELECT word,
             CAST(length(syms) - length(replace(syms, '{{', '')) AS BIGINT) AS n_tok
      FROM st WHERE kind = 'w' AND step = {N_MERGES_BIG}
    ),
    lw256 AS MATERIALIZED (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM words_all GROUP BY lang, word
    )
    SELECT l.lang,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
           CAST(SUM(l.cnt) AS BIGINT) AS n_words,
           CAST(SUM(l.cnt * v.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(l.cnt * v.n_tok) AS DOUBLE) / CAST(SUM(l.cnt) AS DOUBLE)
             AS avg_tokens_per_word
    FROM lw256 l JOIN vocab256 v USING (word)
    GROUP BY l.lang
    ORDER BY l.lang
""")


def _bpe_train_ctes(n_merges: int) -> str:
    """Oracle mirror of the training loop: per step k, pair counts over
    the current segmentation (s/p), the deterministic argmax (b), and
    the merge rewrite (w). MATERIALIZED throughout — each w references
    its predecessor, and DuckDB 1.0 inlines plain CTEs exponentially.
    The LEFT JOIN in w keeps the chain total even if a step finds no
    pair left to merge (mirrors train_merges' early break)."""
    parts = [dedent("""\
        words_all AS MATERIALIZED (
          SELECT lang, unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS word
          FROM documents
        ),
        words AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM words_all GROUP BY word
        ),
        w0 AS MATERIALIZED (
          SELECT word, cnt,
                 array_to_string(list_transform(range(1, len(word) + 1),
                                 i -> '{' || substr(word, i, 1) || '}'), '')
                   || '{</w>}' AS syms
          FROM words
        )""")]
    for k in range(1, n_merges + 1):
        parts.append(dedent(f"""\
            s{k} AS MATERIALIZED (
              SELECT cnt, regexp_extract_all(syms, '\\{{([^}}]*)\\}}', 1) AS sl FROM w{k - 1}
            ),
            p{k} AS MATERIALIZED (
              SELECT list_extract(sl, i) AS l, list_extract(sl, i + 1) AS r,
                     CAST(SUM(cnt) AS BIGINT) AS pair_cnt
              FROM (SELECT cnt, sl, unnest(range(1, len(sl))) AS i FROM s{k})
              GROUP BY 1, 2
            ),
            b{k} AS MATERIALIZED (
              SELECT l, r, pair_cnt FROM p{k} ORDER BY pair_cnt DESC, l, r LIMIT 1
            ),
            w{k} AS MATERIALIZED (
              SELECT w.word, w.cnt,
                     CASE WHEN b.l IS NULL THEN w.syms
                          ELSE replace(w.syms, '{{' || b.l || '}}{{' || b.r || '}}',
                                       '{{' || b.l || b.r || '}}')
                     END AS syms
              FROM w{k - 1} w LEFT JOIN b{k} b ON TRUE
            )"""))
    return ",\n    ".join(parts)


DOC_BPE_MERGES_SQL = dedent(f"""
    WITH {_bpe_train_ctes(N_MERGES)}
    SELECT * FROM (
      {" UNION ALL ".join(
          f"SELECT CAST({k} AS INTEGER) AS step, l AS left_sym, r AS right_sym,"
          f" l || r AS merged, pair_cnt AS pair_count FROM b{k}"
          for k in range(1, N_MERGES + 1)
      )}
    )
    ORDER BY step
""")

DOC_BPE_TOKENS_SQL = dedent(f"""
    WITH {_bpe_train_ctes(N_MERGES)},
    vocab AS MATERIALIZED (
      SELECT word,
             CAST(length(syms) - length(replace(syms, '{{', '')) AS BIGINT) AS n_tok
      FROM w{N_MERGES}
    ),
    lw AS MATERIALIZED (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM words_all GROUP BY lang, word
    )
    SELECT l.lang,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
           CAST(SUM(l.cnt) AS BIGINT) AS n_words,
           CAST(SUM(l.cnt * v.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(l.cnt * v.n_tok) AS DOUBLE) / CAST(SUM(l.cnt) AS DOUBLE)
             AS avg_tokens_per_word
    FROM lw l JOIN vocab v USING (word)
    GROUP BY l.lang
    ORDER BY l.lang
""")


QUERIES = [
    QuerySpec(
        "doc_bpe_merges",
        doc_bpe_merges,
        DOC_BPE_MERGES_SQL,
        "learn the top-8 BPE pair merges from the corpus word table",
        ("llm", "text", "tokenizer"),
    ),
    QuerySpec(
        "doc_bpe_merges256",
        doc_bpe_merges256,
        DOC_BPE_MERGES256_SQL,
        "learn 256 BPE merges with the incremental-delta trainer "
        "(driver pair counts + affected-word delta jobs + checkpointed "
        "lineage); oracle = recursive incremental CTE",
        ("llm", "text", "tokenizer"),
    ),
    QuerySpec(
        "doc_bpe_tokens256",
        doc_bpe_tokens256,
        DOC_BPE_TOKENS256_SQL,
        "per-lang token stats under the 256-merge vocabulary (one "
        "256-replace projection over the word table, no corpus re-pass)",
        ("llm", "text", "tokenizer"),
    ),
    QuerySpec(
        "doc_bpe_tokens",
        doc_bpe_tokens,
        DOC_BPE_TOKENS_SQL,
        "per-lang token stats under the learned BPE vocabulary",
        ("llm", "text", "tokenizer"),
        bench=True,
    ),
]
