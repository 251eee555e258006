"""LLM training-data pipeline queries: dedup, similarity, text, multimodal.

Extension surface (BASELINE.json north star; absent in the reference —
SURVEY §2.12). Every entry is a pure-built-in Spark plan from
operators/{text,dedup,similarity,multimodal}.py with a DuckDB oracle, so
the driver's hash gate covers the whole layer — including the multimodal
decode, whose fake-container header is arithmetically derivable.

Oracle portability rests on two deliberate choices (operators/text.py):
md5-as-hex-string hashing (identical in Spark/DuckDB/Python) and
fixed-point dot products (pure IEEE ops, identical in both engines).
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_tank_spark.functions.numeric import sql_davg
from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators import dedup, multimodal, similarity, text
from flink_tank_spark.operators.skew import spread_partitions
from flink_tank_spark.plans import shared
from flink_tank_spark.plans.registry import QuerySpec

# Shared oracle CTE: distinct word-3-shingle sets per doc (mirrors
# operators/text.word_shingles + array_distinct).
SHINGLES_CTE = dedent("""
    shingled AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= 3
                    THEN list_transform(
                           range(1, len(string_split(text, ' ')) - 1),
                           i -> string_split(text, ' ')[i] || ' ' ||
                                string_split(text, ' ')[i+1] || ' ' ||
                                string_split(text, ' ')[i+2])
                    ELSE [text] END) AS shingles
      FROM documents
    )
""").strip()


# --------------------------------------------------------------------------
# doc_dedup_stats — exact dedup by content hash, per source
# --------------------------------------------------------------------------

def doc_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_stats(docs, group_cols=("source",)).orderBy("source")


DOC_DEDUP_STATS_SQL = dedent("""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_redundant
    FROM documents
    GROUP BY source
    ORDER BY source
""")


# --------------------------------------------------------------------------
# doc_minhash — MinHash signatures (4 md5 permutations over 3-shingles)
# --------------------------------------------------------------------------

def doc_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lanes 0-3 of the shared 8-lane signature stage are byte-identical
    # to the 4-perm signature (same digest, same slices), so reading the
    # persisted stage spends zero extra hashing in any session that also
    # runs the LSH pipeline (the gate always does).
    return _minhash_sigs8(spark, sf_dir).select(
        "doc_id", "mh_0", "mh_1", "mh_2", "mh_3"
    ).orderBy("doc_id")


# One md5 per shingle, sliced into four 8-hex-char lanes (operators/text
# .minhash_from_hashes) — 4× less hashing than per-permutation digests.
MINHASH_SQL_COLS = ",\n           ".join(
    f"list_min(list_transform(shingles, s -> substr(md5(s), {8 * p + 1}, 8))) AS mh_{p}"
    for p in range(4)
)

# Permutations 4–7: a second SALTED digest (md5 of '~' + shingle) sliced
# the same way — mirrors dedup.minhash_from_shingled(n_perms=8), the
# 4-band LSH config the near-dup pipeline runs on since round 7.
MINHASH8_EXTRA_SQL_COLS = ",\n           ".join(
    f"list_min(list_transform(shingles, s -> substr(md5('~' || s), {8 * p + 1}, 8))) AS mh_{p + 4}"
    for p in range(4)
)

DOC_MINHASH_SQL = dedent(f"""
    WITH {SHINGLES_CTE}
    SELECT doc_id,
           {MINHASH_SQL_COLS}
    FROM shingled
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_lsh_near_dups — MinHash-LSH blocking + exact Jaccard rescoring
# --------------------------------------------------------------------------

def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: distinct word-3-shingle sets per doc. Shingling is
    the md5-heavy prefix of FIVE registry queries (minhash, LSH pairs,
    dedup groups, keep-one corpus, Jaccard top-k) — shingle once per
    session, persist once (plans/shared.py owns the lifecycle; the
    round-2 in-builder .persist() leaked on re-invocation)."""
    return shared.stage(
        spark,
        "doc_shingles",
        sf_dir,
        # spread_partitions: the corpus can arrive as one parquet split
        # (byte-small, CPU-dense) — spread BEFORE the md5-heavy shingle
        # pass so the persisted stage is parallel for all five consumers.
        lambda: dedup.shingle_sets(
            spread_partitions(load_table(spark, sf_dir, "documents"))
        ),
    )


def _minhash_sigs8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: the 8-lane MinHash signature table (doc_id,
    mh_0..mh_7) over the persisted shingle stage. Persisted separately
    because the LSH candidate join references the signature subtree
    THREE times (bucket-size cap + both self-join sides) — unpersisted,
    the md5 pass over every shingle ran 3× per pairs build (r14 profile:
    the three documents-scan stages carried ~90 % of doc_triangles' cold
    task-time). One row per doc — strictly smaller than the shingle
    stage it derives from."""
    return shared.stage(
        spark,
        "doc_minhash_sigs8",
        sf_dir,
        lambda: dedup.minhash_from_shingled(
            _shingled_docs(spark, sf_dir), n_perms=8
        ),
    )


def _lsh_verified_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, max_bucket_size: int = 64
) -> DataFrame:
    """Shared stage: LSH-blocked, exact-Jaccard-verified near-dup pairs —
    the common prefix of doc_lsh_near_dups / doc_dedup_groups /
    doc_dedup_corpus (pair detection runs once per session, the three
    queries differ only in what they derive from the pairs)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return dedup.lsh_near_dup_pairs(
            docs,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            shingled=_shingled_docs(spark, sf_dir),
            sigs=_minhash_sigs8(spark, sf_dir),
        )

    return shared.stage(
        spark, "doc_lsh_pairs", (sf_dir, threshold, max_bucket_size), build
    )


def doc_lsh_near_dups(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, max_bucket_size: int = 64
) -> DataFrame:
    verified = _lsh_verified_pairs(spark, sf_dir, threshold, max_bucket_size)
    return verified.select("id_a", "id_b", "n_common", "jaccard").orderBy("id_a", "id_b")


# Shared CTE block: LSH-blocked candidate pairs with exact-Jaccard
# rescoring columns (used by doc_lsh_near_dups and doc_dedup_groups).
LSH_PAIRS_CTES = dedent(f"""\
    {SHINGLES_CTE},
    sigs AS (
      SELECT doc_id, shingles,
             {MINHASH_SQL_COLS},
           {MINHASH8_EXTRA_SQL_COLS}
      FROM shingled
    ),
    buckets AS (
      SELECT doc_id, shingles,
             unnest(['0:' || md5(mh_0 || '|' || mh_1),
                     '1:' || md5(mh_2 || '|' || mh_3),
                     '2:' || md5(mh_4 || '|' || mh_5),
                     '3:' || md5(mh_6 || '|' || mh_7)]) AS bucket
      FROM sigs
    ),
    -- bucket-size cap (degenerate-bucket guardrail; mirrors
    -- operators/dedup.lsh_candidate_pairs max_bucket_size)
    ok_buckets AS (
      SELECT bucket FROM buckets GROUP BY bucket HAVING COUNT(*) <= 64
    ),
    capped AS (
      SELECT b.* FROM buckets b JOIN ok_buckets USING (bucket)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.shingles AS sh_a, b.shingles AS sh_b
      FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    near_dups_raw AS (
      -- compute-once form of the 5x-spelled-out intersect; honest A/B
      -- (ORACLE_AB_r13.json): ~neutral on doc_lsh_near_dups (DuckDB
      -- CSEs the repetition), 1.27x on doc_canonical_by_pr — kept for
      -- readability and the canonical win. Values bit-identical.
      SELECT id_a, id_b,
             len(list_intersect(sh_a, sh_b)) AS n_common,
             len(sh_a) AS na, len(sh_b) AS nb
      FROM cands
    ),
    near_dups AS (
      SELECT id_a, id_b, n_common,
             CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
      FROM near_dups_raw
      WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.8
    )""")

DOC_LSH_NEAR_DUPS_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES}
    SELECT id_a, id_b, n_common, jaccard
    FROM near_dups
    ORDER BY id_a, id_b
""")


# --------------------------------------------------------------------------
# doc_dedup_groups — connected components over the near-dup pair graph
# --------------------------------------------------------------------------

def _cc_min_label_sql(rounds: int = 24) -> tuple[str, str]:
    """Oracle-side connected components as UNROLLED min-label
    propagation over a CTE named ``edges`` (both directions): round i+1
    takes each node's min over its own label and its neighbors' —
    O(edges) work per round, ``rounds`` rounds total.

    Replaces the original ``WITH RECURSIVE reach(src, dst)`` transitive
    closure, which enumerates every (node, reachable-node) PAIR — on the
    round-6 mutated sf1 corpus (real similarity chains instead of
    degenerate duplicate clusters) that closure took 3963 s of the
    4659 s gate for emb_semantic_dedup alone; the unrolled propagation
    answers in milliseconds with identical labels.

    Returns (ctes, guard): ctes define ``cc{rounds}`` = (node, lbl) plus
    ONE extra probe round ``cc{rounds + 1}``; ``guard`` is a scalar
    subquery counting labels the probe round still changed — callers
    UNION a sentinel row when it is nonzero, so a diameter larger than
    ``rounds`` fails the gate LOUDLY (row/hash mismatch) instead of
    silently splitting components. The probe round exists so the FULL
    ``rounds`` budget is usable: guarding on cc{rounds} vs cc{rounds-1}
    would flag a graph whose labels legitimately settle in the final
    round. The engine side (operators/dedup.connected_components) has
    the same fail-loud cap.
    """
    # MATERIALIZED is load-bearing: DuckDB 1.0 INLINES plain CTEs, and
    # each round references the previous one twice — 2^rounds expansion
    # (observed as fd exhaustion re-opening the parquet per inlined copy)
    parts = [
        "edges_m AS MATERIALIZED (SELECT src, dst FROM edges)",
        "cc0 AS MATERIALIZED (SELECT src AS node, LEAST(src, MIN(dst)) AS lbl "
        "FROM edges_m GROUP BY src)",
    ]
    for i in range(1, rounds + 2):
        parts.append(dedent(f"""\
        cc{i} AS MATERIALIZED (
          SELECT l.node, LEAST(l.lbl, MIN(n.lbl)) AS lbl
          FROM cc{i - 1} l JOIN edges_m e ON e.src = l.node
          JOIN cc{i - 1} n ON n.node = e.dst
          GROUP BY l.node, l.lbl
        )"""))
    guard = (
        f"(SELECT COUNT(*) FROM cc{rounds + 1} a JOIN cc{rounds} b "
        f"ON a.node = b.node AND a.lbl <> b.lbl)"
    )
    return ",\n    ".join(parts), guard


_CC_CTES, _CC_GUARD = _cc_min_label_sql()
_CC_FINAL = "cc24"

def doc_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUP resolution: near-dup pairs chain (A~B, B~C ⇒ one
    group of three), so the unit of dedup is the connected component.
    Output: (doc_id, canon_id=min id in component) for every doc in any
    group — the keep/drop decision table a dedup pipeline materializes."""
    pairs = _lsh_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    return dedup.connected_components(pairs).orderBy("doc_id")


DOC_DEDUP_GROUPS_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near_dups
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM near_dups
    ),
    {_CC_CTES}
    SELECT node AS doc_id, lbl AS canon_id FROM {_CC_FINAL}
    UNION ALL
    -- unconverged propagation (diameter > rounds) fails the gate loudly
    SELECT -1, -1 WHERE {_CC_GUARD} > 0
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_jaccard_topk — inverted-index all-pairs Jaccard, top 20
# --------------------------------------------------------------------------

def doc_jaccard_topk(
    spark: SparkSession, sf_dir: str, k: int = 20, max_df: int = 50
) -> DataFrame:
    # df-pruned candidates + exact rescore: ultra-common shingles (df >
    # max_df) are dropped from candidate generation so their posting
    # lists never cross-product; jaccard values stay exact (full-set
    # rescoring in operators/dedup.jaccard_pairs).
    pairs = dedup.jaccard_pairs(
        _shingled_docs(spark, sf_dir), min_common=1, max_df=max_df
    )
    return pairs.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(k)


DOC_JACCARD_TOPK_SQL = dedent(f"""
    WITH {SHINGLES_CTE},
    posts AS (SELECT doc_id, unnest(shingles) AS g FROM shingled),
    -- document-frequency prune (mirrors dedup.jaccard_pairs max_df=50)
    rare_g AS (SELECT g FROM posts GROUP BY g HAVING COUNT(*) <= 50),
    rare AS (SELECT p.doc_id, p.g FROM posts p JOIN rare_g USING (g)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    rescored AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
             len(sa.shingles) AS size_a, len(sb.shingles) AS size_b
      FROM cand
      JOIN shingled sa ON sa.doc_id = id_a
      JOIN shingled sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / (size_a + size_b - n_common) AS jaccard
    FROM rescored
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 20
""")


# --------------------------------------------------------------------------
# doc_bm25_topk — inverted-index BM25-style lexical retrieval
# --------------------------------------------------------------------------

def _word_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: (doc_id, dl, term, tf) word postings — the
    inverted-index prefix of doc_bm25_topk and doc_top_terms (one corpus
    explode + tf groupBy per session; at cluster scale this is the
    materialized inverted-index table every retrieval query reuses)."""
    from flink_tank_spark.operators import retrieval

    return shared.stage(
        spark,
        "doc_word_postings",
        sf_dir,
        lambda: retrieval.term_postings(
            spread_partitions(load_table(spark, sf_dir, "documents"))
        ),
    )


def _word_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: per-term (df, ub_i) — the OTHER half of the
    materialized retrieval index (retrieval.term_statistics), built once
    per session over the shared postings and reused by every BM25
    variant, so per-query-batch work never includes a df/UB corpus
    pass."""
    from flink_tank_spark.operators import retrieval

    return shared.stage(
        spark,
        "doc_word_term_stats",
        sf_dir,
        lambda: retrieval.term_statistics(
            _word_postings(spark, sf_dir),
            _word_corpus_stats(spark, sf_dir),
        ),
    )


def _word_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: the 1-row (n_docs, avgdl) corpus stats. Without it
    every BM25 rep re-scanned the full documents TEXT column just to
    recompute this bounded constant (r15, guide §2.4: the third and last
    piece of the materialized retrieval index after postings and
    term stats — per-batch retrieval work now touches the corpus only
    through the persisted postings)."""
    from flink_tank_spark.operators import retrieval

    return shared.stage(
        spark,
        "doc_word_corpus_stats",
        sf_dir,
        lambda: retrieval.corpus_stats(load_table(spark, sf_dir, "documents")),
    )


def doc_bm25_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Doc-as-query lexical retrieval: for each of 5 query docs, the
    top-10 corpus docs by BM25-style score over word postings — the
    lexical complement of the embedding ANN queries. Posting-list equi
    joins only; see operators/retrieval.py for the scale + determinism
    story (log-free rational idf, fixed-point score sums)."""
    from flink_tank_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, query_ids=range(5), k=k, posts=_word_postings(spark, sf_dir),
        term_stats=_word_term_stats(spark, sf_dir),
        stats=_word_corpus_stats(spark, sf_dir),
    ).orderBy("query_id", "rk")


def _bm25_exact_sql(n_queries: int = 5, k: int = 10) -> str:
    """The UNPRUNED exact BM25 SQL, parameterized over the query-doc
    count — the shared oracle of doc_bm25_topk, doc_bm25_wand, and the
    batched doc_bm25_wand_batch64 (pruned operators are certified
    LOSSLESS against it)."""
    return dedent(f"""
    WITH posts AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM posts GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, {sql_davg('dl')} AS avgdl
      FROM (SELECT DISTINCT doc_id, dl FROM tf)
    ),
    qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM tf WHERE doc_id < {n_queries}),
    matched AS (
      SELECT q.query_id, t.doc_id, t.tf, t.dl, d.df, s.n_docs, s.avgdl
      FROM tf t
      JOIN qterms q USING (term)
      JOIN dfreq d USING (term)
      CROSS JOIN stats s
      WHERE t.doc_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(FLOOR(
               ((n_docs - df + 0.5) / (df + 0.5))
                 * ((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / avgdl))))
                 * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS score
      FROM matched GROUP BY 1, 2
    )
    SELECT query_id, doc_id AS match_id, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS INTEGER) AS rk
    FROM scored
    QUALIFY rk <= {k}
    ORDER BY query_id, rk
""")


DOC_BM25_TOPK_SQL = _bm25_exact_sql(5, 10)


# --------------------------------------------------------------------------
# doc_idf_rarity — idf-weighted rarity score per document (curation signal)
# --------------------------------------------------------------------------

def doc_idf_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical rarity: mean (over token INSTANCES) of the
    rational BM25 idf ``(N - df + 0.5) / (df + 0.5)`` — the standard
    curation signal separating boilerplate-heavy documents (low score,
    every token common) from terminology-dense ones. One postings pass
    + one broadcast of the per-term df table; the per-doc sum runs in
    floor-scaled integers so the score is bit-identical under any
    partitioning (same recipe as the BM25 scorer,
    operators/retrieval.py)."""
    from flink_tank_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    posts = _word_postings(spark, sf_dir)
    stats = retrieval.corpus_stats(docs)
    dfreq = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    scored = (
        posts.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            (F.col("tf")
             * F.floor(idf * F.lit(1e9) + F.lit(0.5)).cast("long")).alias("_i"),
        )
    )
    return (
        scored.groupBy("doc_id", "dl")
        .agg(F.sum("_i").alias("_ssum"))
        .select(
            "doc_id",
            F.col("dl").cast("long").alias("n_tokens"),
            ((F.col("_ssum").cast("double") / F.lit(1e9))
             / F.col("dl").cast("double")).alias("idf_rarity"),
        )
        .orderBy("doc_id")
    )


DOC_IDF_RARITY_SQL = dedent("""
    WITH posts AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM posts GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs FROM documents WHERE text IS NOT NULL),
    scored AS (
      SELECT t.doc_id, t.dl,
             t.tf * CAST(FLOOR(((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                               * 1000000000.0 + 0.5) AS BIGINT) AS i
      FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
           (CAST(SUM(i) AS DOUBLE) / 1000000000.0) / CAST(dl AS DOUBLE) AS idf_rarity
    FROM scored GROUP BY doc_id, dl ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_simhash — 64-bit SimHash signatures
# --------------------------------------------------------------------------

def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signature table shared with doc_simhash_near_dups (plans/hamming.py)
    from flink_tank_spark.plans.hamming import simhash_sigs_stage

    return simhash_sigs_stage(spark, sf_dir).orderBy("doc_id")


def doc_bm25_wand(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """WAND-pruned BM25 retrieval — same 5 query docs and k as
    doc_bm25_topk, but only champion-stage + essential-term postings are
    traversed (operators/retrieval.bm25_wand_topk). The oracle is the
    UNPRUNED exact SQL: the gate therefore certifies the pruning is
    lossless, the property WAND promises."""
    from flink_tank_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_wand_topk(
        docs, query_ids=range(5), k=k, posts=_word_postings(spark, sf_dir),
        term_stats=_word_term_stats(spark, sf_dir),
        stats=_word_corpus_stats(spark, sf_dir),
    ).orderBy("query_id", "rk")


def doc_bm25_wand_batch64(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """WAND at a batched query load: 64 concurrent query docs. The
    committed crossover analysis (WAND_BENCH_r07.json — re-measured
    without the plan-cache reuse that flattered r6's numbers) puts the
    per-fresh-batch crossover at ~128 short queries on a 200 k-doc
    corpus (2.13×/6.72× at 256/1024; the fixed θ/UB orchestration cost
    amortizes against batch size, and the advantage grows with corpus
    size since exact aggregates every matched posting). This row makes
    the bench self-documenting on that selection guidance. Oracle: the
    unpruned exact SQL at 64 queries — losslessness certified at batch
    scale too."""
    from flink_tank_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_wand_topk(
        docs, query_ids=range(64), k=k, posts=_word_postings(spark, sf_dir),
        term_stats=_word_term_stats(spark, sf_dir),
        stats=_word_corpus_stats(spark, sf_dir),
    ).orderBy("query_id", "rk")


# the signature derivation as a reusable CTE block — doc_simhash reads
# it directly; plans/hamming.py builds the Hamming-ball near-dup join
# on top of the same `sigs` table
SIMHASH_SIG_CTES = dedent("""\
    w AS (
      SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
    ),
    per_bit AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (strpos('0123456789abcdef', substr(h, CAST(b.bit // 4 + 1 AS INTEGER), 1)) - 1)
                            // CAST(pow(2, 3 - b.bit % 4) AS INTEGER) % 2 = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM w CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id,
             string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
      FROM per_bit
      GROUP BY doc_id
    )""")

DOC_SIMHASH_SQL = dedent(f"""
    WITH {SIMHASH_SIG_CTES}
    SELECT doc_id, simhash FROM sigs ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_lang_id — stopword-profile language ID
# --------------------------------------------------------------------------

def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            text.lang_id(F.col("text")).alias("pred_lang"),
        )
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("pred_lang")
    )


def _sql_lang_score(lang: str) -> str:
    terms = [
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in text.LANG_PROFILES[lang]
    ]
    return " + ".join(terms)


DOC_LANG_ID_SQL = dedent(f"""
    WITH padded AS (
      SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
    ),
    scores AS (
      SELECT doc_id, s.lang, s.score FROM padded,
      LATERAL (
        SELECT unnest(['de','en','es','fr','zh']) AS lang,
               unnest([{_sql_lang_score('de')},
                       {_sql_lang_score('en')},
                       {_sql_lang_score('es')},
                       {_sql_lang_score('fr')},
                       {_sql_lang_score('zh')}]) AS score
      ) s
    ),
    best AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
      FROM scores
    )
    SELECT lang AS pred_lang, COUNT(*) AS n_docs
    FROM best WHERE rk = 1
    GROUP BY 1 ORDER BY 1
""")


# --------------------------------------------------------------------------
# doc_quality — composite quality scores, bucketed histogram
# --------------------------------------------------------------------------

def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    q = text.quality_score(F.col("text"))
    return (
        docs.select("doc_id", q.alias("quality"))
        .withColumn("bucket", F.floor(F.col("quality") * 10).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


DOC_QUALITY_SQL = dedent("""
    WITH q AS (
      SELECT doc_id,
             0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(length(text) AS DOUBLE))
           + 0.2 * (1.0 - abs(length(regexp_replace(text, '[^ ]', '', 'g')) / CAST(length(text) AS DOUBLE) - 1.0/6.0))
           + 0.2 * (CASE WHEN (length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))
                              / CAST(len(string_split(text, ' ')) AS DOUBLE) BETWEEN 3.0 AND 10.0
                         THEN 1.0 ELSE 0.0 END)
           + 0.2 * (CASE WHEN (
                  CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS BIGINT)
                + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5 AS BIGINT)
                + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4 AS BIGINT)
                + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' to ', ''))) / 4 AS BIGINT)
                + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3 AS BIGINT)
                ) / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.05 THEN 1.0 ELSE 0.0 END)
             AS quality
      FROM documents
    )
    SELECT CAST(FLOOR(quality * 10) AS INTEGER) AS bucket, COUNT(*) AS n_docs
    FROM q GROUP BY 1 ORDER BY 1
""")


# --------------------------------------------------------------------------
# doc_token_stats — whitespace + BPE-ish token counting
# --------------------------------------------------------------------------

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    stats = text.token_stats(F.col("text"))
    return (
        docs.select("lang", *[v.alias(k) for k, v in stats.items()])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_ws_tokens").alias("total_ws_tokens"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        )
        .orderBy("lang")
    )


DOC_TOKEN_STATS_SQL = dedent(f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{text.TOKEN_REGEX}'))) AS BIGINT) AS total_bpe_tokens
    FROM documents
    GROUP BY lang ORDER BY lang
""")


# --------------------------------------------------------------------------
# doc_fingerprint — winnowing-style min-hash char-8-gram fingerprint
# --------------------------------------------------------------------------

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint_docs(docs, "doc_id", "text", 8).orderBy("doc_id")


DOC_FINGERPRINT_SQL = dedent("""
    SELECT doc_id,
           list_min(CASE WHEN length(text) >= 8
                         THEN list_transform(range(1, length(text) - 6),
                                             i -> md5(substr(text, i, 8)))
                         ELSE [md5(text)] END) AS fingerprint
    FROM documents
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_repetition — Gopher-style duplicate-ngram quality signals
# --------------------------------------------------------------------------

def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition fractions (duplicate words / 2-grams / 3-grams)
    — the Gopher repetition quality filter. Pure per-row array math over
    the corpus scan: zero shuffle at cluster scale (spread_partitions
    is a no-op on a many-split scan; it only kicks in when the corpus
    arrives as fewer splits than cores)."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    with_words = docs.select(
        "doc_id", "text", F.split(F.col("text"), " ").alias("_w")
    )
    stats = text.repetition_stats(F.col("_w"), F.col("text"))
    return with_words.select(
        "doc_id", *[v.alias(k) for k, v in stats.items()]
    ).orderBy("doc_id")


def _dup_frac_sql(arr: str) -> str:
    return f"1.0 - (CAST(len(list_distinct({arr})) AS DOUBLE) / CAST(len({arr}) AS DOUBLE))"


DOC_REPETITION_SQL = dedent(f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
    g AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                         i -> w[i] || ' ' || w[i+1])
                  ELSE [text] END AS g2,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [text] END AS g3
      FROM w
    )
    SELECT doc_id,
           {_dup_frac_sql('w')} AS dup_word_frac,
           {_dup_frac_sql('g2')} AS dup_2gram_frac,
           {_dup_frac_sql('g3')} AS dup_3gram_frac
    FROM g
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_contamination — benchmark n-gram overlap (decontamination check)
# --------------------------------------------------------------------------

def doc_contamination(
    spark: SparkSession, sf_dir: str, k: int = 8, mod: int = 11
) -> DataFrame:
    """Train/eval contamination: fraction of each corpus doc's distinct
    word 8-grams that also appear in the benchmark set (docs with
    doc_id % mod == 0 stand in for the eval suite). Scale shape: the
    benchmark gram set is SMALL relative to the corpus (an eval suite,
    not a second corpus), so it broadcasts — the corpus grams stream
    past it map-side with no shuffle of the corpus. 13-gram overlap on
    real pipelines (GPT-3 appendix C); k=8 fits the synthetic docs."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    with_words = docs.select(
        "doc_id", "text", F.split(F.col("text"), " ").alias("_w")
    )
    grams = with_words.select(
        "doc_id",
        F.explode(
            F.array_distinct(text.shingles_from_words(F.col("_w"), F.col("text"), k))
        ).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") % mod == 0).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") % mod != 0)
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        totals.join(hits, "doc_id")
        .select(
            "doc_id", "n_grams", "n_matched",
            (F.col("n_matched").cast("double") / F.col("n_grams").cast("double"))
            .alias("contamination"),
        )
        .orderBy("doc_id")
    )


DOC_CONTAMINATION_SQL = dedent("""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) >= 8
                    THEN list_transform(range(1, len(w) - 6),
                           i -> array_to_string(w[i:i+7], ' '))
                    ELSE [text] END)) AS g
      FROM w
    ),
    bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 11 = 0),
    corpus AS (SELECT doc_id, g FROM g WHERE doc_id % 11 <> 0),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY 1),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_matched
      FROM corpus c JOIN bench b USING (g) GROUP BY 1
    )
    SELECT t.doc_id, t.n_grams, h.n_matched,
           CAST(h.n_matched AS DOUBLE) / CAST(t.n_grams AS DOUBLE) AS contamination
    FROM totals t JOIN hits h ON h.doc_id = t.doc_id
    ORDER BY t.doc_id
""")


# --------------------------------------------------------------------------
# doc_dedup_corpus — keep-one materialization stats per source
# --------------------------------------------------------------------------

def doc_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final step: anti-join the corpus against the
    drop list (every doc whose component canon isn't itself) and report
    per-source kept/dropped counts. At scale the drop list is the small
    side (duplicates are a minority) — a broadcastable anti-join against
    the full corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    canon = dedup.connected_components(pairs)
    dropped = canon.filter(F.col("canon_id") < F.col("doc_id")).select("doc_id")
    kept = docs.join(F.broadcast(dropped), "doc_id", "left_anti")
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    k = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        tot.join(k, "source")
        .select(
            "source", "n_docs", "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
        )
        .orderBy("source")
    )


DOC_DEDUP_CORPUS_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near_dups
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM near_dups
    ),
    {_CC_CTES},
    canon AS (SELECT node AS doc_id, lbl AS canon_id FROM {_CC_FINAL}),
    dropped AS (SELECT doc_id FROM canon WHERE canon_id < doc_id)
    SELECT source, COUNT(*) AS n_docs,
           COUNT(*) - COUNT(d.doc_id) AS n_kept,
           COUNT(d.doc_id) AS n_dropped
    FROM documents LEFT JOIN dropped d USING (doc_id)
    GROUP BY source
    UNION ALL
    SELECT '__unconverged__', -1, -1, -1 WHERE {_CC_GUARD} > 0
    ORDER BY source
""")


# --------------------------------------------------------------------------
# doc_sample_stratified — deterministic hash-based stratified sampling
# --------------------------------------------------------------------------

def doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: per-stratum sampling rates (here: 20% of
    'en' docs, 50% of everything else) decided by a CONTENT-DERIVED hash,
    not rand() — reproducible across engines, runs, and partitionings,
    and re-runnable incrementally (a doc's keep/drop never changes).
    Keep iff the first md5 hex byte of the doc id is below the stratum
    threshold ('34' ⇒ 52/256 ≈ 20%, '80' ⇒ 128/256 = 50%)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    threshold = F.when(F.col("lang") == "en", F.lit("34")).otherwise(F.lit("80"))
    return (
        docs.filter(bucket < threshold)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


DOC_SAMPLE_STRATIFIED_SQL = dedent("""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '34' ELSE '80' END
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# Data governance: deterministic train/val/test splits, split leakage,
# PII scrubbing
# --------------------------------------------------------------------------

# Deterministic split assignment (engine side lives in
# operators/text.split_col — shared with the streaming governed-ingest
# stage; the oracle mirror below must track its thresholds).
_split_col = text.split_col


def _split_case_sql(doc_id_expr: str) -> str:
    b = f"substr(md5(CAST({doc_id_expr} AS VARCHAR)), 1, 2)"
    return (
        f"CASE WHEN {b} < '{text.SPLIT_TRAIN_HI}' THEN 'train' "
        f"WHEN {b} < '{text.SPLIT_VAL_HI}' THEN 'val' ELSE 'test' END"
    )


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(split, lang) corpus accounting for the deterministic
    train/val/test assignment. One map-side-combinable groupBy over a
    pure projection — no shuffle beyond the 15-group aggregate, scales
    as a single corpus scan at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            _split_col(F.col("doc_id")).alias("split"), "lang", "doc_id", "n_chars"
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split", "lang")
    )


DOC_SPLIT_ASSIGN_SQL = dedent(f"""
    SELECT {_split_case_sql('doc_id')} AS split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY 1, 2
    ORDER BY split, lang
""")


def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: near-dup pairs (the shared
    LSH-blocked, exact-Jaccard-verified stage) whose endpoints landed in
    DIFFERENT splits — each such pair leaks training signal into
    evaluation. Split is a pure projection of the doc id (no join with
    the corpus), so this adds zero shuffle on top of pair detection."""
    verified = _lsh_verified_pairs(spark, sf_dir)
    return (
        verified.select(
            "id_a",
            "id_b",
            _split_col(F.col("id_a")).alias("split_a"),
            _split_col(F.col("id_b")).alias("split_b"),
            "n_common",
            "jaccard",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .orderBy("id_a", "id_b")
    )


DOC_SPLIT_LEAKAGE_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES}
    SELECT id_a, id_b,
           {_split_case_sql('id_a')} AS split_a,
           {_split_case_sql('id_b')} AS split_b,
           n_common, jaccard
    FROM near_dups
    WHERE {_split_case_sql('id_a')} <> {_split_case_sql('id_b')}
    ORDER BY id_a, id_b
""")


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with a verifiable round-trip: the synthetic corpus
    contains no PII (0 digits / 0 '@'), so the query SPLICES a
    deterministic email+phone block derived from the doc id into each
    text (same expression on the oracle side), scrubs it with the
    portable-dialect patterns (operators/text.py PII_PATTERNS), and
    emits per-doc audit columns — match counts, the scrubbed-text md5,
    and a residual-match count whose expected value is 0 (the "did the
    scrubber actually get everything" column an auditor greps first).
    Pure codegen regexp chain, no Python; spread_partitions because the
    corpus can arrive as one byte-small CPU-dense split."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" Contact user"), did.cast("string"), F.lit("@mail.example.com"),
        F.when(did % 3 == 0,
               F.concat(F.lit(" cc backup."), did.cast("string"),
                        F.lit("-ops@example.org"))).otherwise(F.lit("")),
        F.lit(" or call 555-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        F.when(did % 5 == 0,
               F.concat(F.lit(" / 800-"),
                        F.lpad((did % 1000).cast("string"), 4, "0"))
               ).otherwise(F.lit("")),
    )
    counts = text.pii_counts(with_pii)
    scrubbed = text.pii_scrub(with_pii)
    residual = sum(text.pii_counts(scrubbed).values())
    return (
        docs.select(
            "doc_id",
            counts["n_emails"].alias("n_emails"),
            counts["n_phones"].alias("n_phones"),
            F.md5(scrubbed.cast("binary")).alias("scrub_hash"),
            F.length(scrubbed).alias("scrub_len"),
            residual.alias("residual_matches"),
        )
        .orderBy("doc_id")
    )


# Oracle mirror: identical splice expression, patterns, and replacement
# order; DuckDB regexp_replace needs the explicit 'g' flag to match
# Spark's replace-all default.
_PII_WITH_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' cc backup.' || CAST(doc_id AS VARCHAR)"
    " || '-ops@example.org' ELSE '' END"
    " || ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || CASE WHEN doc_id % 5 = 0 THEN ' / 800-' ||"
    " lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0') ELSE '' END"
)
_PII_SCRUB_SQL = (
    "regexp_replace(regexp_replace(w, '{email}', '<EMAIL>', 'g'),"
    " '{phone}', '<PHONE>', 'g')"
).format(email=text.PII_EMAIL_REGEX, phone=text.PII_PHONE_REGEX)

DOC_PII_SCRUB_SQL = dedent(f"""
    WITH spliced AS (
      SELECT doc_id, {_PII_WITH_SQL} AS w FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, w, {_PII_SCRUB_SQL} AS s FROM spliced
    )
    SELECT doc_id,
           len(regexp_extract_all(w, '{text.PII_EMAIL_REGEX}')) AS n_emails,
           -- staged like the scrub: phones counted on the email-scrubbed
           -- text so an email-consumed phone substring isn't double-counted
           len(regexp_extract_all(
                 regexp_replace(w, '{text.PII_EMAIL_REGEX}', '<EMAIL>', 'g'),
                 '{text.PII_PHONE_REGEX}')) AS n_phones,
           md5(s) AS scrub_hash,
           length(s) AS scrub_len,
           len(regexp_extract_all(s, '{text.PII_EMAIL_REGEX}'))
             + len(regexp_extract_all(s, '{text.PII_PHONE_REGEX}'))
             AS residual_matches
    FROM scrubbed
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_ngram_freq — corpus-level n-gram frequency (vocab/tokenizer stats)
# --------------------------------------------------------------------------

def doc_ngram_freq(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Top-k word trigrams by corpus OCCURRENCE count (duplicates kept —
    unlike the dedup shingle sets, frequency stats want multiplicity).
    One explode + one map-side-combinable groupBy; top-k via a single
    final ordering of the (tiny) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    with_words = docs.select(
        F.col("text"), F.split(F.col("text"), " ").alias("_w")
    )
    grams = with_words.select(
        F.explode(text.shingles_from_words(F.col("_w"), F.col("text"), 3)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "ngram")
        .limit(k)
    )


DOC_NGRAM_FREQ_SQL = dedent("""
    WITH grams AS (
      SELECT unnest(
               CASE WHEN len(string_split(text, ' ')) >= 3
                    THEN list_transform(
                           range(1, len(string_split(text, ' ')) - 1),
                           i -> string_split(text, ' ')[i] || ' ' ||
                                string_split(text, ' ')[i+1] || ' ' ||
                                string_split(text, ' ')[i+2])
                    ELSE [text] END) AS ngram
      FROM documents
    )
    SELECT ngram, COUNT(*) AS freq
    FROM grams
    GROUP BY ngram
    ORDER BY freq DESC, ngram
    LIMIT 50
""")


# --------------------------------------------------------------------------
# doc_top_terms — per-doc top terms by tf × (N/df) relevance
# --------------------------------------------------------------------------

def doc_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """tf-idf-style keyword extraction with a log-free weight
    (tf × N / df): ln() is not bit-identical across engines' libm, a
    pure integer ratio is — so the scores hash-match the oracle exactly.
    Shape: the shared postings stage (one corpus explode per session);
    df falls out of the aggregated tf table (rows per term == distinct
    docs per term) as a map-side-combinable groupBy joined back on term
    — never a per-term window, whose hot-term partition would funnel an
    O(n_docs) posting list into one task; then a broadcast scalar N and
    the per-doc top-k window."""
    docs = load_table(spark, sf_dir, "documents")
    tf = _word_postings(spark, sf_dir).select("doc_id", "term", "tf")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            ((F.col("tf") * F.col("n_docs")) / F.col("df")).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "score", "rk")
        .orderBy("doc_id", "rk")
    )


DOC_TOP_TERMS_SQL = dedent("""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, CAST(tf * n_docs AS DOUBLE) / df AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score, rk FROM (
      SELECT doc_id, term, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS INTEGER) AS rk
      FROM scored) WHERE rk <= 3
    ORDER BY doc_id, rk
""")


# --------------------------------------------------------------------------
# doc_pack_chunks — token-budget packing for sequence training
# --------------------------------------------------------------------------

def doc_pack_chunks(spark: SparkSession, sf_dir: str, budget: int = 4096) -> DataFrame:
    """Concat-then-chunk sequence packing: within each lang stream (docs
    ordered by doc_id), a doc's chunk = floor(tokens-before-it / budget).
    lang is LOW-cardinality, so a plain PARTITION BY lang window would
    put each language's whole corpus through one task at 100 TB — the
    cumsum runs through distributed_cumsum (operators/rank.py: range
    splits + local windows + broadcast offsets) instead. Output: per
    (lang, chunk) doc/token totals, identical to the ANSI window."""
    from flink_tank_spark.operators.rank import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    chunked = distributed_cumsum(
        toks, order_cols=["doc_id"], value_col="n_tokens",
        out_col="_cum", partition_cols=["lang"],
    ).withColumn(
        "chunk",
        F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(budget)).cast("int"),
    )
    return (
        chunked.groupBy("lang", "chunk")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("chunk_tokens"),
        )
        .orderBy("lang", "chunk")
    )


DOC_PACK_CHUNKS_SQL = dedent("""
    WITH toks AS (
      SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    chunked AS (
      SELECT lang, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / 4096.0) AS INTEGER) AS chunk
      FROM toks
    )
    SELECT lang, chunk, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
    FROM chunked
    GROUP BY lang, chunk
    ORDER BY lang, chunk
""")


# --------------------------------------------------------------------------
# emb_quantize_int8 — deterministic per-vector int8 quantization
# --------------------------------------------------------------------------

def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (scale = 127/max|x|), the storage/
    serving compression step for embedding corpora. Pure map — one scan,
    no shuffle except the output ordering. floor(x*scale + 0.5) instead
    of round(): banker's rounding differs between engines, the floor
    recipe is bit-identical IEEE everywhere. Output: per-vector scale +
    integer checksums (deterministic under any partitioning).

    Plan shape: ``scale`` and the quantized array are materialized as
    STAGE columns (each referenced ≥2 downstream times, so
    CollapseProject keeps them) — inlining ``scale`` into the per-element
    lambda re-evaluates its array_max per ELEMENT (HOFs are interpreted,
    nothing is CSE'd inside them): O(dim²) per row, measured 23 s for
    20 k vectors at sf1; this shape is O(dim) per row (~1 s)."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    staged = emb.select(
        "vec_id", similarity.as_double_array("embedding").alias("_dv")
    ).select(
        "vec_id",
        "_dv",
        (
            F.lit(127.0) / F.array_max(F.transform("_dv", lambda x: F.abs(x)))
        ).alias("scale"),
    ).select(
        "vec_id",
        "scale",
        F.transform(
            "_dv", lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("long")
        ).alias("_q"),
    )
    return (
        staged.select(
            "vec_id",
            "scale",
            F.aggregate("_q", F.lit(0).cast("long"), lambda a, b: a + b).alias("q_sum"),
            F.aggregate(
                "_q", F.lit(0).cast("long"), lambda a, b: a + F.abs(b)
            ).alias("q_abs_sum"),
        )
        .orderBy("vec_id")
    )


EMB_QUANTIZE_INT8_SQL = dedent("""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id,
             127.0 / list_max(list_transform(dv, x -> abs(x))) AS scale,
             dv
      FROM v
    )
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(dv, x -> CAST(FLOOR(x * scale + 0.5) AS BIGINT)))
                AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(dv, x -> abs(CAST(FLOOR(x * scale + 0.5) AS BIGINT))))
                AS BIGINT) AS q_abs_sum
    FROM scaled
    ORDER BY vec_id
""")


# --------------------------------------------------------------------------
# emb_cosine_topk — exact brute-force cosine top-5 for 10 query vectors
# --------------------------------------------------------------------------

_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12 + 0.5))) / 1e12"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> floor(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE) * 1e12 + 0.5))) / 1e12)"
)


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({_SQL_DOT.format(a=a, b=b)}) / "
        f"(({_SQL_NORM.format(a=a)}) * ({_SQL_NORM.format(a=b)}))"
    )


# Oracle-side mirror of the engine's zero-norm exclusion (similarity.py
# cosine_topk/ivf_assign filter ``norm > 0`` before any divide — ANSI
# DIVIDE_BY_ZERO safety). Without this predicate a zero-norm embedding
# in a future fixture would score NaN in DuckDB (NaN sorts FIRST under
# ORDER BY DESC there) and hash-diverge from the engine, which drops it.
_SQL_NZ_PRED = _SQL_NORM.format(a="embedding") + " > 0"
_EMB_NZ_CTE = f"emb_nz AS (\n      SELECT * FROM embeddings WHERE {_SQL_NZ_PRED}\n    )"

# Pair-rescore oracles were dominated by recomputing BOTH norms inside
# every per-pair cosine (3 interpreted list-aggregates per candidate —
# 14M+ candidates at sf1 made emb_srp_near_dups_mp the gate's single
# costliest oracle at 142 s). emb_n materializes each vector's norm
# ONCE (corpus-sized, one pass); per-pair work drops to the dot alone.
# Bit-exactness is unconditional: the norm is the IDENTICAL expression
# evaluated on the identical row — the same IEEE double — and the
# division is unchanged (verified frame-equal at sf1 before adoption).
_EMB_N_CTE = (
    "emb_n AS MATERIALIZED (\n"
    f"      SELECT vec_id, embedding, ({_SQL_NORM.format(a='embedding')}) AS nrm\n"
    "      FROM emb_nz\n"
    "    )"
)


def _sql_cosine_n(a: str, b: str) -> str:
    """Cosine between two rows JOINED FROM emb_n (``a``/``b`` are table
    aliases carrying ``embedding`` and the precomputed ``nrm``)."""
    return (
        f"({_SQL_DOT.format(a=f'{a}.embedding', b=f'{b}.embedding')}) / "
        f"({a}.nrm * {b}.nrm)"
    )


def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: exact brute-force cosine top-5 (50 rows) — reused by
    emb_ivf_recall, so the full-corpus scoring pass runs once per session."""

    def build() -> DataFrame:
        emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
        queries = emb.filter(F.col("vec_id") < 10)
        return similarity.cosine_topk(emb, queries, k=5)

    return shared.stage(spark, "emb_exact_topk", sf_dir, build)


def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_topk(spark, sf_dir).orderBy("query_id", "rk")


def emb_knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label purity — the supervised embedding-quality eval: for
    each standard query vector, what fraction of its exact top-5
    neighbors share its label? The metric that says whether the
    embedding space respects the labeling (near 1/|labels| ⇒ the
    space carries no label signal; the synthetic corpus is expected
    near chance — the query is the measurement instrument, pinned
    exact). Reuses the session-shared exact top-k stage, so the
    full-corpus scoring pass is not re-run; the label joins are
    broadcast-scale (10 queries × 5 neighbors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    topk = _exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    j = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
    )
    return (
        j.groupBy("query_id", "q_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum((F.col("n_label") == F.col("q_label")).cast("long"))
            .alias("n_same"),
            F.expr(
                "sum(cast(n_label = q_label as long)) * 1000000 div count(1)"
            ).alias("purity_ppm"),
        )
        .orderBy("query_id")
    )


EMB_KNN_LABEL_PURITY_SQL_TEMPLATE = """
    WITH exact AS ({topk_sql}),
    lbl AS (SELECT vec_id, label FROM embeddings)
    SELECT e.query_id, q.label AS q_label,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CASE WHEN n.label = q.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
           CAST(SUM(CASE WHEN n.label = q.label THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS purity_ppm
    FROM exact e
    JOIN lbl q ON q.vec_id = e.query_id
    JOIN lbl n ON n.vec_id = e.neighbor_id
    GROUP BY e.query_id, q.label
    ORDER BY e.query_id
"""


EMB_COSINE_TOPK_SQL = dedent(f"""
    WITH {_EMB_NZ_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
      FROM emb_nz q JOIN emb_nz c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rk
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk
""")


# --------------------------------------------------------------------------
# emb_matryoshka_topk — truncated-dimension retrieval quality audit
# --------------------------------------------------------------------------

def emb_matryoshka_topk(
    spark: SparkSession, sf_dir: str, dims: int = 16, k: int = 5
) -> DataFrame:
    """Matryoshka-style dimension truncation audit: run the exact cosine
    top-k on only the FIRST ``dims`` of each embedding (the cheap
    coarse-search representation modern embedding models are trained to
    support) and report, per query, how much of the full-dimension top-k
    it recovers. At 100 TB the truncated pass reads a quarter of the
    vector bytes and its dot products are 4× cheaper — this query makes
    the quality side of that trade measurable inside the engine.
    Truncated vectors get the same zero-norm exclusion as full ones (a
    nonzero vector CAN have an all-zero prefix)."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    trunc = emb.select("vec_id", F.slice("embedding", 1, dims).alias("embedding"))
    t_top = similarity.cosine_topk(
        trunc, trunc.filter(F.col("vec_id") < 10), k=k
    ).select(F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_nid"))
    full = _exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        full.join(
            t_top,
            (F.col("query_id") == F.col("t_qid"))
            & (F.col("neighbor_id") == F.col("t_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.count("t_nid").alias("n_overlap"),
        )
        .withColumn("overlap_at_5", F.col("n_overlap") / F.lit(5.0))
        .orderBy("query_id")
    )


EMB_MATRYOSHKA_TOPK_SQL = dedent(f"""
    WITH tr AS (
      SELECT vec_id, embedding[1:16] AS embedding FROM embeddings
    ),
    tr_nz AS (SELECT * FROM tr WHERE {_SQL_NZ_PRED}),
    t_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
      FROM tr_nz q JOIN tr_nz c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    t_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM t_scored) WHERE rk <= 5
    ),
    full_top AS ({EMB_COSINE_TOPK_SQL})
    SELECT f.query_id,
           COUNT(*) AS n_full,
           COUNT(t.neighbor_id) AS n_overlap,
           COUNT(t.neighbor_id) / 5.0 AS overlap_at_5
    FROM full_top f
    LEFT JOIN t_top t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    ORDER BY f.query_id
""")


# --------------------------------------------------------------------------
# emb_pq_topk — product-quantization ADC retrieval quality audit
# --------------------------------------------------------------------------

def _sql_sqdist(a: str, b: str) -> str:
    # exact fixed-point squared L2, ranked on the raw scaled BIGINT
    # (mirror of similarity.fp_sqdist — no final division)
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> floor(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) * 1e12 + 0.5)))"
        " AS BIGINT)"
    )


def _pq_sql(m_sub: int, sub_dim: int, codes: int, iters: int) -> tuple[str, str]:
    """CTE chain mirroring similarity.pq_reconstruct: per subspace an
    L2 Lloyd chain (seed = smallest-id subvectors, fixed-point means),
    final assignment, then codeword concatenation. MATERIALIZED on every
    re-referenced CTE (the round-6 DuckDB-inlining lesson). Returns
    (cte_sql, reconstruction_cte_name)."""
    parts = []
    book = {}
    for m in range(m_sub):
        lo, hi = m * sub_dim + 1, (m + 1) * sub_dim
        parts.append(dedent(f"""\
            s{m} AS MATERIALIZED (
              SELECT vec_id,
                     list_transform(embedding[{lo}:{hi}],
                                    x -> CAST(x AS DOUBLE)) AS sv
              FROM embeddings
            )"""))
        parts.append(dedent(f"""\
            c{m}_0 AS MATERIALIZED (
              SELECT vec_id AS centroid_id, sv AS cv
              FROM s{m} ORDER BY vec_id LIMIT {codes}
            )"""))
        prev = f"c{m}_0"
        for i in range(1, iters + 1):
            parts.append(dedent(f"""\
                a{m}_{i} AS MATERIALIZED (
                  SELECT vec_id, centroid_id FROM (
                    SELECT v.vec_id, c.centroid_id,
                           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                              ORDER BY {_sql_sqdist('v.sv', 'c.cv')} ASC,
                                                       c.centroid_id) AS rk
                    FROM s{m} v CROSS JOIN {prev} c
                  ) t WHERE rk = 1
                )"""))
            parts.append(dedent(f"""\
                e{m}_{i} AS (
                  SELECT a.centroid_id,
                         unnest(range(0, len(v.sv))) AS dim,
                         unnest(v.sv) AS val
                  FROM a{m}_{i} a JOIN s{m} v ON v.vec_id = a.vec_id
                )"""))
            parts.append(dedent(f"""\
                m{m}_{i} AS (
                  SELECT centroid_id, dim, {sql_davg('val')} AS mval
                  FROM e{m}_{i} GROUP BY 1, 2
                )"""))
            parts.append(dedent(f"""\
                c{m}_{i} AS MATERIALIZED (
                  SELECT centroid_id, list(mval ORDER BY dim) AS cv
                  FROM m{m}_{i} GROUP BY 1
                )"""))
            prev = f"c{m}_{i}"
        book[m] = prev
        parts.append(dedent(f"""\
            f{m} AS MATERIALIZED (
              SELECT vec_id, centroid_id FROM (
                SELECT v.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                          ORDER BY {_sql_sqdist('v.sv', 'c.cv')} ASC,
                                                   c.centroid_id) AS rk
                FROM s{m} v CROSS JOIN {prev} c
              ) t WHERE rk = 1
            )"""))
    concat = " || ".join(f"b{m}.cv" for m in range(m_sub))
    joins = "\n              ".join(
        f"JOIN f{m} ON f{m}.vec_id = e.vec_id "
        f"JOIN {book[m]} b{m} ON b{m}.centroid_id = f{m}.centroid_id"
        for m in range(m_sub)
    )
    parts.append(dedent(f"""\
        recon AS MATERIALIZED (
          SELECT e.vec_id, {concat} AS rvec
          FROM embeddings e
              {joins}
        )"""))
    return ",\n    ".join(parts), "recon"


def emb_pq_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, coarse_k: int = 50
) -> DataFrame:
    """Product-quantization retrieval audit, BOTH deployment regimes:
    PQ-encode the corpus (4 subspaces x 16 codewords — 64 float32 dims
    stored as 2 bytes of codes, 128x compression), reconstruct from the
    codebooks, score the UNQUANTIZED queries against reconstructions
    (asymmetric distance computation with the lookup tables left
    implicit), and report per query (a) raw ADC top-k overlap vs the
    exact full-precision search — the compression-only signal — and
    (b) overlap after the production IVF-PQ shape: ADC top-``coarse_k``
    shortlist, exact full-precision rerank to top-k (candidates joined
    pairs-first, then one broadcast-hash probe of the corpus). Codebook
    training is the deterministic L2 Lloyd chain
    (similarity.kmeans_centroids_l2), so the entire train→encode→
    reconstruct→score→rerank pipeline is bit-reproducible and
    oracle-gated — not just the scoring stage."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)

    # The staged index is the reconstructed corpus only; the ADC top-k
    # over it is query work and runs on every call. The PQ
    # train->encode->reconstruct chain lives INSIDE the stage builder
    # (r15): the fused Lloyd trainers run their iteration jobs at
    # DataFrame-construction time, so building recon outside the lambda
    # retrained all four codebooks on every rep (profiled: 45 warm jobs).
    recon = shared.stage(
        spark, "emb_pq_recon", sf_dir,
        lambda: similarity.pq_reconstruct(emb).select(
            "vec_id", F.col("rvec").alias("embedding")
        ),
    )
    coarse = similarity.cosine_topk(recon, queries, k=coarse_k)
    adc_top = coarse.filter(F.col("rk") <= k).select(
        F.col("query_id").alias("p_qid"), F.col("neighbor_id").alias("p_nid")
    )
    # exact full-precision rerank of the shortlist: pairs first, then
    # one broadcast probe against the corpus vectors
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        similarity.as_double_array(F.col("embedding")).alias("qv"),
    ).withColumn("qn", similarity.norm(F.col("qv")))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        similarity.as_double_array(F.col("embedding")).alias("cv"),
    ).withColumn("cn", similarity.norm(F.col("cv")))
    pairs = coarse.select("query_id", "neighbor_id").join(
        F.broadcast(q), "query_id"
    )
    rescored = c.join(F.broadcast(pairs), "neighbor_id").select(
        "query_id", "neighbor_id",
        (similarity.dot(F.col("qv"), F.col("cv"))
         / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    rr_top = (
        rescored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select(F.col("query_id").alias("r_qid"),
                F.col("neighbor_id").alias("r_nid"))
    )
    full = _exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        full.join(
            adc_top,
            (F.col("query_id") == F.col("p_qid"))
            & (F.col("neighbor_id") == F.col("p_nid")),
            "left",
        )
        .join(
            rr_top,
            (F.col("query_id") == F.col("r_qid"))
            & (F.col("neighbor_id") == F.col("r_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.count("p_nid").alias("n_adc_overlap"),
            F.count("r_nid").alias("n_rerank_overlap"),
        )
        .withColumn("adc_overlap_at_5", F.col("n_adc_overlap") / F.lit(5.0))
        .withColumn("rerank_overlap_at_5",
                    F.col("n_rerank_overlap") / F.lit(5.0))
        .orderBy("query_id")
    )


_PQ_CTES, _PQ_RECON = _pq_sql(m_sub=4, sub_dim=16, codes=16, iters=2)

EMB_PQ_TOPK_SQL = dedent(f"""
    WITH {_PQ_CTES},
    recon_nz AS (SELECT * FROM recon WHERE {_SQL_NORM.format(a="rvec")} > 0),
    {_EMB_NZ_CTE},
    p_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'c.rvec')} AS cos_sim
      FROM emb_nz q JOIN recon_nz c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    p_ranked AS MATERIALIZED (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM p_scored
    ),
    adc_top AS (SELECT query_id, neighbor_id FROM p_ranked WHERE rk <= 5),
    cand AS (SELECT query_id, neighbor_id FROM p_ranked WHERE rk <= 50),
    rescored AS (
      SELECT d.query_id, d.neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
      FROM cand d
      JOIN embeddings q ON q.vec_id = d.query_id
      JOIN embeddings c ON c.vec_id = d.neighbor_id
    ),
    r_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM rescored) WHERE rk <= 5
    ),
    full_top AS ({EMB_COSINE_TOPK_SQL})
    SELECT f.query_id,
           COUNT(*) AS n_full,
           COUNT(p.neighbor_id) AS n_adc_overlap,
           COUNT(r.neighbor_id) AS n_rerank_overlap,
           COUNT(p.neighbor_id) / 5.0 AS adc_overlap_at_5,
           COUNT(r.neighbor_id) / 5.0 AS rerank_overlap_at_5
    FROM full_top f
    LEFT JOIN adc_top p
      ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
    LEFT JOIN r_top r
      ON r.query_id = f.query_id AND r.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    ORDER BY f.query_id
""")


# --------------------------------------------------------------------------
# emb_two_stage_topk — Matryoshka coarse search + exact full-dim rerank
# --------------------------------------------------------------------------

def emb_two_stage_topk(
    spark: SparkSession, sf_dir: str, dims: int = 32, coarse_k: int = 200,
    k: int = 5,
) -> DataFrame:
    """Two-stage ANN (operators/similarity.two_stage_topk): truncated
    32-dim coarse top-200 candidate generation, exact full-dim fixed-
    point rerank to top-5 — the production operator the
    emb_matryoshka_topk audit motivates. Registered at the measured
    KNEE of its recall/cost curve (recall@5 0.86 at 32-dim/C=200 vs
    0.24 at the previously-registered 16-dim/C=50 — IVF_RECALL
    evidence), i.e. the config a user should actually run. The oracle
    mirrors BOTH stages (truncated scoring with prefix-zero-norm
    exclusion, candidate rerank), so the gate certifies the staging
    itself, not just the final scores; recall vs single-stage exact is
    measured separately in scripts/ivf_recall_curve.py."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    return similarity.two_stage_topk(
        emb, emb.filter(F.col("vec_id") < 10),
        k=k, coarse_dims=dims, coarse_k=coarse_k,
    ).orderBy("query_id", "rk")


EMB_TWO_STAGE_TOPK_SQL = dedent(f"""
    WITH tr AS (
      SELECT vec_id, embedding[1:32] AS embedding FROM embeddings
    ),
    tr_nz AS (SELECT * FROM tr WHERE {_SQL_NZ_PRED}),
    coarse AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS csim
      FROM tr_nz q JOIN tr_nz c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY csim DESC, neighbor_id) AS crk
        FROM coarse) WHERE crk <= 200
    ),
    rescored AS (
      SELECT d.query_id, d.neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
      FROM cand d
      JOIN embeddings q ON q.vec_id = d.query_id
      JOIN embeddings c ON c.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rk
      FROM rescored)
    WHERE rk <= 5
    ORDER BY query_id, rk
""")


# --------------------------------------------------------------------------
# emb_ivf_topk — IVF-style ANN: search only the query's centroid cell
# --------------------------------------------------------------------------

def _ivf_cell_scored(
    assigned: DataFrame,
    n_queries: int = 10,
    q_assigned: DataFrame | None = None,
) -> DataFrame:
    """Candidate scoring for the cell-restricted IVF search: broadcast
    the (tiny) query rows, equi-join on cell id, exact fixed-point
    cosine per candidate. ``q_assigned`` optionally supplies a separate
    (possibly multi-probe) assignment for the query side — a query
    assigned to P cells unions P DISJOINT candidate sets (each neighbor
    lives in exactly one cell of ``assigned``), so no dedup is needed.
    Shared by the registry queries and scripts/ivf_recall_curve.py so
    the recall measurement runs the SAME certified code path."""
    queries = (q_assigned if q_assigned is not None else assigned).filter(
        F.col("vec_id") < n_queries
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vnorm").alias("qnorm"),
        F.col("centroid_id").alias("q_cell"),
    )
    return assigned.join(
        F.broadcast(queries),
        (F.col("centroid_id") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (similarity.dot(F.col("qv"), F.col("v"))
         / (F.col("qnorm") * F.col("vnorm"))).alias("cos_sim"),
    )


def _ivf_cell_topk(assigned: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Search only the query's own cell of an ivf_assign output:
    per-query top-k over the cell-restricted candidates."""
    scored = _ivf_cell_scored(assigned, n_queries)
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
        .orderBy("query_id", "rk")
    )


def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < 8)
    assigned = similarity.ivf_assign(emb, centroids)
    return _ivf_cell_topk(assigned)


EMB_IVF_TOPK_SQL = dedent(f"""
    WITH {_EMB_NZ_CTE},
    assign_scored AS (
      SELECT v.vec_id, c.vec_id AS centroid_id,
             {_sql_cosine('v.embedding', 'c.embedding')} AS c_sim
      FROM emb_nz v JOIN emb_nz c ON c.vec_id < 8
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        FROM assign_scored) WHERE rk = 1
    ),
    scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             {_sql_cosine('qe.embedding', 'ne.embedding')} AS cos_sim
      FROM assigned q
      JOIN assigned n ON n.centroid_id = q.centroid_id AND n.vec_id <> q.vec_id
      JOIN embeddings qe ON qe.vec_id = q.vec_id
      JOIN embeddings ne ON ne.vec_id = n.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rk
      FROM scored) WHERE rk <= 5
    ORDER BY query_id, rk
""")


# --------------------------------------------------------------------------
# emb_ivf_kmeans_topk — IVF ANN over TRAINED centroids (deterministic Lloyd)
# --------------------------------------------------------------------------

def emb_ivf_kmeans_topk(
    spark: SparkSession, sf_dir: str, k_cells: int = 8, iters: int = 2
) -> DataFrame:
    """Same cell-restricted search as emb_ivf_topk, but over k-means
    centroids trained by 2 deterministic Lloyd iterations (operators/
    similarity.kmeans_centroids) instead of arbitrary seed vectors —
    non-degenerate cells, demonstrably better recall/cost balance."""
    return _ivf_cell_topk(_kmeans_assigned(spark, sf_dir, k_cells, iters))


def _kmeans_assigned(
    spark: SparkSession, sf_dir: str, k_cells: int = 8, iters: int = 2
) -> DataFrame:
    """Shared stage: corpus assigned to trained k-means cells. Lloyd
    training (one corpus scan + one (cell,dim) agg per iteration) is the
    expensive prefix of both emb_ivf_kmeans_topk and emb_ivf_recall —
    train once per session, reuse the assignment."""

    def build() -> DataFrame:
        emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
        cent = similarity.kmeans_centroids(emb, k=k_cells, iters=iters)
        return similarity.ivf_assign(
            emb,
            cent.select(
                F.col("centroid_id").alias("vec_id"), F.col("cv").alias("embedding")
            ),
        )

    return shared.stage(spark, "emb_kmeans_assign", (sf_dir, k_cells, iters), build)


def _kmeans_cells_sql(k: int, iters: int) -> tuple[str, str]:
    """CTE chain mirroring kmeans_centroids: assignment by fixed-point
    cosine, per-(cell, dim) fixed-point means via zipped parallel unnest.
    Returns (cte_sql, final_centroid_cte_name)."""
    # Zero-norm mirror (matches ivf_assign): the SEED pick is over the
    # unfiltered corpus (engine: orderBy(id).limit(k)), but each
    # assignment pass drops zero-norm corpus vectors AND centroids.
    cnorm_pred = _SQL_NORM.format(a="cv") + " > 0"
    parts = [_EMB_NZ_CTE, dedent(f"""\
        c0 AS (
          SELECT vec_id AS centroid_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings ORDER BY vec_id LIMIT {k}
        )""")]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(dedent(f"""\
        a{i} AS (
          SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_sql_cosine('v.embedding', 'c.cv')} DESC,
                                               c.centroid_id) AS rk
            FROM emb_nz v CROSS JOIN (SELECT * FROM {prev} WHERE {cnorm_pred}) c
          ) t WHERE rk = 1
        )"""))
        parts.append(dedent(f"""\
        e{i} AS (
          SELECT a.centroid_id,
                 unnest(range(0, len(e.embedding))) AS dim,
                 unnest(list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS val
          FROM a{i} a JOIN embeddings e ON e.vec_id = a.vec_id
        )"""))
        parts.append(dedent(f"""\
        m{i} AS (
          SELECT centroid_id, dim, {sql_davg('val')} AS mval
          FROM e{i} GROUP BY centroid_id, dim
        )"""))
        parts.append(dedent(f"""\
        c{i} AS (
          SELECT centroid_id, list(mval ORDER BY dim) AS cv
          FROM m{i} GROUP BY centroid_id
        )"""))
        prev = f"c{i}"
    return ",\n    ".join(parts), prev


_CELLS_SQL, _FINAL_CELLS = _kmeans_cells_sql(8, 2)

EMB_IVF_KMEANS_TOPK_SQL = dedent(f"""
    WITH {_CELLS_SQL},
    final_assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_sql_cosine('v.embedding', 'c.cv')} DESC,
                                           c.centroid_id) AS rk
        FROM emb_nz v CROSS JOIN (
          SELECT * FROM {_FINAL_CELLS} WHERE {_SQL_NORM.format(a="cv")} > 0) c
      ) t WHERE rk = 1
    ),
    scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             {_sql_cosine('qe.embedding', 'ne.embedding')} AS cos_sim
      FROM final_assign q
      JOIN final_assign n ON n.centroid_id = q.centroid_id AND n.vec_id <> q.vec_id
      JOIN embeddings qe ON qe.vec_id = q.vec_id
      JOIN embeddings ne ON ne.vec_id = n.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rk
      FROM scored) WHERE rk <= 5
    ORDER BY query_id, rk
""")


# --------------------------------------------------------------------------
# emb_ivf_recall — recall@5 of the k-means IVF index vs exact top-k
# --------------------------------------------------------------------------

def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: per query, how many of the exact cosine
    top-5 the cell-restricted k-means IVF search recovers (recall@5) —
    the recall/cost trade made quantifiable inside the engine itself."""
    exact = _exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = emb_ivf_kmeans_topk(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_nid").alias("n_hits"))
        .withColumn("recall_at_5", F.col("n_hits") / F.lit(5.0))
        .orderBy("query_id")
    )


EMB_IVF_RECALL_SQL = dedent(f"""
    WITH exact AS ({EMB_COSINE_TOPK_SQL}),
    approx AS ({EMB_IVF_KMEANS_TOPK_SQL})
    SELECT e.query_id,
           COUNT(a.neighbor_id) AS n_hits,
           COUNT(a.neighbor_id) / 5.0 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
""")


# --------------------------------------------------------------------------
# emb_near_dup_pairs — embedding-cosine near-duplicate pairs
# --------------------------------------------------------------------------

def emb_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.45,
    n_cells: int | None = None,
    probes: int = 2,
) -> DataFrame:
    """IVF-blocked near-dup pairs: candidates share one of each vector's
    2 nearest cells; exact fixed-point cosine rescoring inside blocks.
    Never an all-pairs cartesian — the join is an equi join on cell id,
    so work is O(sum of cell²), and with the ADAPTIVE cell count
    (default: max(32, ceil(n/500)) — one constant-size count() probe per
    session, mirrored integer-exactly in the oracle SQL) the per-cell
    population stays ~500 regardless of corpus size, making total
    candidate pairs ~500·n: LINEAR in the corpus, not quadratic. A
    fixed cell count would silently degrade to O(n²/cells) as the
    corpus grows — measured: 10× data took the fixed-32 variant from
    7 s to 53 s cold (quadratic trend); adaptive stays on the linear
    trend. Pass an explicit ``n_cells`` to pin the granularity."""
    return _emb_verified_pairs(spark, sf_dir, threshold, n_cells, probes).orderBy(
        "id_a", "id_b"
    )


def _emb_verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.45,
    n_cells: int | None = None,
    probes: int = 2,
) -> DataFrame:
    """Shared stage: IVF-blocked, exact-cosine-verified near-dup pairs —
    the common prefix of emb_near_dup_pairs and emb_semantic_dedup.
    ``n_cells=None`` → adaptive ``max(32, ceil(n/500))`` (see
    emb_near_dup_pairs); the count() probe runs inside build(), once per
    session per stage key."""

    def build() -> DataFrame:
        emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
        cells = n_cells
        if cells is None:
            # integer-exact mirror of the oracle's
            # GREATEST(32, (COUNT(*) + 499) // 500)
            cells = max(32, (emb.count() + 499) // 500)
        centroids = emb.filter(F.col("vec_id") < cells)
        assigned = similarity.ivf_assign(emb, centroids, probes=probes)
        # per-cell blocked matmul: vectors cross Arrow once per probe
        # (cell rows), never once per candidate pair — see
        # similarity.cell_blocked_pairs for the scale rationale
        return similarity.cell_blocked_pairs(assigned, threshold)

    return shared.stage(
        spark, "emb_near_dup_pairs", (sf_dir, threshold, n_cells, probes), build
    )


# Shared CTE block: IVF-blocked candidate pairs with exact cosine
# rescoring (used by emb_near_dup_pairs and emb_semantic_dedup).
EMB_NEAR_DUP_CTES = dedent(f"""\
    {_EMB_NZ_CTE},
    n_cells AS (
      -- integer-exact mirror of the engine's adaptive cell count:
      -- max(32, ceil(n/500)) keeps per-cell population ~500 (linear
      -- total candidate pairs) at any corpus size; the count is over the
      -- UNFILTERED corpus (engine probes emb.count() before ivf_assign)
      SELECT GREATEST(32, (COUNT(*) + 499) // 500) AS nc FROM embeddings
    ),
    assign_scored AS (
      SELECT v.vec_id, c.vec_id AS centroid_id,
             {_sql_cosine('v.embedding', 'c.embedding')} AS c_sim
      FROM emb_nz v JOIN emb_nz c ON c.vec_id < (SELECT nc FROM n_cells)
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY c_sim DESC, centroid_id) AS rk
        FROM assign_scored) WHERE rk <= 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    ),
    scored AS (
      -- NOTE (r13): this block deliberately does NOT use the emb_n
      -- norms-join that pays off in the SRP near-dup oracles — at sf1
      -- the MATERIALIZED-CTE join shape here degenerated (22 GB,
      -- single-threaded, >36 min vs 16 s for this original), while the
      -- original streams the parquet-backed embeddings join in 16 s.
      -- Only adopt a "faster" oracle shape where it is measured
      -- faster at the gate scale.
      SELECT id_a, id_b, {_sql_cosine('ae.embedding', 'be.embedding')} AS cos_sim
      FROM cand
      JOIN embeddings ae ON ae.vec_id = id_a
      JOIN embeddings be ON be.vec_id = id_b
    )""")

EMB_NEAR_DUP_SQL = dedent(f"""
    WITH {EMB_NEAR_DUP_CTES}
    SELECT id_a, id_b, cos_sim
    FROM scored
    WHERE cos_sim >= 0.45
    ORDER BY id_a, id_b
""")


# --------------------------------------------------------------------------
# emb_semantic_dedup — keep-one resolution over embedding near-dup groups
# --------------------------------------------------------------------------

def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup decision summary: connected components over the
    IVF-blocked cosine near-dup graph (pairs chain, so the component —
    not the pair — is the dedup unit), keep the min-id vector per group.
    Same blocking/rescoring scale shape as emb_near_dup_pairs; the CC
    resolution is the label-propagation form (operators/dedup.py)."""
    pairs = _emb_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    canon = dedup.connected_components(pairs)
    return canon.agg(
        F.count(F.lit(1)).alias("n_in_groups"),
        F.countDistinct("canon_id").alias("n_groups"),
        F.count(F.when(F.col("doc_id") != F.col("canon_id"), 1)).alias("n_dropped"),
    )


EMB_SEMANTIC_DEDUP_SQL = dedent(f"""
    WITH {EMB_NEAR_DUP_CTES},
    nd AS (SELECT id_a, id_b FROM scored WHERE cos_sim >= 0.45),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM nd
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM nd
    ),
    {_CC_CTES},
    canon AS (SELECT node AS vec_id, lbl AS canon_id FROM {_CC_FINAL})
    SELECT COUNT(*) AS n_in_groups,
           COUNT(DISTINCT canon_id) AS n_groups,
           COUNT(CASE WHEN vec_id <> canon_id THEN 1 END) AS n_dropped
    FROM canon
    UNION ALL
    SELECT -1, -1, -1 WHERE {_CC_GUARD} > 0
""")


# --------------------------------------------------------------------------
# mm_decode — multimodal fake-container decode via mapInPandas
# --------------------------------------------------------------------------

def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    media = multimodal.encode_fake(docs, "doc_id", "text", kind="image")
    return multimodal.decode_stub(media).orderBy("media_id")


# The fake header encodes width/height/frames as functions of payload
# length, so the Arrow-batched decode is hash-checkable against pure SQL.
MM_DECODE_SQL = dedent("""
    SELECT doc_id AS media_id,
           'image' AS kind,
           CAST(length(text) % 640 + 16 AS INTEGER) AS width,
           CAST(length(text) % 480 + 16 AS INTEGER) AS height,
           CAST(length(text) % 30 + 1 AS INTEGER) AS n_frames,
           length(text) AS n_payload_bytes
    FROM documents
    ORDER BY media_id
""")


# --------------------------------------------------------------------------
# mm_wav_roundtrip — REAL RIFF/WAVE codec: encode through stdlib `wave`,
# decode through decode_real's chunk parser; oracle derives the decoded
# fields arithmetically, so a hash match proves the real codec roundtrip
# --------------------------------------------------------------------------

def mm_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the encode/decode round trip is per-row Python codec work
    # over mapInPandas — a single-split corpus would pin it on ONE
    # Python worker (no-op on a many-split scan).
    # r14: encode+decode run FUSED in one Arrow crossing
    # (multimodal.wav_roundtrip_decoded) — same _wav_container /
    # _decode_one codec calls per row, identical rows out, but the
    # container no longer ships between two Python stages.
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return (
        multimodal.wav_roundtrip_decoded(docs, "doc_id", "text")
        .select(
            "media_id", "format", "n_channels", "sample_width",
            "frame_rate", "n_frames",
        )
        .orderBy("media_id")
    )


# PCM payload = utf-8 text padded to even length; frames = padded/2;
# rate = 8000 + padded%8 * 1000 (encode_wav's deterministic recipe).
MM_WAV_ROUNDTRIP_SQL = dedent("""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text))
               + octet_length(encode(text)) % 2 AS n_padded
      FROM documents
    )
    SELECT doc_id AS media_id,
           'wav' AS format,
           1 AS n_channels,
           2 AS sample_width,
           CAST(8000 + n_padded % 8 * 1000 AS INTEGER) AS frame_rate,
           CAST(n_padded // 2 AS BIGINT) AS n_frames
    FROM b
    ORDER BY media_id
""")


# --------------------------------------------------------------------------
# doc_bigram_fluency — statistical-LM quality scoring (corpus bigram model)
# --------------------------------------------------------------------------

def doc_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality signal without a model: score each doc by
    the mean corpus-conditional bigram probability of its token stream
    (how "predictable" the text is under the corpus's own bigram
    statistics — the statistical cousin of perplexity filtering, usable
    where no external LM exists). Log-free by design: perplexity needs
    ln() (libm-divergent, the doc_top_terms lesson); the mean
    conditional probability is rank-useful for filtering and
    oracle-exact.

    Determinism: each P(b|a) = n_ab/n_a is ONE IEEE division, but a
    per-doc MEAN of many such doubles would be merge-order-dependent —
    so each probability is floor-scaled to exact micro-units first (the
    functions/numeric.py recipe) and summed as integers; one final
    division chain converts back. Scale shape: two map-side-combinable
    groupBys build the bigram model (≤ vocab² rows — broadcast), the
    per-doc pass is one explode + broadcast join + groupBy; nothing
    corpus-sized is ever windowed or collected."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    ws = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(ws) >= 2, F.sequence(F.lit(1), F.size(ws) - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = docs.select(
        "doc_id", ws.alias("_ws"), F.explode(idx).alias("_i")
    ).select(
        "doc_id",
        F.element_at("_ws", F.col("_i")).alias("a"),
        F.element_at("_ws", F.col("_i") + 1).alias("b"),
    )
    c2 = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    c1 = bg.groupBy("a").agg(F.count(F.lit(1)).alias("n_a"))
    p = c2.join(c1, "a").select(
        "a", "b",
        F.floor(F.lit(1000000.0) * F.col("n_ab") / F.col("n_a"))
         .alias("sp"),
    )
    d = (
        bg.join(F.broadcast(p), ["a", "b"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("sp").alias("_s"))
    )
    n_bg = F.coalesce("n_bigrams", F.lit(0).cast("bigint"))
    return (
        docs.select("doc_id")
        .join(d, "doc_id", "left")
        .select(
            "doc_id",
            n_bg.alias("n_bigrams"),
            F.when(
                n_bg > 0,
                F.col("_s").cast("double") / n_bg / F.lit(1000000.0),
            ).otherwise(F.lit(0.0)).alias("fluency"),
        )
        .orderBy("doc_id")
    )


DOC_BIGRAM_FLUENCY_SQL = dedent("""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
      FROM words, UNNEST(range(1, greatest(len(ws) - 1, 0) + 1)) AS t(i)
    ),
    c2 AS (SELECT a, b, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
    c1 AS (SELECT a, COUNT(*) AS n_a FROM bg GROUP BY 1),
    p AS (
      SELECT a, b, CAST(FLOOR((1000000.0 * n_ab) / n_a) AS BIGINT) AS sp
      FROM c2 JOIN c1 USING (a)
    ),
    d AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(sp) AS BIGINT) AS s
      FROM bg JOIN p USING (a, b) GROUP BY 1
    )
    SELECT doc_id,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           CASE WHEN COALESCE(n_bigrams, 0) > 0
                THEN CAST(s AS DOUBLE) / n_bigrams / 1000000.0
                ELSE 0.0 END AS fluency
    FROM documents LEFT JOIN d USING (doc_id)
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# mm_audio_decimate — frame-aligned 2x downsample through the real codec
# --------------------------------------------------------------------------

def mm_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode_wav → decimate_wav(2): the decimated container is
    re-encoded and RE-DECODED through stdlib ``wave``, so the output
    fields prove the full codec roundtrip; the oracle re-derives them
    arithmetically from the deterministic encode recipe (the
    mm_wav_roundtrip argument), including the md5 of the exact PCM
    bytes kept by the frame-aligned stride."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    media = multimodal.encode_wav(docs, "doc_id", "text")
    return multimodal.decimate_wav(media, factor=2).orderBy("media_id")


# PCM = utf-8 text padded to even length (pad byte shows up as '00' in
# the hex stream); frames are 2 bytes -> frame f = hex[4f+1 .. 4f+4];
# the stride keeps frames 0, 2, 4, ...; rate halves from the encode
# recipe 8000 + padded%8 * 1000 (always even).
MM_AUDIO_DECIMATE_SQL = dedent("""
    WITH b AS (
      SELECT doc_id,
             hex(encode(text))
               || CASE WHEN octet_length(encode(text)) % 2 = 1
                       THEN '00' ELSE '' END AS phex,
             octet_length(encode(text))
               + octet_length(encode(text)) % 2 AS n_padded
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(n_padded // 2 AS BIGINT) AS n_frames_in,
           CAST((n_padded // 2 + 1) // 2 AS BIGINT) AS n_frames_out,
           CAST((8000 + n_padded % 8 * 1000) // 2 AS INTEGER) AS frame_rate_out,
           md5(lower(array_to_string(
             list_transform(range(0, CAST(n_padded // 2 AS INTEGER), 2),
                            f -> substr(phex, CAST(4*f + 1 AS INTEGER), 4)),
             ''))) AS payload_md5
    FROM b
    ORDER BY media_id
""")


# --------------------------------------------------------------------------
# mm_resize — nearest-neighbor payload resize through the Arrow path
# --------------------------------------------------------------------------

def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    media = multimodal.encode_fake(docs, "doc_id", "text", kind="image")
    return multimodal.resize_fake(media, scale=2).orderBy("media_id")


# Subsampled payload = every 2nd BYTE of the utf-8 text (derived via hex
# pairs, so multi-byte characters can never diverge from the Spark
# side); checksum = md5 of the lowercase hex of those bytes. header
# width/height derive from length(text) because encode_fake computes
# them with F.length (character semantics).
MM_RESIZE_SQL = dedent("""
    SELECT doc_id AS media_id,
           'image' AS kind,
           CAST((length(text) % 640 + 16) // 2 AS INTEGER) AS width,
           CAST((length(text) % 480 + 16) // 2 AS INTEGER) AS height,
           CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS n_payload_bytes,
           md5(lower(array_to_string(
             list_transform(range(0, CAST(octet_length(encode(text)) AS INTEGER), 2),
                            j -> substr(hex(encode(text)), CAST(2*j + 1 AS INTEGER), 2)),
             ''))) AS payload_md5
    FROM documents
    ORDER BY media_id
""")


# --------------------------------------------------------------------------
# mm_frame_stats — frame sampling stats through the Arrow decode path
# --------------------------------------------------------------------------

def mm_frame_stats(spark: SparkSession, sf_dir: str, every_nth: int = 10) -> DataFrame:
    """Aggregate over the mapInPandas decode + frame-sample explode:
    proves the multimodal plumbing (Arrow batches, binary containers,
    typed schema) composes with ordinary declarative aggregation."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    media = multimodal.encode_fake(docs, "doc_id", "text", kind="image").withColumn(
        "kind", F.when(F.col("media_id") % 2 == 0, "image").otherwise("video")
    )
    frames = multimodal.frame_sample(media, every_nth=every_nth)
    return (
        frames.groupBy("kind")
        .agg(
            F.countDistinct("media_id").alias("n_media"),
            F.count(F.lit(1)).alias("n_frames_sampled"),
            F.sum("frame_idx").alias("frame_idx_sum"),
        )
        .orderBy("kind")
    )


MM_FRAME_STATS_SQL = dedent("""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS kind,
             length(text) % 30 + 1 AS n_frames
      FROM documents
    ),
    f AS (
      SELECT media_id, kind, unnest(range(0, n_frames, 10)) AS frame_idx FROM m
    )
    SELECT kind, COUNT(DISTINCT media_id) AS n_media,
           COUNT(*) AS n_frames_sampled,
           CAST(SUM(frame_idx) AS BIGINT) AS frame_idx_sum
    FROM f GROUP BY kind ORDER BY kind
""")


# --------------------------------------------------------------------------
# doc_clean_boilerplate — HTML/markup stripping (ingest text cleaning)
# --------------------------------------------------------------------------

def doc_clean_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal at the ingest door: strip markup tags, decode
    the common HTML entities, collapse space runs, trim — the first
    transform a web-scraped training corpus goes through. The corpus
    text is plain, so (like doc_pii_scrub) a deterministic doc_id-keyed
    markup splice wraps each doc first and the cleaner must restore a
    canonical form; ``n_tags`` audits how many tags were stripped and
    ``clean_hash`` pins the exact output bytes. Patterns stay in the
    Java-regex ∩ RE2 portable subset (explicit classes, no \\s whose
    definition differs across engines); pure codegen regexp chain."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    spliced = F.concat(
        F.lit('<div class="doc" id="d'), did.cast("string"), F.lit('">'),
        F.when(did % 2 == 0, F.lit("<h1>Header&nbsp;h</h1> ")).otherwise(
            F.lit("<p>")
        ),
        F.col("text"),
        F.lit(" <br/>tail &amp; entities &lt;kept&gt;"),
        F.when(did % 4 == 0,
               F.concat(F.lit(' <span data-x="'), did.cast("string"),
                        F.lit('">footer</span>'))).otherwise(F.lit("")),
        F.lit("</div>"),
    )
    n_tags = F.size(F.regexp_extract_all(spliced, F.lit("<[^>]+>"), F.lit(0)))
    clean = F.regexp_replace(spliced, "<[^>]+>", " ")
    for ent, repl in (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
                      ("&gt;", ">")):
        clean = F.regexp_replace(clean, ent, repl)
    clean = F.trim(F.regexp_replace(clean, "  +", " "))
    return (
        docs.select(
            "doc_id",
            n_tags.alias("n_tags"),
            F.length(clean).alias("clean_len"),
            F.md5(clean.cast("binary")).alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


_BOILER_WITH_SQL = (
    "'<div class=\"doc\" id=\"d' || CAST(doc_id AS VARCHAR) || '\">'"
    " || CASE WHEN doc_id % 2 = 0 THEN '<h1>Header&nbsp;h</h1> '"
    " ELSE '<p>' END || text || ' <br/>tail &amp; entities &lt;kept&gt;'"
    " || CASE WHEN doc_id % 4 = 0 THEN ' <span data-x=\"'"
    " || CAST(doc_id AS VARCHAR) || '\">footer</span>' ELSE '' END"
    " || '</div>'"
)

DOC_CLEAN_BOILERPLATE_SQL = dedent(f"""
    WITH spliced AS (
      SELECT doc_id, {_BOILER_WITH_SQL} AS w FROM documents
    ),
    cleaned AS (
      SELECT doc_id, w,
             trim(regexp_replace(
               replace(replace(replace(replace(
                 regexp_replace(w, '<[^>]+>', ' ', 'g'),
                 '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '  +', ' ', 'g')) AS c
      FROM spliced
    )
    SELECT doc_id,
           len(regexp_extract_all(w, '<[^>]+>')) AS n_tags,
           length(c) AS clean_len,
           md5(c) AS clean_hash
    FROM cleaned
    ORDER BY doc_id
""")


# --------------------------------------------------------------------------
# doc_minhash_est — MinHash estimator calibration vs exact Jaccard
# --------------------------------------------------------------------------

def doc_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: for every verified near-dup pair, the 8-lane
    MinHash estimate of Jaccard (fraction of agreeing signature lanes)
    next to the exact value and the absolute error — the measurement
    that justifies (or indicts) the LSH banding config. Reuses BOTH
    shared stages (shingles, verified pairs), so the only new work is
    two broadcast-size joins against the signature table."""
    pairs = _lsh_verified_pairs(spark, sf_dir)
    sigs = _minhash_sigs8(spark, sf_dir)
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{p}").alias(f"_a{p}") for p in range(8)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{p}").alias(f"_b{p}") for p in range(8)],
    )
    matches = sum(
        (F.col(f"_a{p}") == F.col(f"_b{p}")).cast("int") for p in range(8)
    )
    est = matches.cast("double") / F.lit(8.0)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", "jaccard",
            est.alias("mh_est"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


_MH_MATCHES_SQL = " + ".join(
    f"CASE WHEN a.mh_{p} = b.mh_{p} THEN 1 ELSE 0 END" for p in range(8)
)

DOC_MINHASH_EST_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES}
    SELECT n.id_a, n.id_b, n.jaccard,
           CAST({_MH_MATCHES_SQL} AS DOUBLE) / 8.0 AS mh_est,
           abs(CAST({_MH_MATCHES_SQL} AS DOUBLE) / 8.0 - n.jaccard)
             AS abs_err
    FROM near_dups n
    JOIN sigs a ON a.doc_id = n.id_a
    JOIN sigs b ON b.doc_id = n.id_b
    ORDER BY n.id_a, n.id_b
""")


# --------------------------------------------------------------------------
# doc_zipf_ranks — Zipf constancy diagnostic over the term distribution
# --------------------------------------------------------------------------

def doc_zipf_ranks(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Corpus vocabulary shape: top-``k`` terms with rank, frequency,
    the classic Zipf constancy product rank×freq (≈ constant under a
    Zipf s=1 law), and corpus share. Integer/exact-ratio arithmetic
    only — no ln(), whose libm results are not bit-identical across
    engines (the doc_top_terms lesson). Top-k FIRST via orderBy+limit
    (TakeOrderedAndProject), THEN the rank window over k rows — never a
    global row_number over the whole vocabulary (single-task funnel)."""
    freq = (
        _word_postings(spark, sf_dir)
        .groupBy("term")
        .agg(F.sum("tf").alias("freq"))
    )
    total = freq.agg(F.sum("freq").alias("total"))
    top = freq.orderBy(F.desc("freq"), "term").limit(k)
    w = W.orderBy(F.desc("freq"), "term")
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "rank", "term", "freq",
            (F.col("rank") * F.col("freq")).alias("zipf_product"),
            (F.col("freq").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy("rank")
    )


DOC_ZIPF_RANKS_SQL = dedent("""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
             FROM words GROUP BY 1),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq),
    top AS (SELECT term, freq FROM freq ORDER BY freq DESC, term LIMIT 20),
    ranked AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS INTEGER)
               AS rank,
             term, freq
      FROM top
    )
    SELECT rank, term, freq,
           rank * freq AS zipf_product,
           CAST(freq AS DOUBLE) / total AS share
    FROM ranked CROSS JOIN tot
    ORDER BY rank
""")


# --------------------------------------------------------------------------
# doc_span_dedup — exact substring (span-level) dedup audit
# --------------------------------------------------------------------------

def doc_span_dedup(spark: SparkSession, sf_dir: str, w: int = 10) -> DataFrame:
    """Span-level exact dedup (the Lee-et-al "Deduplicating Training
    Data" substring view): hash every width-``w`` token span, find spans
    shared by >= 2 documents, and report each doc's duplicated-span
    fraction — the signal that catches shared boilerplate PASSAGES
    inside otherwise-distinct documents, which doc-level near-dup can't
    see.  Scale shape: one corpus scan -> codegen explode over span
    starts (md5 at top level, never inside a HOF lambda) -> per-doc
    DISTINCT -> a count window over the span-hash partition (tiny: one
    row per holding doc) -> one per-doc aggregation.  Single pass — no
    multi-branch re-reading of the md5-heavy span lineage; every
    shuffle key (span hash, doc_id) is high-cardinality.  At 100 TB the
    span table is ~n_words rows; stride > 1 trades recall for a
    proportional cut, same plan."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    ws = F.split(F.col("text"), " ")
    # sequence(1, n) DESCENDS when n < 1 — guard short docs explicitly.
    starts = F.when(
        F.size(ws) >= w, F.sequence(F.lit(1), F.size(ws) - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    spans = (
        docs.select("doc_id", ws.alias("_ws"), F.explode(starts).alias("_i"))
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.slice("_ws", F.col("_i"), w), " ")
                .cast("binary")
            ).alias("h"),
        )
        .distinct()
    )
    nd = spans.withColumn("nd", F.count("*").over(W.partitionBy("h")))
    per_doc = nd.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum((F.col("nd") >= 2).cast("bigint")).alias("n_dup_spans"),
    )
    n_spans = F.coalesce("n_spans", F.lit(0).cast("bigint"))
    n_dup = F.coalesce("n_dup_spans", F.lit(0).cast("bigint"))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_spans.alias("n_spans"),
            n_dup.alias("n_dup_spans"),
            F.when(
                n_spans > 0, n_dup.cast("double") / n_spans
            ).otherwise(F.lit(0.0)).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


DOC_SPAN_DEDUP_SQL = dedent("""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    spans AS (
      SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+9], ' ')) AS h
      FROM words, UNNEST(range(1, greatest(len(ws) - 9, 0) + 1)) AS t(i)
    ),
    nd AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS nd FROM spans
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans
      FROM nd GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(n_dup_spans, 0) AS n_dup_spans,
           CASE WHEN COALESCE(n_spans, 0) > 0
                THEN CAST(COALESCE(n_dup_spans, 0) AS DOUBLE)
                     / COALESCE(n_spans, 0)
                ELSE 0.0 END AS dup_frac
    FROM documents d LEFT JOIN per_doc USING (doc_id)
    ORDER BY d.doc_id
""")


# --------------------------------------------------------------------------
# doc_mix_reweight — domain-mix sampling weights to a target distribution
# --------------------------------------------------------------------------

def doc_mix_reweight(spark: SparkSession, sf_dir: str,
                     cap: float = 3.0) -> DataFrame:
    """Corpus mixing: per-language token accounting plus the sampling
    weight that moves the mix toward a UNIFORM target share, capped at
    ``cap`` epochs (the standard upsample-repeat bound, DoReMi-style
    static reweighting).  Expected post-sampling tokens make the trade
    explicit.  One map-side-combinable groupBy over the corpus scan +
    a broadcast 1-row totals frame — constant-size output at any
    scale; all ratios are single IEEE divisions of exact BIGINTs, so
    engine and oracle agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint"))
         .alias("n_tokens"),
    )
    tot = g.agg(
        F.sum("n_tokens").alias("_total"),
        F.count("*").alias("_n_groups"),
    )
    token_share = F.col("n_tokens").cast("double") / F.col("_total")
    target_share = F.lit(1.0) / F.col("_n_groups")
    weight = F.least(F.lit(cap), target_share / token_share)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "lang", "n_docs", "n_tokens",
            token_share.alias("token_share"),
            target_share.alias("target_share"),
            weight.alias("weight"),
            (F.col("n_tokens").cast("double") * weight)
             .alias("expected_tokens"),
        )
        .orderBy("lang")
    )


DOC_MIX_REWEIGHT_SQL = dedent("""
    WITH g AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
             COUNT(*) AS n_groups
      FROM g
    )
    SELECT lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total AS token_share,
           1.0 / n_groups AS target_share,
           LEAST(3.0, (1.0 / n_groups)
                      / (CAST(n_tokens AS DOUBLE) / total)) AS weight,
           CAST(n_tokens AS DOUBLE)
             * LEAST(3.0, (1.0 / n_groups)
                          / (CAST(n_tokens AS DOUBLE) / total))
             AS expected_tokens
    FROM g CROSS JOIN tot
    ORDER BY lang
""")


# --------------------------------------------------------------------------
# doc_fuzzy_near_dups — blocked edit-distance record linkage
# --------------------------------------------------------------------------

def doc_fuzzy_near_dups(spark: SparkSession, sf_dir: str,
                        w: int = 12, max_dist: int = 20) -> DataFrame:
    """Edit-distance (record-linkage) near-dup detection: pairs whose
    first-``w``-token prefixes are within ``max_dist`` Levenshtein — the
    fuzzy-key matching family (titles, URLs, names) that MinHash's
    set-semantics can't express, since edit distance is order-sensitive.

    Never all-pairs: candidates come from TWO blocking passes — equal
    (lang, first TWO tokens) and equal (lang, last two prefix tokens) —
    unioned and de-duplicated, the standard multi-pass blocking that
    keeps a pair discoverable when one end of the key was edited.
    Verification (the O(len^2) Levenshtein) runs only on blocked
    candidates. Blocking-key granularity is the scale knob: two-token
    keys give ~vocab^2 blocks per lang (vs ~vocab for one-token —
    measured 30x fewer candidate pairs at sf0.1: 209,724 -> 6,958), and a 100 TB
    key adds a length band, exactly like the bucket caps in the LSH
    path. ``max_dist`` = 20 is calibrated on the corpus: duplicate
    prefixes sit at 0, the random same-vocab background starts at
    >= 30 (bimodal, no band ambiguity).

    Spark's and DuckDB's ``levenshtein`` are both the classic
    unit-cost insert/delete/substitute distance — verified identical on
    every blocked candidate pair (0 mismatches), so the verify stage is
    oracle-exact. ``rel_dist`` is one IEEE division of exact ints."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    ws = F.split(F.col("text"), " ")
    p = F.slice(ws, 1, w)
    d = docs.select(
        "doc_id", "lang", F.array_join(p, " ").alias("pfx"),
        F.array_join(F.slice(ws, 1, 2), " ").alias("t1"),
        F.array_join(
            F.slice(p, F.greatest(F.lit(1), F.size(p) - 1), 2), " "
        ).alias("tl"),
    )
    a, b = d.alias("a"), d.alias("b")
    same = F.col("a.lang") == F.col("b.lang")
    lt = F.col("a.doc_id") < F.col("b.doc_id")
    cols = [
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        F.col("a.pfx").alias("pa"), F.col("b.pfx").alias("pb"),
    ]
    cands = (
        a.join(b, same & lt & (F.col("a.t1") == F.col("b.t1"))).select(*cols)
        .union(
            a.join(b, same & lt & (F.col("a.tl") == F.col("b.tl")))
            .select(*cols)
        )
        .distinct()
    )
    dist = F.levenshtein("pa", "pb")
    return (
        cands.select("doc_a", "doc_b", dist.alias("dist"),
                     F.greatest(F.length("pa"), F.length("pb")).alias("_mx"))
        .filter(F.col("dist") <= max_dist)
        .select(
            "doc_a", "doc_b", "dist",
            (F.col("dist").cast("double") / F.col("_mx")).alias("rel_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


DOC_FUZZY_NEAR_DUPS_SQL = dedent("""
    WITH d AS (
      SELECT doc_id, lang,
             array_to_string(ws[1:12], ' ') AS pfx,
             array_to_string(ws[1:2], ' ') AS t1,
             array_to_string(
               ws[greatest(1, least(len(ws), 12) - 1):least(len(ws), 12)],
               ' ') AS tl
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
            FROM documents)
    ),
    cands AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pfx AS pa, b.pfx AS pb
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.doc_id < b.doc_id AND a.t1 = b.t1
      UNION
      SELECT a.doc_id, b.doc_id, a.pfx, b.pfx
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.doc_id < b.doc_id AND a.tl = b.tl
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(pa, pb) AS INTEGER) AS dist,
           CAST(levenshtein(pa, pb) AS DOUBLE)
             / greatest(length(pa), length(pb)) AS rel_dist
    FROM cands
    WHERE levenshtein(pa, pb) <= 20
    ORDER BY doc_a, doc_b
""")


# --------------------------------------------------------------------------
# doc_pmi_pairs — collocation mining by document-level lift (log-free PMI)
# --------------------------------------------------------------------------

def doc_pmi_pairs(spark: SparkSession, sf_dir: str,
                  vocab_k: int = 64, top: int = 20) -> DataFrame:
    """Top-``top`` term collocations by document-level lift
    P(a,b)/(P(a)P(b)) — rank-equivalent to PMI without ln() (libm
    differs across engines; a single IEEE division of exact BIGINT
    products is bit-identical, the doc_top_terms lesson).

    Scale shape: the pair space is bounded BEFORE the self-join by a
    broadcast top-``vocab_k``-by-df vocabulary semi-join, so the
    per-doc pair explosion is <= vocab_k^2/2 and the co-occurrence
    groupBy (map-side combinable, <= vocab_k^2 keys) never depends on
    corpus size; doc frequencies come from the shared postings stage's
    aggregated tf table, never a per-term window. Final top-k is
    orderBy+limit (TakeOrderedAndProject)."""
    docs = load_table(spark, sf_dir, "documents")
    dt = _word_postings(spark, sf_dir).select("doc_id", "term")
    vocab = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    topv = vocab.orderBy(F.desc("df"), "term").limit(vocab_k)
    t = dt.join(F.broadcast(topv.select("term")), "term")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    a, b = t.alias("a"), t.alias("b")
    co = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("term_a"),
                 F.col("b.term").alias("term_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    va = topv.select(F.col("term").alias("term_a"), F.col("df").alias("n_a"))
    vb = topv.select(F.col("term").alias("term_b"), F.col("df").alias("n_b"))
    return (
        co.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a", "term_b", "n_ab", "n_a", "n_b",
            ((F.col("n_ab") * F.col("n_docs")).cast("double")
             / (F.col("n_a") * F.col("n_b"))).alias("lift"),
        )
        .orderBy(F.desc("lift"), "term_a", "term_b")
        .limit(top)
    )


DOC_PMI_PAIRS_SQL = dedent("""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dt AS (SELECT DISTINCT doc_id, term FROM words),
    vocab AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY 1),
    topv AS (SELECT term, df FROM vocab ORDER BY df DESC, term LIMIT 64),
    t AS (SELECT dt.doc_id, dt.term FROM dt JOIN topv USING (term)),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    co AS (
      SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
    )
    SELECT term_a, term_b, n_ab, va.df AS n_a, vb.df AS n_b,
           CAST(n_ab * n_docs AS DOUBLE) / (va.df * vb.df) AS lift
    FROM co
    JOIN topv va ON va.term = co.term_a
    JOIN topv vb ON vb.term = co.term_b
    CROSS JOIN n
    ORDER BY lift DESC, term_a, term_b
    LIMIT 20
""")


# --------------------------------------------------------------------------
# emb_split_drift — distribution-shift audit between train/val/test
# --------------------------------------------------------------------------

def emb_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit across the governance splits: the
    centroid of each split's embeddings, compared pairwise by cosine —
    the check that a train/test split did not land systematically
    different content on each side (near-1 for i.i.d. splits of the
    same corpus; a drop flags stratification bugs or temporal drift).

    Exactness: per-(split, dim) centroid NUMERATORS are exact scaled-
    integer sums (cosine is scale-invariant, so the 1/n never needs to
    be applied); the only floats are the final sqrt/divide on
    deterministic operands, mirrored verbatim in the oracle. Scale
    shape: posexplode fans out dim-wise but collapses immediately into
    a map-side-combinable (split, dim) sum — the shuffled state is
    3 × dims rows no matter the corpus; the pairwise-centroid join is
    on the 192-row sums table."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select(
        text.split_col(F.col("vec_id")).alias("split"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    sums = m.groupBy("split", "dim").agg(
        F.sum(
            F.floor(F.col("x") * F.lit(1_000_000.0) + F.lit(0.5)).cast(
                "decimal(20,0)"
            )
        ).alias("s")
    )
    counts = emb.groupBy(text.split_col(F.col("vec_id")).alias("split")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = sums.select(
        F.col("split").alias("split_a"), F.col("dim"), F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("split").alias("split_b"), F.col("dim"), F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    norms = sums.groupBy("split").agg(
        F.sum(F.col("s") * F.col("s")).alias("n2")
    )
    return (
        dots.join(
            F.broadcast(norms.select(F.col("split").alias("split_a"),
                                     F.col("n2").alias("n2a"))), "split_a")
        .join(
            F.broadcast(norms.select(F.col("split").alias("split_b"),
                                     F.col("n2").alias("n2b"))), "split_b")
        .join(F.broadcast(counts.select(F.col("split").alias("split_a"),
                                        F.col("n").alias("n_a"))), "split_a")
        .join(F.broadcast(counts.select(F.col("split").alias("split_b"),
                                        F.col("n").alias("n_b"))), "split_b")
        .select(
            "split_a", "split_b", "n_a", "n_b",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("n2a").cast("double"))
                   * F.sqrt(F.col("n2b").cast("double")))
            ).alias("cos_centroid"),
        )
        .orderBy("split_a", "split_b")
    )


EMB_SPLIT_DRIFT_SQL = dedent(f"""
    WITH m AS (
      SELECT {_split_case_sql('vec_id')} AS split, t.i AS dim,
             CAST(FLOOR(CAST(list_extract(embedding, t.i) AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS xs
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    s AS (SELECT split, dim, SUM(CAST(xs AS HUGEINT)) AS s FROM m GROUP BY 1, 2),
    n AS (
      SELECT {_split_case_sql('vec_id')} AS split, COUNT(*) AS n
      FROM embeddings GROUP BY 1
    ),
    p AS (
      SELECT a.split AS split_a, b.split AS split_b, SUM(a.s * b.s) AS dot
      FROM s a JOIN s b ON a.dim = b.dim AND a.split < b.split
      GROUP BY 1, 2
    ),
    norms AS (SELECT split, SUM(s * s) AS n2 FROM s GROUP BY 1)
    SELECT p.split_a, p.split_b, na.n AS n_a, nb.n AS n_b,
           CAST(p.dot AS DOUBLE)
             / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
             AS cos_centroid
    FROM p JOIN norms x ON x.split = p.split_a
           JOIN norms y ON y.split = p.split_b
           JOIN n na ON na.split = p.split_a
           JOIN n nb ON nb.split = p.split_b
    ORDER BY split_a, split_b
""")



# --------------------------------------------------------------------------
# doc_ppjoin_near_dups — EXACT set-similarity join (prefix filtering)
# --------------------------------------------------------------------------

def doc_ppjoin_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every pair with shingle-Jaccard ≥ 0.8, found EXACTLY via prefix
    filtering (operators/dedup.ppjoin_pairs) — the completeness-
    guaranteed sibling of doc_lsh_near_dups (LSH blocking recall:
    measured 0.994). When a missed near-dup is a correctness bug
    (split-leakage audits), this is the join to run; when ~0.6% recall
    loss is acceptable, LSH is cheaper. Shares the session shingle
    stage — pair detection cost on top is the df groupBy + prefix
    join."""
    shingled = _shingled_docs(spark, sf_dir)
    pairs = dedup.ppjoin_pairs(shingled)
    return pairs.select("id_a", "id_b", "n_common", "jaccard").orderBy(
        "id_a", "id_b"
    )


DOC_PPJOIN_SQL = dedent(f"""
    WITH {SHINGLES_CTE},
    tok AS (SELECT doc_id, unnest(shingles) AS tok FROM shingled),
    dfq AS (SELECT tok, COUNT(*) AS tdf FROM tok GROUP BY tok),
    sorted_ AS (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.tdf, t.tok) AS rn,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS n
      FROM tok t JOIN dfq d USING (tok)
    ),
    prefix AS (
      SELECT doc_id, tok, n, rn FROM sorted_
      WHERE rn <= n - (4 * n + 4) // 5 + 1
    ),
    cands AS (
      -- positional filter (engine mirror, operators/dedup.ppjoin_pairs):
      -- a qualifying pair's FIRST common token passes
      -- 1 + min(na-rn_a, nb-rn_b) >= ceil(4(na+nb)/9), so ANY-row-passes
      -- is lossless; cuts sf1 candidates 3.0x (5.34M -> 1.78M)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b ON a.tok = b.tok
           AND a.doc_id < b.doc_id
           AND 5 * b.n >= 4 * a.n AND 5 * a.n >= 4 * b.n
           AND 1 + LEAST(a.n - a.rn, b.n - b.rn) >= (4 * (a.n + b.n) + 8) // 9
    ),
    verify AS (
      -- compute-once form of the 5x-spelled-out intersect. Honest A/B
      -- (ORACLE_AB_r13.json): NEUTRAL — DuckDB already CSEs the
      -- repeated list_intersect; kept for readability. The measured
      -- cost cut for this oracle is the positional filter above
      -- (3x fewer candidates to verify). Values bit-identical.
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM cands c
      JOIN shingled sa ON sa.doc_id = c.id_a
      JOIN shingled sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
    FROM verify
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.8
    ORDER BY id_a, id_b
""")



# --------------------------------------------------------------------------
# doc_source_overlap — cross-source shingle overlap (corpus-mixing audit)
# --------------------------------------------------------------------------

def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level content overlap: exact Jaccard (ppm) of
    each source pair's distinct word-3-shingle sets — the
    crawl-vs-crawl redundancy signal a corpus-mixing decision needs
    (a source that is mostly a re-crawl of another should be
    down-weighted or dropped BEFORE doc-level dedup spends its pair
    budget on it). Doc-level detectors answer "which docs are dupes";
    this answers "which SOURCES are redundant", one row per
    overlapping source pair.

    Scale shape: rides the shared per-doc shingle stage
    (_shingled_docs), collapses it to distinct (source, shingle) —
    vocabulary-bounded per source, NOT corpus-bounded — then ONE
    self-equi-join on the shingle key counts intersections (candidate
    volume ≤ vocab × sources², sources being few); per-source set
    sizes broadcast onto the bounded pair table. Pair enumeration is
    anchored on the shingle equi-join (the emb_split_drift pattern —
    no cross/theta join anywhere), so a source pair sharing ZERO
    shingles emits no row by construction.

    Exactness: all counts are exact integers; jaccard_ppm is one
    integer floor-division on non-negative operands — Spark ``div``
    and DuckDB ``//`` both truncate toward zero (the layout.py
    cross-engine rule), so values are bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        _shingled_docs(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", F.explode("shingles").alias("g"))
        .distinct()
    )
    return source_overlap_from_shingles(sh)


def source_overlap_from_shingles(sh: DataFrame) -> DataFrame:
    """Finalize: pairwise overlap from a DISTINCT (source, g) shingle
    table. Shared verbatim by the batch query above and the streaming
    view (streaming/source_overlap.py) — parity is structural, the
    vocab_cov.py pattern.

    ``sh`` is referenced four times below (both self-join sides + the
    two sizes broadcasts) — un-materialized, the whole upstream
    explode+distinct re-evaluated per reference (profiled at sf0.1:
    four identical 3.7 M-row map stages in one cold build, 23 jobs).
    Materialized once by :func:`shared.cut` (r14, guide §2.4 — the
    established graph/LSH discipline, reliable on a cluster). ``sizes``
    likewise backs two broadcasts and is one bounded row per source.
    Checkpointed values are the computed values — results unchanged."""
    sh = shared.cut(sh)
    sizes = shared.cut(sh.groupBy("source").agg(F.count(F.lit(1)).alias("n")))
    common = (
        sh.select(F.col("source").alias("source_a"), "g")
        .join(sh.select(F.col("source").alias("source_b"), "g"), "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n").alias("n_a"))), "source_a")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n").alias("n_b"))), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "n_common",
            F.expr("(n_common * 1000000) div (n_a + n_b - n_common)")
            .cast("long").alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


DOC_SOURCE_OVERLAP_SQL = dedent(f"""
    WITH {SHINGLES_CTE},
    sh AS (
      SELECT DISTINCT source, g FROM (
        SELECT d.source, unnest(s.shingles) AS g
        FROM shingled s JOIN documents d ON d.doc_id = s.doc_id
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT c.source_a, c.source_b,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           CAST((c.n_common * 1000000) // (sa.n + sb.n - c.n_common)
                AS BIGINT) AS jaccard_ppm
    FROM common c
    JOIN sizes sa ON sa.source = c.source_a
    JOIN sizes sb ON sb.source = c.source_b
    ORDER BY source_a, source_b
""")


# --------------------------------------------------------------------------
# doc_containment_dups — EXACT set-containment join (subset duplicates)
# --------------------------------------------------------------------------

def doc_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ORDERED pair with shingle-containment |A∩B|/|A| ≥ 0.9 —
    the subset-duplicate detector (operators/dedup.containment_pairs).
    Jaccard dedup is blind to a short doc quoted inside a much longer
    one (J = |A|/|B| → 0 while containment = 1.0); this asymmetric
    prefix-filter join catches exactly those, with completeness
    guaranteed at the threshold (recall 1.0 by pigeonhole, like
    PPJoin). Shares the session shingle stage."""
    shingled = _shingled_docs(spark, sf_dir)
    pairs = dedup.containment_pairs(shingled)
    return pairs.select(
        "id_a", "id_b", "n_common", "containment", "jaccard"
    ).orderBy("id_a", "id_b")


# the shared containment CTE chain: shingles -> rarest-first prefix ->
# candidates -> VERIFIED pairs with both sizes (both containment
# queries finalize from `verified`)
_CONTAINMENT_VERIFIED_CTES = dedent(f"""\
    WITH {SHINGLES_CTE},
    tok AS (SELECT doc_id, unnest(shingles) AS tok FROM shingled),
    dfq AS (SELECT tok, COUNT(*) AS tdf FROM tok GROUP BY tok),
    sorted_ AS MATERIALIZED (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.tdf, t.tok) AS rn,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS n
      FROM tok t JOIN dfq d USING (tok)
    ),
    prefix AS (
      SELECT doc_id, tok, n FROM sorted_
      WHERE rn <= n - (9 * n + 9) // 10 + 2
    ),
    cands AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN sorted_ b ON a.tok = b.tok
           AND a.doc_id <> b.doc_id
           AND 10 * b.n >= 9 * a.n
           AND b.rn <= b.n - (9 * a.n + 9) // 10 + 2
      GROUP BY a.doc_id, b.doc_id, a.n
      HAVING COUNT(*) >= CASE WHEN a.n >= 2 THEN 2 ELSE 1 END
    ),
    verified AS MATERIALIZED (
      SELECT id_a, id_b, na, nb, n_common FROM (
        SELECT id_a, id_b,
               len(sa.shingles) AS na, len(sb.shingles) AS nb,
               len(list_intersect(sa.shingles, sb.shingles)) AS n_common
        FROM cands c
        JOIN shingled sa ON sa.doc_id = c.id_a
        JOIN shingled sb ON sb.doc_id = c.id_b
      ) WHERE 10 * n_common >= 9 * na
    )""")

DOC_CONTAINMENT_SQL = dedent(f"""
    {_CONTAINMENT_VERIFIED_CTES}
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / na AS containment,
           CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
    FROM verified
    ORDER BY id_a, id_b
""")

DOC_CONTAINMENT_CORPUS_SQL = dedent(f"""
    {_CONTAINMENT_VERIFIED_CTES},
    dropped AS (
      SELECT DISTINCT id_a AS doc_id FROM verified
      WHERE nb > na OR (nb = na AND id_b < id_a)
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
""")


def doc_containment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one corpus accounting under exact containment dedup — the
    effect of the curation job's --containment stage as an
    oracle-checkable query: per language, how many docs the
    subset-duplicate rule drops and the character volume that ships.
    The drop rule (operators/dedup.containment_drop_ids — the SAME
    function the job runs) removes a doc iff it is contained ≥0.9 in a
    LARGER doc, ties keeping the smaller id, so mutual-containment
    pairs lose exactly one member and chains keep only the maximal
    doc. Scale shape: the lossless prefix-filter join from
    doc_containment_dups drives a distinct drop list; the accounting
    is one left join + groupBy over the documents scan."""
    shingled = _shingled_docs(spark, sf_dir)
    dropped = dedup.containment_drop_ids(shingled).withColumn(
        "_drop", F.lit(True)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    kept = F.col("_drop").isNull()
    return (
        docs.join(dropped, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((~kept).cast("long")).cast("long").alias("n_dropped"),
            F.sum(kept.cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# doc_split_ks — exact two-sample KS distance between train and test
# --------------------------------------------------------------------------

def doc_split_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the train and
    test splits' document-length distributions, per language — the
    VALUE-level distribution-shift audit next to emb_split_drift's
    embedding-centroid check (a split can have aligned centroids and
    still differ in length profile, which skews loss weighting).

    Exactness: D = max |F_train(x) − F_test(x)| is computed as pure
    integers — cross-multiplied cumulative counts
    |cum_a·n_b − cum_b·n_a| over the shared length domain, scaled to
    ppm by one floor division. No empirical-CDF floats anywhere, so any
    partitioning and the oracle agree bit-for-bit. Scale shape: one
    (lang, split, length) count groupBy; the CDF windows run per
    language over DISTINCT lengths (bounded by the length domain, not
    row count)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    b = (
        docs.select(
            "lang",
            text.split_col(F.col("doc_id")).alias("split"),
            F.col("n_chars").alias("v"),
        )
        .filter(F.col("split").isin("train", "test"))
        .groupBy("lang", "v")
        .agg(
            F.sum((F.col("split") == "train").cast("long")).alias("ca"),
            F.sum((F.col("split") == "test").cast("long")).alias("cb"),
        )
    )
    w_cum = W.partitionBy("lang").orderBy("v")
    w_all = W.partitionBy("lang")
    c = (
        b.withColumn("cum_a", F.sum("ca").over(w_cum).cast("decimal(20,0)"))
        .withColumn("cum_b", F.sum("cb").over(w_cum).cast("decimal(20,0)"))
        .withColumn("n_a", F.sum("ca").over(w_all).cast("decimal(20,0)"))
        .withColumn("n_b", F.sum("cb").over(w_all).cast("decimal(20,0)"))
    )
    diff = F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    return (
        c.select("lang", "n_a", "n_b", diff.alias("d"))
        .groupBy("lang")
        .agg(
            F.max("d").alias("dmax"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
        .select(
            "lang",
            F.col("n_a").cast("long").alias("n_train"),
            F.col("n_b").cast("long").alias("n_test"),
            F.expr("(dmax * 1000000) div (n_a * n_b)")
            .cast("long")
            .alias("ks_ppm"),
        )
        .orderBy("lang")
    )


DOC_SPLIT_KS_SQL = dedent(f"""
    WITH m AS (
      SELECT lang, {_split_case_sql('doc_id')} AS split, n_chars AS v
      FROM documents
    ),
    b AS (
      SELECT lang, v,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cb
      FROM m WHERE split IN ('train', 'test')
      GROUP BY lang, v
    ),
    c AS (
      SELECT lang,
             CAST(SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS HUGEINT) AS cum_a,
             CAST(SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS HUGEINT) AS cum_b,
             CAST(SUM(ca) OVER (PARTITION BY lang) AS HUGEINT) AS n_a,
             CAST(SUM(cb) OVER (PARTITION BY lang) AS HUGEINT) AS n_b
      FROM b
    )
    SELECT lang,
           CAST(MAX(n_a) AS BIGINT) AS n_train,
           CAST(MAX(n_b) AS BIGINT) AS n_test,
           CAST((MAX(ABS(cum_a * n_b - cum_b * n_a)) * 1000000)
                // (MAX(n_a) * MAX(n_b)) AS BIGINT) AS ks_ppm
    FROM c GROUP BY lang
    ORDER BY lang
""")



QUERIES = [
    QuerySpec("doc_dedup_stats", doc_dedup_stats, DOC_DEDUP_STATS_SQL,
              "exact dedup stats by content hash, per source", ("llm", "dedup"), bench=True),
    QuerySpec("doc_idf_rarity", doc_idf_rarity, DOC_IDF_RARITY_SQL,
              "idf-weighted per-doc rarity score (curation quality signal)",
              ("llm", "text")),
    QuerySpec("emb_matryoshka_topk", emb_matryoshka_topk, EMB_MATRYOSHKA_TOPK_SQL,
              "truncated-dim (16/64) cosine top-k overlap vs full-dim exact",
              ("llm", "embedding")),
    QuerySpec("emb_two_stage_topk", emb_two_stage_topk, EMB_TWO_STAGE_TOPK_SQL,
              "two-stage ANN at the measured recall knee: 32-dim Matryoshka "
              "coarse top-200 + exact full-dim rerank (recall@5 0.86 sf0.1)",
              ("llm", "embedding")),
    QuerySpec("emb_pq_topk", emb_pq_topk, EMB_PQ_TOPK_SQL,
              "product quantization: L2 codebooks (4x16), ADC top-k overlap "
              "raw AND after exact rerank of the top-50 shortlist",
              ("llm", "embedding", "similarity")),
    QuerySpec("doc_minhash", doc_minhash, DOC_MINHASH_SQL,
              "MinHash signatures (4 md5 perms over word 3-shingles)", ("llm", "dedup")),
    QuerySpec("doc_lsh_near_dups", doc_lsh_near_dups, DOC_LSH_NEAR_DUPS_SQL,
              "MinHash-LSH blocking (bucket-capped) + exact Jaccard >= 0.8",
              ("llm", "dedup"), bench=True),
    QuerySpec("doc_dedup_groups", doc_dedup_groups, DOC_DEDUP_GROUPS_SQL,
              "connected components over near-dup pairs -> (doc, canon) keep table",
              ("llm", "dedup"), bench=True),
    QuerySpec("doc_sample_stratified", doc_sample_stratified, DOC_SAMPLE_STRATIFIED_SQL,
              "deterministic hash-based stratified sampling (20% en / 50% rest)",
              ("llm", "curation")),
    QuerySpec("doc_split_ks", doc_split_ks, DOC_SPLIT_KS_SQL,
              "exact two-sample KS distance (ppm) of doc length between "
              "train/test, per lang",
              ("llm", "governance", "quality")),
    QuerySpec("doc_containment_dups", doc_containment_dups, DOC_CONTAINMENT_SQL,
              "EXACT asymmetric set-containment join >= 0.9 (subset "
              "duplicates Jaccard dedup misses; prefix-filter, recall 1.0)",
              ("llm", "dedup")),
    QuerySpec("doc_containment_corpus", doc_containment_corpus,
              DOC_CONTAINMENT_CORPUS_SQL,
              "keep-one corpus accounting under containment dedup (drop "
              "iff contained in a larger doc, ties keep the smaller id)",
              ("llm", "dedup", "curation")),
    QuerySpec("doc_ppjoin_near_dups", doc_ppjoin_near_dups, DOC_PPJOIN_SQL,
              "EXACT Jaccard>=0.8 pairs via prefix filtering (completeness-"
              "guaranteed sibling of the LSH blocking)",
              ("llm", "dedup")),
    QuerySpec("doc_source_overlap", doc_source_overlap, DOC_SOURCE_OVERLAP_SQL,
              "pairwise source shingle-Jaccard (ppm) — cross-crawl "
              "redundancy audit for corpus mixing",
              ("llm", "dedup", "curation")),
    QuerySpec("emb_split_drift", emb_split_drift, EMB_SPLIT_DRIFT_SQL,
              "pairwise split-centroid cosine — embedding distribution-shift audit",
              ("llm", "governance", "embedding")),
    QuerySpec("doc_split_assign", doc_split_assign, DOC_SPLIT_ASSIGN_SQL,
              "deterministic md5 train/val/test split — per-(split, lang) accounting",
              ("llm", "governance")),
    QuerySpec("doc_split_leakage", doc_split_leakage, DOC_SPLIT_LEAKAGE_SQL,
              "near-dup pairs straddling splits (train/test contamination audit)",
              ("llm", "governance", "dedup")),
    QuerySpec("doc_pii_scrub", doc_pii_scrub, DOC_PII_SCRUB_SQL,
              "PII redaction round-trip: splice -> scrub -> zero-residual audit",
              ("llm", "governance")),
    QuerySpec("doc_repetition", doc_repetition, DOC_REPETITION_SQL,
              "Gopher-style duplicate word/2-gram/3-gram fractions per doc",
              ("llm", "text")),
    QuerySpec("doc_contamination", doc_contamination, DOC_CONTAMINATION_SQL,
              "benchmark 8-gram overlap per corpus doc (broadcast decontamination)",
              ("llm", "curation")),
    QuerySpec("doc_dedup_corpus", doc_dedup_corpus, DOC_DEDUP_CORPUS_SQL,
              "keep-one dedup materialization stats per source (anti-join)",
              ("llm", "dedup")),
    QuerySpec("emb_semantic_dedup", emb_semantic_dedup, EMB_SEMANTIC_DEDUP_SQL,
              "keep-one resolution over embedding near-dup components",
              ("llm", "dedup")),
    QuerySpec("doc_ngram_freq", doc_ngram_freq, DOC_NGRAM_FREQ_SQL,
              "corpus top-50 word trigrams by occurrence", ("llm", "text")),
    QuerySpec("doc_top_terms", doc_top_terms, DOC_TOP_TERMS_SQL,
              "per-doc top-3 terms by log-free tf-idf (tf x N/df)", ("llm", "text")),
    QuerySpec("doc_jaccard_topk", doc_jaccard_topk, DOC_JACCARD_TOPK_SQL,
              "inverted-index Jaccard top-20 (df-pruned candidates, exact rescore)",
              ("llm", "dedup")),
    QuerySpec("doc_bm25_topk", doc_bm25_topk, DOC_BM25_TOPK_SQL,
              "inverted-index BM25-style top-10 lexical retrieval, 5 query docs",
              ("llm", "retrieval"), bench=True),
    QuerySpec("doc_bm25_wand", doc_bm25_wand, DOC_BM25_TOPK_SQL,
              "WAND-pruned BM25 top-10 (champion lists + essential-term prune, "
              "exact-oracle certified lossless)",
              ("llm", "retrieval"), bench=True),
    QuerySpec("doc_bm25_wand_batch64", doc_bm25_wand_batch64,
              _bm25_exact_sql(64, 10),
              "WAND at batch-64 queries — crossover-guidance row (honest "
              "per-fresh-batch crossover ~128, WAND_BENCH_r07.json); "
              "exact-oracle lossless",
              ("llm", "retrieval"), bench=True),
    QuerySpec("doc_simhash", doc_simhash, DOC_SIMHASH_SQL,
              "64-bit SimHash signatures", ("llm", "dedup")),
    QuerySpec("doc_lang_id", doc_lang_id, DOC_LANG_ID_SQL,
              "stopword-profile language ID histogram", ("llm", "text")),
    QuerySpec("doc_quality", doc_quality, DOC_QUALITY_SQL,
              "composite quality score histogram", ("llm", "text")),
    QuerySpec("doc_token_stats", doc_token_stats, DOC_TOKEN_STATS_SQL,
              "whitespace + BPE-ish token counts per lang", ("llm", "text"), bench=True),
    QuerySpec("doc_fingerprint", doc_fingerprint, DOC_FINGERPRINT_SQL,
              "winnowing-style min char-8-gram fingerprint", ("llm", "text")),
    QuerySpec("doc_pack_chunks", doc_pack_chunks, DOC_PACK_CHUNKS_SQL,
              "token-budget chunk packing per lang (window cumsum)", ("llm", "curation")),
    QuerySpec("emb_quantize_int8", emb_quantize_int8, EMB_QUANTIZE_INT8_SQL,
              "deterministic symmetric int8 quantization checksums", ("llm", "similarity")),
    QuerySpec("emb_knn_label_purity", emb_knn_label_purity,
              EMB_KNN_LABEL_PURITY_SQL_TEMPLATE.format(topk_sql=EMB_COSINE_TOPK_SQL),
              "kNN label purity of the exact top-5 (supervised embedding "
              "quality; exact ppm)", ("llm", "similarity")),
    QuerySpec("emb_cosine_topk", emb_cosine_topk, EMB_COSINE_TOPK_SQL,
              "exact cosine top-5 for 10 queries (fixed-point dot)", ("llm", "similarity"), bench=True),
    QuerySpec("emb_ivf_topk", emb_ivf_topk, EMB_IVF_TOPK_SQL,
              "IVF-cell ANN top-5 (search only the query's cell)", ("llm", "similarity")),
    QuerySpec("emb_ivf_kmeans_topk", emb_ivf_kmeans_topk, EMB_IVF_KMEANS_TOPK_SQL,
              "IVF ANN top-5 over k-means centroids (2 deterministic Lloyd iters)",
              ("llm", "similarity"), bench=True),
    QuerySpec("emb_ivf_recall", emb_ivf_recall, EMB_IVF_RECALL_SQL,
              "recall@5 of the k-means IVF index vs exact top-k", ("llm", "similarity")),
    QuerySpec("emb_near_dup_pairs", emb_near_dup_pairs, EMB_NEAR_DUP_SQL,
              "IVF-blocked (32 cells, 2-probe) cosine near-dup pairs >= 0.45",
              ("llm", "dedup"), bench=True),
    QuerySpec("mm_decode", mm_decode, MM_DECODE_SQL,
              "multimodal fake-container decode via mapInPandas", ("llm", "multimodal")),
    QuerySpec("mm_frame_stats", mm_frame_stats, MM_FRAME_STATS_SQL,
              "frame-sampling stats through the Arrow decode path", ("llm", "multimodal")),
    QuerySpec("mm_wav_roundtrip", mm_wav_roundtrip, MM_WAV_ROUNDTRIP_SQL,
              "real RIFF/WAVE codec roundtrip (stdlib wave) vs arithmetic oracle",
              ("llm", "multimodal"), bench=True),
    QuerySpec("mm_audio_decimate", mm_audio_decimate, MM_AUDIO_DECIMATE_SQL,
              "frame-aligned 2x audio decimation through the real codec "
              "(decode -> stride -> re-encode -> re-decode)",
              ("llm", "multimodal")),
    QuerySpec("mm_resize", mm_resize, MM_RESIZE_SQL,
              "nearest-neighbor payload resize (dims/2, byte subsample + md5)",
              ("llm", "multimodal")),
    QuerySpec("doc_clean_boilerplate", doc_clean_boilerplate,
              DOC_CLEAN_BOILERPLATE_SQL,
              "markup strip + entity decode + space collapse (ingest cleaning)",
              ("llm", "text")),
    QuerySpec("doc_minhash_est", doc_minhash_est, DOC_MINHASH_EST_SQL,
              "8-lane MinHash Jaccard estimate vs exact per verified pair",
              ("llm", "dedup")),
    QuerySpec("doc_zipf_ranks", doc_zipf_ranks, DOC_ZIPF_RANKS_SQL,
              "top-20 term ranks with Zipf rank x freq constancy product",
              ("llm", "text")),
    QuerySpec("doc_span_dedup", doc_span_dedup, DOC_SPAN_DEDUP_SQL,
              "exact substring dedup: width-10 token spans shared across "
              "docs, per-doc duplicated-span fraction",
              ("llm", "dedup")),
    QuerySpec("doc_mix_reweight", doc_mix_reweight, DOC_MIX_REWEIGHT_SQL,
              "per-lang token shares + capped sampling weights to a "
              "uniform target mix",
              ("llm", "curation")),
    QuerySpec("doc_fuzzy_near_dups", doc_fuzzy_near_dups,
              DOC_FUZZY_NEAR_DUPS_SQL,
              "blocked Levenshtein prefix linkage (two-pass blocking, "
              "edit-distance verify)",
              ("llm", "dedup", "text")),
    QuerySpec("doc_pmi_pairs", doc_pmi_pairs, DOC_PMI_PAIRS_SQL,
              "top-20 term collocations by document-level lift "
              "(log-free PMI, vocab-capped pair space)",
              ("llm", "text")),
    QuerySpec("doc_bigram_fluency", doc_bigram_fluency,
              DOC_BIGRAM_FLUENCY_SQL,
              "statistical-LM quality score: mean corpus-conditional "
              "bigram probability per doc (log-free perplexity cousin)",
              ("llm", "text")),
]
