"""SRP-LSH (hyperplane-bucket) cosine ANN queries.

The blocking scheme complementary to the IVF family in plans/llm.py:
no training pass, no centroid state — each vector's hyperplane sign
bits (Charikar 2002, the public SRP-LSH construction) are grouped into
6 bands of 4 bits (MinHash-style OR-amplification), and candidates are
vectors sharing any band. Because the hash is stateless and
content-derived it extends to streaming ingest with no index
maintenance at all. Config calibration (measured on the synthetic
corpus, see srp_topk's honesty note): 6×4 gives recall@5 ≈ 0.5 at a
≈ 0.33 candidate fraction on these near-isotropic vectors (true
neighbors at cos ≈ 0.3); on a clustered corpus with neighbors at
cos ≥ 0.8 the same config recovers ≥ 0.95.

Oracle strategy: the ±1 hyperplane matrix is content-addressed
(md5-parity per (plane, dim) cell — operators/similarity.srp_weights),
so the DuckDB mirror regenerates the IDENTICAL matrix as a 3072-row
(48-plane) VALUES literal built by the same Python function at import
— prefix-stable, so every adaptive band width reads the same table —
and
recomputes bucket assignment through an exact-integer unnest+join —
certifying the engine's Arrow-batched int64 matmul bit-for-bit.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators import similarity
from flink_tank_spark.operators.skew import spread_partitions
from flink_tank_spark.plans import shared
from flink_tank_spark.plans.llm import (
    _EMB_N_CTE,
    _EMB_NZ_CTE,
    _exact_topk,
    _sql_cosine,
    _sql_cosine_n,
    EMB_COSINE_TOPK_SQL,
)
from flink_tank_spark.plans.registry import QuerySpec

N_PLANES = 24
N_BANDS = 6
DIM = 64
_ROWS = N_PLANES // N_BANDS

# near-dup blocking runs WIDER bands than the 10-query top-k: all-pairs
# candidate volume is Σ bucket², so bits-per-band must track
# log2(corpus) — see similarity.srp_near_dup_pairs' scale note. Like
# IVF's adaptive cell count, the width ADAPTS to the corpus via one
# metadata-cheap count, through an integer threshold ladder mirrored
# exactly in the oracle SQL: 4 bits at ≤1000 vectors (non-trivial gate
# rows at the small SFs), +1 per doubling, capped at 12 (48 planes).
# The md5-parity matrix is prefix-stable (cell (p, i) ignores the total
# plane count), so one 48-plane weights literal serves every width.
ND_BANDS = 4
ND_MAX_BITS = 12
_ND_THRESHOLDS = [1000 * (1 << k) for k in range(ND_MAX_BITS - 4)]  # 1k..128k


def _nd_bits(n_vectors: int) -> int:
    return 4 + sum(n_vectors > t for t in _ND_THRESHOLDS)


_SQL_ND_BITS = "4 + " + " + ".join(
    f"CAST(n > {t} AS INTEGER)" for t in _ND_THRESHOLDS
)


def _srp_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: the prepared SRP corpus side (neighbor_id, cv, cn;
    zero-norm rows dropped) — referenced by the band-key index build AND
    every query's exact rescore, across all four srp_topk/recall
    queries. Un-staged, each rep re-scanned the corpus and re-ran the
    interpreted norm twice (r15 profile: two 32-task corpus stages per
    warm rep with run >> cpu)."""
    def build() -> DataFrame:
        emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
        return (
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                similarity.as_double_array(F.col("embedding")).alias("cv"),
            )
            .withColumn("cn", similarity.norm(F.col("cv")))
            .filter(F.col("cn") > 0)
        )

    return shared.stage(spark, "srp_corpus_norms", sf_dir, build)


def _srp_corpus_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: the SRP INDEX — exploded (neighbor_id, band_key)
    rows for the 6x4 top-k config. "The hash IS the index": a deployment
    materializes this once and serves every query batch from it (the
    posts=/sigs= discipline); re-hashing the corpus per query batch was
    pure re-computation. Values identical — same expressions, staged."""
    return shared.stage(
        spark,
        "srp_corpus_keys",
        (sf_dir, N_PLANES, N_BANDS, DIM),
        lambda: _srp_corpus(spark, sf_dir).select(
            "neighbor_id",
            F.explode(
                similarity.srp_band_keys(F.col("cv"), N_PLANES, N_BANDS, DIM)
            ).alias("band_key"),
        ),
    )


def emb_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SRP-LSH approximate cosine top-5 for the standard
    10-query set (6 bands × 4 sign bits, exact fixed-point rerank)."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    return similarity.srp_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_planes=N_PLANES,
        n_bands=N_BANDS,
        dim=DIM,
        c_prep=_srp_corpus(spark, sf_dir),
        c_keys=_srp_corpus_keys(spark, sf_dir),
    ).orderBy("query_id", "rk")


# multi-probe: extra query-side probe keys from flipping the
# lowest-|margin| sign bits (Lv et al. 2007). Measured frontier on the
# near-isotropic synthetic corpus (true neighbors at cos ≈ 0.3 — the
# hostile case; SRP_RECALL_r11.jsonl has the full curve): P=6 lifts
# recall@5 0.48 → 0.82 at candidate fraction 0.33 → 0.57, and at the
# UNCHANGED 0.35 fraction budget a 5×5 banding with P=8 reaches 0.64 —
# multi-probe strictly dominates adding bands at equal volume.
N_PROBES = 6


def emb_srp_topk_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP cosine top-5: the emb_srp_topk index (6 bands ×
    4 bits, corpus side unchanged) probed at the 6 lowest-margin 1/2-bit
    flips per query, exact fixed-point rerank."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    return similarity.srp_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_planes=N_PLANES,
        n_bands=N_BANDS,
        dim=DIM,
        n_probes=N_PROBES,
        c_prep=_srp_corpus(spark, sf_dir),
        c_keys=_srp_corpus_keys(spark, sf_dir),
    ).orderBy("query_id", "rk")


def emb_srp_recall_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the MULTI-PROBE SRP search vs the exact top-5 — the
    probe lift measured inside the engine (emb_srp_recall's twin), so
    the 0.48 → 0.82 isotropic improvement is itself oracle-gated."""
    exact = _exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = emb_srp_topk_mp(spark, sf_dir).select(
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


def emb_srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the SRP search vs the exact top-5 — the quality side
    of the hash-blocking trade, measured inside the engine (same shape
    as emb_ivf_recall)."""
    exact = _exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = emb_srp_topk(spark, sf_dir).select(
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


def _weights_values() -> str:
    """The hyperplane matrix as a VALUES literal — regenerated by the
    same md5-parity function the engine uses, so parity holds by
    construction."""
    w = similarity.srp_weights(ND_BANDS * ND_MAX_BITS, DIM)
    return ", ".join(
        f"({p}, {i}, {int(w[p, i])})"
        for p in range(ND_BANDS * ND_MAX_BITS) for i in range(DIM)
    )


# shared CTE prefix: nz filter → scaled components → plane signs → band
# keys (used by the top-k, recall, and near-dup oracles)
_SRP_BANDS_CTES = dedent(f"""\
    {_EMB_NZ_CTE},
    weights (p, i, wgt) AS (VALUES {_weights_values()}),
    scaled AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xs
      FROM emb_nz
    ),
    comps AS (
      SELECT vec_id, unnest(xs) AS xi, unnest(range(0, len(xs))) AS i FROM scaled
    ),
    sp AS MATERIALIZED (
      SELECT c.vec_id, w.p, SUM(w.wgt * c.xi) AS s
      FROM comps c JOIN weights w ON c.i = w.i
      GROUP BY 1, 2
    ),
    bands AS MATERIALIZED (
      SELECT vec_id,
             CAST((CAST(band AS BIGINT) << 56)
                  + SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << r) ELSE 0 END)
                  AS BIGINT) AS band_key
      FROM (SELECT vec_id, s, p // {_ROWS} AS band, p % {_ROWS} AS r
            FROM sp WHERE p < {N_PLANES})
      GROUP BY vec_id, band
    ),
    nd_params AS (
      SELECT {_SQL_ND_BITS} AS bits
      FROM (SELECT COUNT(*) AS n FROM embeddings)
    ),
    bands_nd AS MATERIALIZED (
      SELECT vec_id,
             CAST((CAST(band AS BIGINT) << 56)
                  + SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << r) ELSE 0 END)
                  AS BIGINT) AS band_key
      FROM (SELECT vec_id, s, p // bits AS band, p % bits AS r
            FROM sp CROSS JOIN nd_params WHERE p < {ND_BANDS} * bits)
      GROUP BY vec_id, band
    )""")

_SRP_BUCKET_CTES = dedent(f"""\
    {_SRP_BANDS_CTES},
    qb AS (
      SELECT vec_id AS query_id, band_key FROM bands WHERE vec_id < 10
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM qb q JOIN bands c USING (band_key)
      WHERE c.vec_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
      FROM cand
      JOIN emb_nz q ON q.vec_id = cand.query_id
      JOIN emb_nz c ON c.vec_id = cand.neighbor_id
    ),
    srp_ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rk
      FROM scored
    )""")

EMB_SRP_TOPK_SQL = dedent(f"""
    WITH {_SRP_BUCKET_CTES}
    SELECT query_id, neighbor_id, cos_sim, rk
    FROM srp_ranked WHERE rk <= 5
    ORDER BY query_id, rk
""")

# Multi-probe oracle: same weights/sp/bands CTEs; probe keys = the base
# band key XOR the flip mask, for the N_PROBES lowest-|margin| 1/2-bit
# flips (exact-integer margins from sp, deterministic ties by
# (band, r1, r2) with r2 = -1 on singles — the engine's stable argsort
# over the identically pre-sorted combo list).
EMB_SRP_TOPK_MP_SQL = dedent(f"""
    WITH {_SRP_BUCKET_CTES},
    qm AS MATERIALIZED (
      SELECT vec_id, p // {_ROWS} AS band, p % {_ROWS} AS r, ABS(s) AS ms
      FROM sp WHERE p < {N_PLANES} AND vec_id < 10
    ),
    flips AS (
      SELECT vec_id, band, ms, r AS r1, -1 AS r2,
             CAST(1 AS BIGINT) << r AS mask
      FROM qm
      UNION ALL
      SELECT a.vec_id, a.band, a.ms + b.ms, a.r, b.r,
             (CAST(1 AS BIGINT) << a.r) | (CAST(1 AS BIGINT) << b.r)
      FROM qm a JOIN qm b ON a.vec_id = b.vec_id AND a.band = b.band
                         AND a.r < b.r
    ),
    probes AS (
      SELECT vec_id, band, mask,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY ms, band, r1, r2) AS rk
      FROM flips
    ),
    qb_mp AS (
      SELECT query_id, band_key FROM qb
      UNION ALL
      SELECT p.vec_id AS query_id, xor(bk.band_key, p.mask) AS band_key
      FROM probes p
      JOIN bands bk ON bk.vec_id = p.vec_id AND (bk.band_key >> 56) = p.band
      WHERE p.rk <= {N_PROBES}
    ),
    cand_mp AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM qb_mp q JOIN bands c USING (band_key)
      WHERE c.vec_id <> q.query_id
    ),
    scored_mp AS (
      SELECT cand_mp.query_id, cand_mp.neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
      FROM cand_mp
      JOIN emb_nz q ON q.vec_id = cand_mp.query_id
      JOIN emb_nz c ON c.vec_id = cand_mp.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rk
      FROM scored_mp
    ) WHERE rk <= 5
    ORDER BY query_id, rk
""")

EMB_SRP_RECALL_SQL = dedent(f"""
    WITH exact AS ({EMB_COSINE_TOPK_SQL}),
    approx AS ({EMB_SRP_TOPK_SQL})
    SELECT e.query_id,
           COUNT(a.neighbor_id) AS n_hits,
           COUNT(a.neighbor_id) / 5.0 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
""")

EMB_SRP_RECALL_MP_SQL = dedent(f"""
    WITH exact AS ({EMB_COSINE_TOPK_SQL}),
    approx AS ({EMB_SRP_TOPK_MP_SQL})
    SELECT e.query_id,
           COUNT(a.neighbor_id) AS n_hits,
           COUNT(a.neighbor_id) / 5.0 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
""")


NEAR_DUP_THRESHOLD = 0.45  # the emb_near_dup_pairs convention


def emb_srp_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless SRP-blocked embedding near-dup pairs (the IVF-free
    alternative to emb_near_dup_pairs): band-collision candidates,
    exact fixed-point cosine ≥ 0.45. Band width adapts to the corpus
    (the IVF adaptive-cell precedent: one count, an integer threshold
    ladder mirrored in the oracle)."""
    # metadata-cheap parquet count of the RAW table — the oracle's
    # nd_params counts the same population (not the nz-filtered view),
    # so engine and oracle pick the same width even when the corpus
    # contains zero-norm vectors near a threshold-ladder boundary
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    bits = _nd_bits(emb.count())
    return similarity.srp_near_dup_pairs(
        emb,
        threshold=NEAR_DUP_THRESHOLD,
        n_planes=ND_BANDS * bits,
        n_bands=ND_BANDS,
        dim=DIM,
    ).orderBy("id_a", "id_b")


EMB_SRP_NEAR_DUPS_SQL = dedent(f"""
    WITH {_SRP_BANDS_CTES},
    pair_cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands_nd a JOIN bands_nd b USING (band_key)
      WHERE a.vec_id < b.vec_id
    ),
    {_EMB_N_CTE},
    pair_scored AS (
      SELECT p.id_a, p.id_b,
             {_sql_cosine_n('x', 'y')} AS cos_sim
      FROM pair_cand p
      JOIN emb_n x ON x.vec_id = p.id_a
      JOIN emb_n y ON y.vec_id = p.id_b
    )
    SELECT id_a, id_b, cos_sim
    FROM pair_scored WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
    ORDER BY id_a, id_b
""")


# pair-mining probes run at the ADAPTIVE nd width: flips over the first
# ND_BANDS*bits planes, band = p // bits, ranked by exact |margin| with
# the (band, r1, r2) tie order — every vector probes, so a pair is
# caught by base∩base OR either side's probe ∩ the other's base
ND_PROBES = 16


def emb_srp_near_dups_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP near-dup pairs: the emb_srp_near_dups index
    (adaptive-width bands, corpus side unchanged) plus 16 lowest-margin
    probe buckets per vector; exact fixed-point rescore at 0.45. The
    stateless streaming-friendly blocking with the probe recall lift —
    planted-truth recall measured in DEDUP_QUALITY_r11.json."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    bits = _nd_bits(emb.count())
    return similarity.srp_near_dup_pairs(
        emb,
        threshold=NEAR_DUP_THRESHOLD,
        n_planes=ND_BANDS * bits,
        n_bands=ND_BANDS,
        dim=DIM,
        n_probes=ND_PROBES,
    ).orderBy("id_a", "id_b")


EMB_SRP_NEAR_DUPS_MP_SQL = dedent(f"""
    WITH {_SRP_BANDS_CTES},
    qm_nd AS MATERIALIZED (
      SELECT vec_id, p // bits AS band, p % bits AS r, ABS(s) AS ms
      FROM sp CROSS JOIN nd_params WHERE p < {ND_BANDS} * bits
    ),
    flips_nd AS (
      SELECT vec_id, band, ms, r AS r1, -1 AS r2,
             CAST(1 AS BIGINT) << r AS mask
      FROM qm_nd
      UNION ALL
      SELECT a.vec_id, a.band, a.ms + b.ms, a.r, b.r,
             (CAST(1 AS BIGINT) << a.r) | (CAST(1 AS BIGINT) << b.r)
      FROM qm_nd a JOIN qm_nd b ON a.vec_id = b.vec_id AND a.band = b.band
                               AND a.r < b.r
    ),
    probes_nd AS (
      SELECT vec_id, band, mask,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY ms, band, r1, r2) AS rk
      FROM flips_nd
    ),
    probe_keys_nd AS (
      SELECT p.vec_id, xor(bk.band_key, p.mask) AS band_key
      FROM probes_nd p
      JOIN bands_nd bk ON bk.vec_id = p.vec_id
                      AND (bk.band_key >> 56) = p.band
      WHERE p.rk <= {ND_PROBES}
    ),
    pair_cand_mp AS (
      SELECT DISTINCT LEAST(x, y) AS id_a, GREATEST(x, y) AS id_b FROM (
        SELECT a.vec_id AS x, b.vec_id AS y
        FROM bands_nd a JOIN bands_nd b USING (band_key)
        WHERE a.vec_id < b.vec_id
        UNION ALL
        SELECT p.vec_id AS x, k.vec_id AS y
        FROM probe_keys_nd p JOIN bands_nd k USING (band_key)
        WHERE p.vec_id <> k.vec_id
      )
    ),
    {_EMB_N_CTE},
    pair_scored_mp AS (
      SELECT p.id_a, p.id_b,
             {_sql_cosine_n('x', 'y')} AS cos_sim
      FROM pair_cand_mp p
      JOIN emb_n x ON x.vec_id = p.id_a
      JOIN emb_n y ON y.vec_id = p.id_b
    )
    SELECT id_a, id_b, cos_sim
    FROM pair_scored_mp WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
    ORDER BY id_a, id_b
""")


QUERIES = [
    QuerySpec(
        "emb_srp_topk",
        emb_srp_topk,
        EMB_SRP_TOPK_SQL,
        "banded SRP-LSH cosine top-5, OR-amplified bands, exact rerank",
        ("llm", "embedding", "ann"),
        bench=True,
    ),
    QuerySpec(
        "emb_srp_topk_mp",
        emb_srp_topk_mp,
        EMB_SRP_TOPK_MP_SQL,
        "multi-probe SRP cosine top-5: lowest-margin bit-flip probes "
        "lift isotropic recall@5 0.48 -> 0.82 on the unchanged index",
        ("llm", "embedding", "ann"),
        bench=True,
    ),
    QuerySpec(
        "emb_srp_recall",
        emb_srp_recall,
        EMB_SRP_RECALL_SQL,
        "recall@5 of SRP-LSH search vs the exact cosine top-5",
        ("llm", "embedding", "ann"),
    ),
    QuerySpec(
        "emb_srp_recall_mp",
        emb_srp_recall_mp,
        EMB_SRP_RECALL_MP_SQL,
        "recall@5 of multi-probe SRP search vs the exact cosine top-5 "
        "(the probe lift, oracle-gated)",
        ("llm", "embedding", "ann"),
    ),
    QuerySpec(
        "emb_srp_near_dups",
        emb_srp_near_dups,
        EMB_SRP_NEAR_DUPS_SQL,
        "stateless SRP-blocked embedding near-dup pairs, exact rescore",
        ("llm", "embedding", "dedup"),
    ),
    QuerySpec(
        "emb_srp_near_dups_mp",
        emb_srp_near_dups_mp,
        EMB_SRP_NEAR_DUPS_MP_SQL,
        "multi-probe SRP near-dup pairs: lowest-margin probe buckets "
        "lift the stateless blocking's recall, index unchanged",
        ("llm", "embedding", "dedup"),
    ),
]
