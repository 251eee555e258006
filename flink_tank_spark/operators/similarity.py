"""Embedding similarity operators: exact + fixed-point cosine, top-k ANN.

Extension surface for training-data pipelines: brute-force cosine top-k
as the exact baseline, and an IVF-style (inverted-file) variant as the
scale path — assign vectors to the nearest of C centroids once, then
search only the query's cell (C× less work; the standard ANN recall/cost
trade).

Determinism: dot products use the fixed-point recipe
(functions/numeric.py rationale): each element product is computed in
double (float32 inputs promote exactly), scaled to 1e-12 units with
``floor(x*1e12 + 0.5)`` — pure IEEE ops — and summed EXACTLY as
integral doubles (≤2^53). Any partitioning, any engine, same bits; this
is what makes cosine scores hash-verifiable against a SQL oracle AND
reproducible run-to-run on a cluster.

Scale notes: brute-force is a cartesian join — fine for a bounded query
set (broadcast the queries; each executor scans its corpus partition
once). All-pairs near-dup at corpus scale must go through blocking
(IVF cells here, or LSH bands — operators/dedup.py) before the exact
rescoring; the entries in plans/llm.py demonstrate both shapes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1e12


def _fp_sum(arr: Column) -> Column:
    """Exact sum of an array of doubles via fixed-point floor-scaling."""
    return F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc + F.floor(x * F.lit(SCALE) + F.lit(0.5)),
    ) / F.lit(SCALE)


def dot(a: Column, b: Column) -> Column:
    """Exact fixed-point dot product of two double arrays."""
    return _fp_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: Column) -> Column:
    return F.sqrt(_fp_sum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def as_double_array(a: Column) -> Column:
    """float32 → double promotion (exact) so all math runs in double."""
    return F.transform(a, lambda x: x.cast("double"))


def dot_vectorized(a: Column, b: Column) -> Column:
    """Arrow-batched fixed-point dot product — BIT-IDENTICAL to
    :func:`dot` but ~50× faster per pair.

    Higher-order lambdas are interpreted (per-element closure calls);
    for the pair-rescoring hot path that dominates. The fixed-point
    design makes a vectorized swap safe: every scaled term
    ``floor(x·y·1e12 + 0.5)`` is an integral double (|sum| ≪ 2^53), so
    numpy's SIMD/pairwise summation gives the SAME exact integer total
    as the sequential JVM fold — summation ORDER cannot matter. multiply
    and floor are correctly-rounded IEEE ops in both runtimes.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot_fp(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xa = np.stack(xs.to_numpy())
        ya = np.stack(ys.to_numpy())
        return pd.Series(np.floor(xa * ya * SCALE + 0.5).sum(axis=1) / SCALE)

    return _dot_fp(a, b)


def _broadcast_all_pairs(
    left: DataFrame, right: DataFrame, left_id: str, right_id: str
) -> DataFrame:
    """Corpus × (small broadcast set) via an always-zero equi join key.

    Semantically a cross join, but planned as a BroadcastHashJoin instead
    of a BroadcastNestedLoopJoin — the hash probe on a single-valued key
    is essentially free, and plan audits can assert no BNLJ node appears
    anywhere in the similarity layer. The key is ``id % 1`` (0 for every
    row) — column-DERIVED so constant folding can't collapse the equality
    back into a cross join, as it does for a literal key.
    """
    key = "_xk"
    return (
        left.withColumn(key, F.col(left_id) % F.lit(1))
        .join(F.broadcast(right.withColumn(key, F.col(right_id) % F.lit(1))), key)
        .drop(key)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the corpus.

    One pass over the corpus per partition, no shuffle of the corpus
    side; the only shuffle is the final per-query top-k (tiny). Norms
    are computed ONCE per vector (not per pair) — per pair only the dot
    product remains. Zero-norm vectors are excluded on both sides (no
    direction ⇒ cosine undefined; ANSI mode would raise on the divide).
    """
    from pyspark.sql.window import Window as W

    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qv")
        )
        .withColumn("qn", norm(F.col("qv")))
        .filter(F.col("qn") > 0)
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cv")
        )
        .withColumn("cn", norm(F.col("cv")))
        .filter(F.col("cn") > 0)
    )
    scored = (
        _broadcast_all_pairs(c, q, "neighbor_id", "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_vectorized(F.col("qv"), F.col("cv"))
             / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_dims: int = 16,
    coarse_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: Matryoshka-truncated coarse search, exact full-dim
    rerank — the production pattern the truncation audit
    (plans/llm.emb_matryoshka_topk) exists to justify.

    Stage 1 scores the corpus on only the FIRST ``coarse_dims``
    components (the cheap prefix representation Matryoshka-trained
    embedding models provide) and keeps ``coarse_k`` candidates per
    query; stage 2 reranks ONLY those candidates with the exact
    fixed-point full-dimension cosine and returns the top ``k``.

    Scale shape: stage 1 is one corpus scan reading coarse_dims/dim of
    the vector bytes with coarse_dims/dim-cost dot products (at a
    columnar store the prefix can be a separate narrow column — then the
    full vectors are only fetched for candidates); stage 2 touches
    |queries| × coarse_k rows — the candidate set is BROADCAST back
    against the corpus, so the full-dim pass is a broadcast-hash probe
    on one corpus scan, no shuffle of the corpus side.

    Quality contract: recall@k vs the exact full-dim top-k is governed
    by coarse_k (the audit measures the coarse pass's overlap; raising
    coarse_k buys recall linearly in rerank cost). Zero-norm handling:
    the coarse stage excludes vectors whose PREFIX norm is zero (cosine
    undefined there — same rule as the audit); every coarse survivor has
    full norm ≥ prefix norm > 0, so the rerank can never hit a zero
    divide (ANSI-safe by construction).
    """
    from pyspark.sql.window import Window as W

    trunc = lambda df: df.select(  # noqa: E731
        F.col(id_col), F.slice(F.col(vec_col), 1, coarse_dims).alias(vec_col)
    )
    cand = (
        cosine_topk(trunc(corpus), trunc(queries), k=coarse_k,
                    id_col=id_col, vec_col=vec_col)
        .select("query_id", "neighbor_id")
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(F.col(vec_col)).alias("qv"),
        )
        .withColumn("qn", norm(F.col("qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    rescored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_vectorized(F.col("qv"), F.col("cv"))
             / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Assign every vector to its ``probes`` nearest centroids by cosine
    (IVF cells; probes > 1 = multi-probe, the standard recall knob).

    Centroids are broadcast; assignment is one corpus scan. Ties break
    on centroid id for determinism. Output carries the vector and its
    precomputed norm (``vnorm``) so downstream rescoring never recomputes
    norms per pair.

    Zero-norm vectors are EXCLUDED: they have no direction, so cosine
    assignment is undefined for them — under ANSI mode (Spark 4's
    default) the 0-divide would kill the whole job, and pre-ANSI it
    produced NaN similarities that compare differently in Spark SQL
    (NaN sorts high) vs numpy (NaN comparisons are False). Curation
    pipelines should route them through a quality filter instead.
    """
    c = (
        corpus.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
        .withColumn("vnorm", norm(F.col("v")))
        .filter(F.col("vnorm") > 0)
    )
    cent = (
        centroids.select(
            F.col(id_col).alias("centroid_id"),
            as_double_array(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cnorm", norm(F.col("cv")))
        .filter(F.col("cnorm") > 0)
    )
    scored = _broadcast_all_pairs(c, cent, id_col, "centroid_id").select(
        id_col,
        "v",
        "vnorm",
        "centroid_id",
        (dot_vectorized(F.col("v"), F.col("cv"))
         / (F.col("vnorm") * F.col("cnorm"))).alias("c_sim"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy(id_col).orderBy(F.desc("c_sim"), "centroid_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= probes)
        .select(id_col, "v", "vnorm", "centroid_id")
    )


def _lloyd_iteration(
    vectors: DataFrame,
    cents: list[tuple],
    vec_col: str,
    metric: str,
) -> list[tuple]:
    """One fused Lloyd iteration: assignment + per-cell fixed-point mean
    partials in a SINGLE Arrow crossing over only the vector column, then
    the exact davg finish in JVM aggregation. Returns the new
    [(centroid_id, [mean...]), ...] rows (bounded: ≤ k entries).

    Bit-identity with the plan-based reference construction (kept in
    tests/test_llm_ops.py, pinned by
    test_kmeans_fused_matches_plan_reference):

    - cosine scores: the per-term ``floor(x·y·1e12 + 0.5)`` values are
      integral doubles with |Σ| ≪ 2^53, so numpy's summation order gives
      the same exact total as the JVM fold (the dot_vectorized /
      sqdist_vectorized argument), and the final
      ``(Σ/SCALE) / (vnorm·cnorm)`` is the identical IEEE op sequence;
    - tie-breaks: centroids are scored in ascending centroid_id order and
      np.argmax/argmin take the FIRST max/min — exactly the reference's
      ``ORDER BY score, centroid_id`` row_number pick;
    - means: per-batch partial sums of ``floor(val·1e6 + 0.5)`` are exact
      int64 (|val| ~1e0 ⇒ ~1e10 per 10k-row batch); the JVM then sums the
      partials through exact DECIMAL and applies davg's own
      ``cast(double) / 1e6 / count`` — identical operands, identical ops,
      at ANY scale (partials overflow-safe far past 100 TB).
    """
    from flink_tank_spark.functions import numeric

    cents = sorted(cents, key=lambda r: r[0])
    cids = [r[0] for r in cents]
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in cents])
    if metric == "cosine":
        cn = np.sqrt(np.floor(C * C * SCALE + 0.5).sum(axis=1) / SCALE)
        keep_c = cn > 0
        cids = [c for c, k_ in zip(cids, keep_c) if k_]
        C, cn = C[keep_c], cn[keep_c]
    if len(cids) == 0:
        return []
    cid_arr = list(cids)
    nscale = numeric.SCALE

    def partials(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _np.stack(pdf["_v"].to_numpy()).astype(_np.float64, copy=False)
            if metric == "cosine":
                vn = _np.sqrt(_np.floor(V * V * SCALE + 0.5).sum(axis=1) / SCALE)
                keep = vn > 0
                V, vnk = V[keep], vn[keep]
                if V.shape[0] == 0:
                    continue
                sims = (
                    _np.floor(V[:, None, :] * C[None, :, :] * SCALE + 0.5).sum(axis=2)
                    / SCALE
                    / (vnk[:, None] * cn[None, :])
                )
                best = _np.argmax(sims, axis=1)
            else:
                d = V[:, None, :] - C[None, :, :]
                dist = _np.floor(d * d * SCALE + 0.5).astype(_np.int64).sum(axis=2)
                best = _np.argmin(dist, axis=1)
            sv = _np.floor(V * nscale + 0.5).astype(_np.int64)
            rows = []
            for j in _np.unique(best):
                sel = sv[best == j]
                ps = sel.sum(axis=0)
                n = int(sel.shape[0])
                cid = cid_arr[int(j)]
                rows.extend(
                    (cid, int(dnum), int(ps[dnum]), n) for dnum in range(ps.shape[0])
                )
            if rows:
                yield _pd.DataFrame(rows, columns=["centroid_id", "dim", "psum", "cnt"])

    part_df = vectors.select(
        as_double_array(F.col(vec_col)).alias("_v")
    ).mapInPandas(partials, schema="centroid_id long, dim int, psum long, cnt long")
    # davg finish, verbatim ops: SUM(exact decimal) → cast double → /SCALE → /count
    agg = (
        part_df.groupBy("centroid_id", "dim")
        .agg(
            (
                F.sum(F.col("psum").cast("decimal(30,0)")).cast("double")
                / F.lit(nscale)
                / F.sum("cnt")
            ).alias("mval")
        )
        .collect()
    )
    by_cell: dict = {}
    for r in agg:
        by_cell.setdefault(r["centroid_id"], {})[r["dim"]] = r["mval"]
    out = []
    for cid in sorted(by_cell):
        dims = by_cell[cid]
        out.append((cid, [dims[d] for d in sorted(dims)]))
    return out


def _train_centroids_driver(
    vectors: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    metric: str,
) -> DataFrame:
    """Driver-coordinated Lloyd loop shared by :func:`kmeans_centroids`
    (cosine) and :func:`kmeans_centroids_l2`. Per iteration it runs ONE
    distributed job (the fused crossing of :func:`_lloyd_iteration`) and
    collects only the k×dim mean rows — a BOUNDED driver collect (k ≤ 16,
    dim ≤ 64 here; centroids are broadcast-sized by design at any corpus
    scale), the same guide-§5 envelope as the BPE trainer's bounded
    collect. The corpus itself never leaves the executors."""
    seeds = (
        vectors.orderBy(F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            as_double_array(F.col(vec_col)).alias("cv"),
        )
    )
    schema = seeds.schema
    cents = [(r["centroid_id"], list(r["cv"])) for r in seeds.collect()]
    for _ in range(iters):
        cents = _lloyd_iteration(vectors, cents, vec_col, metric)
    spark = vectors.sparkSession
    return spark.createDataFrame(cents, schema=schema)


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means → (centroid_id, cv).

    Designed to be ORACLE-REPRODUCIBLE (and cluster-reproducible), which
    rules out k-means||'s random seeding and raw-double means:

    - init: the ``k`` smallest-id vectors (deterministic seed set; a
      sort-limit — works on sparse or offset id spaces, unlike a
      ``id < k`` filter);
    - assign: nearest centroid by the fixed-point cosine (ties → lowest
      centroid id);
    - update: per-(cell, dim) mean through the exact fixed-point sum
      (functions/numeric.davg), so the new centroids are bit-identical
      under ANY partitioning and in the DuckDB oracle mirror.

    Cells that lose all members drop out (both engines drop identically).

    Executed as a driver-coordinated loop: one fused Arrow crossing per
    iteration instead of a per-iteration broadcast-join → window →
    posexplode plan that re-nests inside every later iteration's
    broadcast. tests/test_llm_ops.py keeps that plan-based construction
    (``kmeans_centroids_plan``) and pins this trainer bit-equal to it.
    Plan effect on emb_ivf_kmeans_topk: the trained centroids enter the
    final assignment as a LocalTableScan, so the query plan carries ONE
    assignment pass instead of the nested training tree (12 → ≤2 Python
    nodes); emb_pq_topk drops ~4× more."""
    return _train_centroids_driver(vectors, k, iters, id_col, vec_col, "cosine")


def cell_blocked_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact pairwise cosine INSIDE each IVF cell via a per-cell blocked
    matmul (``applyInPandas``), emitting only pairs >= threshold.

    Why not join-the-vectors-onto-candidate-pairs (the naive rescore):
    with per-cell population t the candidate join materializes ~t²/2
    rows per cell EACH carrying two full vectors through the shuffle and
    Arrow — at 100k vectors that is ~100 GB of vector payload for ~100 M
    candidates. Here every vector crosses Arrow ONCE PER PROBE (the
    grouped cell rows), the pairwise fixed-point dot runs as chunked
    numpy inside the cell, and only above-threshold pairs come back —
    measured 225 s -> ~30 s cold on the 100 k-vector corpus.

    Bit-exactness: identical expression to dot_vectorized/_sql_cosine —
    floor(x·y·1e12 + 0.5) terms are integral doubles summed order-free,
    then one IEEE division by the JVM-computed norms carried on the
    input rows. Multi-probe duplicates (a pair sharing 2 cells) produce
    IDENTICAL rows, removed by the final distinct.

    Zero-norm vectors are dropped before pairing: their cosine is NaN
    (0/0) in every engine, and numpy's ``cos >= threshold`` is False for
    NaN while Spark SQL's NaN ordering (NaN > any value) would pass it —
    excluding them up front makes the two paths agree and matches the
    oracle (DuckDB also yields NULL/NaN there).

    Memory contract: ``applyInPandas`` materializes one CELL per task, so
    peak per-task memory is O(cell_population × dim) for the group plus
    the bounded (chunk, m, dim) product intermediate. The adaptive cell
    count in plans/llm.py (``max(32, ceil(n/500))``) keeps population
    ~500; callers passing explicit centroids with hot/skewed cells must
    cap or salt oversized cells themselves (a 10M-vector cell WILL blow
    an executor).
    """
    out_schema = "id_a long, id_b long, cos_sim double"
    _empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                           "id_b": pd.Series(dtype="int64"),
                           "cos_sim": pd.Series(dtype="float64")})

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["vnorm"] > 0.0]  # zero-norm ⇒ NaN cosine; see docstring
        m = len(pdf)
        if m < 2:
            return _empty
        ids = pdf[id_col].to_numpy()
        v = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        nrm = pdf["vnorm"].to_numpy()
        frames = []
        # chunk rows to bound the (chunk, m, dim) intermediate
        step = max(1, int(8_000_000 / (m * v.shape[1]) ) )
        for i0 in range(0, m, step):
            chunk = v[i0 : i0 + step]
            dots = (
                np.floor(chunk[:, None, :] * v[None, :, :] * SCALE + 0.5).sum(axis=2)
                / SCALE
            )
            cos = dots / (nrm[i0 : i0 + step, None] * nrm[None, :])
            ia = ids[i0 : i0 + step, None]
            ib = ids[None, :]
            keep = (ia < ib) & (cos >= threshold)
            r, c = np.nonzero(keep)
            if len(r):
                frames.append(
                    pd.DataFrame(
                        {"id_a": ia[r, 0], "id_b": ids[c], "cos_sim": cos[r, c]}
                    )
                )
        return pd.concat(frames) if frames else _empty

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(per_cell, schema=out_schema)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): per-subspace L2 codebooks → reconstructed ADC
# ---------------------------------------------------------------------------
# Jégou/Douze/Schmid "Product Quantization for Nearest Neighbor Search"
# (TPAMI 2011): split each vector into M subspaces, k-means each subspace
# into a tiny codebook, store M one-byte codes per vector — 64 dims of
# float32 become 4 bytes (64x compression) and distances are computed
# against codebook RECONSTRUCTIONS. PQ trains/assigns in L2 (unlike the
# IVF path's cosine cells): magnitude matters for reconstruction, and L2
# is total — zero subvectors are ordinary points, no zero-norm exclusion.


def fp_sqdist(a: Column, b: Column) -> Column:
    """Exact fixed-point squared L2: per-dim floor((x-y)^2 * 1e12 + 0.5)
    summed as integers — an exact BIGINT any partitioning or engine
    reproduces bit-for-bit (no final division: ranking uses the raw
    scaled integer)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.floor((x - y) * (x - y) * F.lit(SCALE) + F.lit(0.5))
            .cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sqdist_vectorized(a: Column, b: Column) -> Column:
    """Arrow-batched fixed-point squared L2 — BIT-IDENTICAL to
    :func:`fp_sqdist` (pinned in tests/test_scale_ops.py): every scaled
    term floor((x-y)^2·1e12 + 0.5) is an exact int64 ≪ 2^53, so numpy's
    summation order cannot change the integer total; subtract, multiply
    and floor are correctly-rounded IEEE ops in both runtimes."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sq_fp(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xa = np.stack(xs.to_numpy())
        ya = np.stack(ys.to_numpy())
        d = xa - ya
        return pd.Series(
            np.floor(d * d * SCALE + 0.5).astype(np.int64).sum(axis=1)
        )

    return _sq_fp(a, b)


def l2_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, centroid_id): nearest centroid by exact fixed-point
    squared L2, ties broken by lowest centroid id. Broadcast-hash pass
    like ivf_assign; no zero-norm filter (L2 is defined everywhere)."""
    from pyspark.sql.window import Window as W

    v = vectors.select(id_col, as_double_array(F.col(vec_col)).alias("_v"))
    c = centroids.select(
        F.col("centroid_id"), as_double_array(F.col("cv")).alias("_c")
    )
    scored = _broadcast_all_pairs(v, c, id_col, "centroid_id").select(
        id_col, "centroid_id",
        sqdist_vectorized(F.col("_v"), F.col("_c")).alias("_d"),
    )
    w = W.partitionBy(id_col).orderBy("_d", "centroid_id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, "centroid_id")
    )


def kmeans_centroids_l2(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means under L2: the construction of
    :func:`kmeans_centroids` (k smallest-id seeds, fixed-point davg
    means, one fused Arrow crossing per iteration) with the assignment
    metric swapped to exact fixed-point squared L2 (:func:`l2_assign`).
    No zero-norm filter: L2 is defined everywhere, and assignment and
    scaled means come from the SAME in-batch rows. Pinned bit-equal to
    the plan-based ``kmeans_centroids_l2_plan`` in tests/test_llm_ops.py."""
    return _train_centroids_driver(vectors, k, iters, id_col, vec_col, "l2")


def pq_train_codebooks(
    vectors: DataFrame,
    m_sub: int = 4,
    sub_dim: int = 16,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[DataFrame]:
    """Train ALL ``m_sub`` per-subspace L2 codebooks in ONE fused Lloyd
    loop: one seeds collect + one corpus pass per iteration covering
    every subspace, instead of per-subspace training (which cost
    m_sub x (1 + iters) corpus-scanning jobs — 8 scans + 4 seed collects
    for the PQ default; now iters scans + 1). The subspaces are
    independent slices, so each one's assignment/means inside the shared
    crossing are exactly :func:`kmeans_centroids_l2`'s — pinned bit-equal,
    per slice, to the plan-based ``kmeans_centroids_l2_plan`` kept in
    tests/test_llm_ops.py (test_pq_codebooks_match_per_subspace_trainer).

    Returns one (centroid_id, cv) DataFrame per subspace, same as
    calling :func:`kmeans_centroids_l2` on each slice."""
    from flink_tank_spark.functions import numeric

    spark = vectors.sparkSession
    seeds = (
        vectors.orderBy(F.col(id_col))
        .limit(codes)
        .select(
            F.col(id_col).alias("centroid_id"),
            as_double_array(F.col(vec_col)).alias("cv"),
        )
    )
    schema = seeds.schema
    seed_rows = seeds.collect()
    # cents[m]: sorted [(cid, subvector)] — slicing the k smallest-id
    # seeds equals seeding on the sliced table (same ids, sliced values)
    cents: list[list[tuple]] = [
        [
            (r["centroid_id"], list(r["cv"])[m * sub_dim : (m + 1) * sub_dim])
            for r in seed_rows
        ]
        for m in range(m_sub)
    ]
    nscale = numeric.SCALE

    for _ in range(iters):
        per_sub = []
        for m in range(m_sub):
            rows = sorted(cents[m], key=lambda r: r[0])
            per_sub.append(
                (
                    [r[0] for r in rows],
                    np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]),
                )
            )

        def partials(batches):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = _np.stack(pdf["_v"].to_numpy()).astype(_np.float64, copy=False)
                rows = []
                for m in range(m_sub):
                    cids, C = per_sub[m]
                    if len(cids) == 0:
                        continue
                    Vm = V[:, m * sub_dim : (m + 1) * sub_dim]
                    d = Vm[:, None, :] - C[None, :, :]
                    dist = _np.floor(d * d * SCALE + 0.5).astype(_np.int64).sum(axis=2)
                    best = _np.argmin(dist, axis=1)
                    sv = _np.floor(Vm * nscale + 0.5).astype(_np.int64)
                    for j in _np.unique(best):
                        sel = sv[best == j]
                        ps = sel.sum(axis=0)
                        n = int(sel.shape[0])
                        cid = cids[int(j)]
                        rows.extend(
                            (m, cid, int(dnum), int(ps[dnum]), n)
                            for dnum in range(ps.shape[0])
                        )
                if rows:
                    yield _pd.DataFrame(
                        rows, columns=["m", "centroid_id", "dim", "psum", "cnt"]
                    )

        part_df = vectors.select(
            as_double_array(F.col(vec_col)).alias("_v")
        ).mapInPandas(
            partials, schema="m int, centroid_id long, dim int, psum long, cnt long"
        )
        agg = (
            part_df.groupBy("m", "centroid_id", "dim")
            .agg(
                (
                    F.sum(F.col("psum").cast("decimal(30,0)")).cast("double")
                    / F.lit(nscale)
                    / F.sum("cnt")
                ).alias("mval")
            )
            .collect()
        )
        by_sub: dict = {m: {} for m in range(m_sub)}
        for r in agg:
            by_sub[r["m"]].setdefault(r["centroid_id"], {})[r["dim"]] = r["mval"]
        cents = [
            [
                (cid, [by_sub[m][cid][d] for d in sorted(by_sub[m][cid])])
                for cid in sorted(by_sub[m])
            ]
            for m in range(m_sub)
        ]
    return [spark.createDataFrame(cents[m], schema=schema) for m in range(m_sub)]


def pq_reconstruct(
    vectors: DataFrame,
    m_sub: int = 4,
    sub_dim: int = 16,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode then decode: per subspace train a ``codes``-entry L2
    codebook, assign every vector its nearest codeword, and reconstruct
    (id_col, rvec = concat of the M codewords). The reconstruction IS
    what ADC scores against — scoring rvec with the ordinary exact
    cosine machinery is asymmetric-distance computation with the lookup
    tables left implicit. Storage story at 100 TB: the codes table is
    M log2(codes) bits/vector (4 bytes here vs 256) and the codebooks
    are M×codes×sub_dim doubles — broadcast-sized at any corpus."""
    books = pq_train_codebooks(
        vectors, m_sub=m_sub, sub_dim=sub_dim, codes=codes, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    out = None
    for m in range(m_sub):
        sub = vectors.select(
            id_col,
            F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim).alias(vec_col),
        )
        part = (
            l2_assign(sub, books[m], id_col=id_col, vec_col=vec_col)
            .join(F.broadcast(books[m]), "centroid_id")
            .select(id_col, F.col("cv").alias(f"_p{m}"))
        )
        out = part if out is None else out.join(part, id_col)
    return out.select(
        id_col,
        F.concat(*[F.col(f"_p{m}") for m in range(m_sub)]).alias("rvec"),
    )


# --------------------------------------------------------------------------
# Signed-random-projection (SRP) LSH — hyperplane buckets for cosine ANN
# --------------------------------------------------------------------------

SRP_SCALE = 1_000_000.0  # per-component fixed-point scale for sign sums


def srp_weights(n_planes: int, dim: int) -> "np.ndarray":
    """Deterministic Rademacher (±1) hyperplane matrix, (n_planes, dim).

    Entry (p, i) is +1 iff the last hex digit of md5("p:i") is even —
    a public, content-addressed pseudo-random source (the same md5
    convention the MinHash permutations use), so ANY runtime (the
    engine, the DuckDB oracle literal table, a future reimplementation)
    regenerates the identical matrix with no shipped state. ±1 entries
    (Charikar's SRP admits any symmetric distribution) keep the
    projection in EXACT integer arithmetic: with components scaled to
    micro-unit BIGINTs the plane sum is ±sums of integers — partition-
    order-independent, no float dot product anywhere in the hash path.
    """
    import hashlib

    w = np.empty((n_planes, dim), dtype=np.int64)
    for p in range(n_planes):
        for i in range(dim):
            last = hashlib.md5(f"{p}:{i}".encode()).hexdigest()[-1]
            w[p, i] = 1 if int(last, 16) % 2 == 0 else -1
    return w


def srp_band_keys(
    vec_col: Column, n_planes: int = 24, n_bands: int = 6, dim: int = 64
) -> Column:
    """The banded SRP keys of an embedding: array of ``n_bands`` BIGINTs,
    band b's key = ``(b << 56) + value of its rows' sign bits``
    (disjoint bit ranges, so ``+`` is the band tag — no cross-engine
    bitwise-or semantics to match). The tag sits at bit 56 so the
    disjointness invariant holds for every supported width (data bits
    0..55, tag 56..61); the guards below fail loudly instead of letting
    wide-band data bits silently carry into the tag and collide
    ACROSS bands — output would stay correct (exact rescore follows)
    but candidate volume would inflate exactly at the corpus sizes
    where the docstrings recommend widening the bands.

    Banding is MinHash-LSH's OR-amplification applied to hyperplane
    signs: two vectors are candidates iff ANY band agrees on all its
    rows — collision prob 1-(1-p^r)^b for per-plane agreement
    p = 1 - θ/π (Charikar), the knob that trades candidate volume for
    recall without Hamming-ball probe explosion.

    Arrow-batched pandas_udf (the similarity layer's sanctioned Python
    crossing, like dot_vectorized): per vector a dim×n_planes integer
    matmul — interpreted HOFs would pay a closure call per cell.
    All-integer pipeline: scale → int64 → matmul (exact;
    |s| ≤ dim·1e6·max|x| ≪ 2^63) → sign bits → packed band values.
    """
    from pyspark.sql.functions import pandas_udf

    if n_planes % n_bands != 0:
        raise ValueError(
            f"n_planes={n_planes} not divisible by n_bands={n_bands}: "
            "leftover planes would be silently dropped"
        )
    rows = n_planes // n_bands
    if rows > 56:
        raise ValueError(f"rows-per-band {rows} > 56: data bits would hit the band tag")
    if n_bands > 63:
        raise ValueError(f"n_bands {n_bands} > 63: band tag would overflow int64")
    w_t = srp_weights(n_planes, dim).T  # (dim, n_planes)
    shifts = np.arange(rows, dtype=np.int64)

    @pandas_udf("array<long>")
    def _keys(xs: pd.Series) -> pd.Series:
        xa = np.stack(xs.to_numpy()).astype(np.float64)
        xi = np.floor(xa * SRP_SCALE + 0.5).astype(np.int64)
        bits = (xi @ w_t >= 0).astype(np.int64)  # (n, n_planes)
        keys = np.stack(
            [
                (bits[:, b * rows : (b + 1) * rows] << shifts).sum(axis=1)
                + (b << 56)
                for b in range(n_bands)
            ],
            axis=1,
        )
        return pd.Series(list(keys))

    return _keys(vec_col)


def _probe_combos(n_bands: int, rows: int) -> list[tuple[int, int, int]]:
    """The fixed perturbation universe for multi-probe SRP: every 1-bit
    and 2-bit flip WITHIN a band, pre-sorted by (band, r1, r2) so a
    stable sort on margin gives the same tie order as the oracle's
    ORDER BY margin, band, r1, r2. Returns (band, r1, r2) with r2 = -1
    for single flips."""
    combos: list[tuple[int, int, int]] = []
    for b in range(n_bands):
        for r1 in range(rows):
            combos.append((b, r1, -1))
        for r1 in range(rows):
            for r2 in range(r1 + 1, rows):
                combos.append((b, r1, r2))
    combos.sort()
    return combos


def srp_probe_keys(
    vec_col: Column,
    n_planes: int = 24,
    n_bands: int = 6,
    dim: int = 64,
    n_probes: int = 8,
) -> Column:
    """Multi-probe SRP query keys: the ``n_bands`` base band keys PLUS
    the ``n_probes`` perturbed keys most likely to hold missed
    neighbors — the standard multi-probe LSH construction (Lv et al.
    2007, public) adapted to banded hyperplane signs.

    A sign bit is uncertain exactly when the projection lands near the
    hyperplane, and the probability a true neighbor sits on the other
    side decays with the margin |s|. So the probe sequence enumerates
    1-bit and 2-bit flips within each band, ranked by the SUM of the
    flipped planes' |margins| ascending (exact int64 sums — the ranking
    is bit-reproducible and mirrored verbatim in the DuckDB oracle),
    deterministically tie-broken by (band, r1, r2). Flipping is XOR on
    the band key's data bits; the band tag (bit 56+) is untouched, so
    probes only ever match candidates hashed into the SAME band's
    table.

    Query-side only: the corpus keeps one key per band (the index is
    unchanged); multi-probe trades a few extra lookups per query for
    the recall that would otherwise need more tables (bands). Applied
    to the same Arrow-batched integer pipeline as srp_band_keys.
    """
    from pyspark.sql.functions import pandas_udf

    if n_planes % n_bands != 0:
        raise ValueError(
            f"n_planes={n_planes} not divisible by n_bands={n_bands}"
        )
    rows = n_planes // n_bands
    if rows > 56:
        raise ValueError(f"rows-per-band {rows} > 56: data bits would hit the band tag")
    combos = _probe_combos(n_bands, rows)
    if n_probes > len(combos):
        raise ValueError(
            f"n_probes={n_probes} exceeds the {len(combos)} 1/2-bit flips"
        )
    w_t = srp_weights(n_planes, dim).T  # (dim, n_planes)
    shifts = np.arange(rows, dtype=np.int64)
    combo_band = np.array([b for b, _, _ in combos], dtype=np.int64)
    combo_p1 = np.array([b * rows + r1 for b, r1, _ in combos], dtype=np.int64)
    combo_p2 = np.array(
        [b * rows + r2 if r2 >= 0 else -1 for b, _, r2 in combos],
        dtype=np.int64,
    )
    combo_mask = np.array(
        [
            (1 << r1) | ((1 << r2) if r2 >= 0 else 0)
            for _, r1, r2 in combos
        ],
        dtype=np.int64,
    )

    @pandas_udf("array<long>")
    def _keys(xs: pd.Series) -> pd.Series:
        xa = np.stack(xs.to_numpy()).astype(np.float64)
        xi = np.floor(xa * SRP_SCALE + 0.5).astype(np.int64)
        s = xi @ w_t  # (n, n_planes) exact int64 margins
        bits = (s >= 0).astype(np.int64)
        base = np.stack(
            [
                (bits[:, b * rows : (b + 1) * rows] << shifts).sum(axis=1)
                + (b << 56)
                for b in range(n_bands)
            ],
            axis=1,
        )  # (n, n_bands)
        a = np.abs(s)
        margins = a[:, combo_p1] + np.where(
            combo_p2 >= 0, a[:, np.maximum(combo_p2, 0)], 0
        )  # (n, n_combos)
        # stable sort + combos pre-ordered by (band, r1, r2) == the
        # oracle's ORDER BY margin, band, r1, r2
        order = np.argsort(margins, axis=1, kind="stable")[:, :n_probes]
        probe = (
            np.take_along_axis(base[:, combo_band], order, axis=1)
            ^ combo_mask[order]
        )
        return pd.Series(list(np.concatenate([base, probe], axis=1)))

    return _keys(vec_col)


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 24,
    n_bands: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 0,
    c_prep: DataFrame | None = None,
    c_keys: DataFrame | None = None,
) -> DataFrame:
    """Banded SRP-LSH approximate cosine top-k with exact rerank.

    Candidates = corpus vectors sharing ≥1 of the query's band keys
    (equi-join on band key, DISTINCT pairs — a pair can collide in
    several bands); exact fixed-point cosine reranks candidates only.
    The blocking scheme complementary to IVF (two_stage_topk / the
    kmeans family): no training pass, no centroid state — the hash IS
    the index, so it extends to streaming ingest with zero maintenance.
    Work is Σ band-bucket² join output, linear in the corpus for any
    fixed band population; never an all-pairs product.

    ``c_prep`` / ``c_keys`` (r15): optionally supply the prepared corpus
    table (neighbor_id, cv, cn — zero-norm rows already dropped) and the
    exploded (neighbor_id, band_key) index, e.g. session-staged by
    plans/srp.py. "The hash IS the index" cuts both ways: a deployment
    materializes the band-key table once and serves every query batch
    from it instead of re-hashing the corpus per batch (the lsh
    ``sigs=`` / retrieval ``posts=`` pattern). Values are identical —
    these are the same expressions, just persisted. When supplied they
    MUST have been built with the same n_planes/n_bands/dim.

    Quality envelope (honesty note, measured in emb_srp_recall): on
    clustered corpora where true neighbors sit at cos ≥ 0.8 (per-plane
    agreement ≥ 0.80), 6 bands × 4 rows hits ≥ 0.95 of them. The
    SYNTHETIC test embeddings are near-isotropic — true top-5 cosines
    ≈ 0.3, per-plane agreement ≈ 0.61 vs 0.50 random — so angle-LSH
    lift is intrinsically bounded there (measured recall@5 ≈ 0.5 at a
    ≈ 0.33 candidate fraction), the same corpus property the PQ ADC
    audit documents.
    """
    from pyspark.sql.window import Window as W

    c = c_prep if c_prep is not None else (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv")))
        .filter(F.col("cn") > 0)
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(F.col(vec_col)).alias("qv"),
        )
        .withColumn("qn", norm(F.col("qv")))
        .filter(F.col("qn") > 0)
    )
    if c_keys is None:
        c_keys = c.select(
            "neighbor_id",
            F.explode(srp_band_keys(F.col("cv"), n_planes, n_bands, dim)).alias(
                "band_key"
            ),
        )
    q_key_col = (
        srp_probe_keys(F.col("qv"), n_planes, n_bands, dim, n_probes)
        if n_probes > 0
        else srp_band_keys(F.col("qv"), n_planes, n_bands, dim)
    )
    # all keys are pairwise distinct by construction: probes differ from
    # their band's base key by 1-2 data bits, bands by the tag bits
    q_keys = q.select("query_id", F.explode(q_key_col).alias("band_key"))
    cand = (
        c_keys.join(F.broadcast(q_keys), "band_key")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # Rescore join strategy stays AQE's call (r14 note): the candidate
    # table is NOT bounded small — the measured candidate fraction is
    # ~0.33 of the corpus per query — so a pinned broadcast would OOM
    # at 100 TB; at bench SFs AQE's runtime size check already converts
    # this sort-merge join to a broadcast join on its own.
    scored = (
        cand.join(F.broadcast(q.select("query_id", "qv", "qn")), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_vectorized(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("integer"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def srp_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.45,
    n_planes: int = 48,
    n_bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 0,
) -> DataFrame:
    """Banded-SRP-blocked near-duplicate pairs with exact rescoring —
    the stateless alternative to the IVF blocking of
    cell_blocked_pairs: no centroid training, no drift, the hash IS the
    index.

    Candidates = vectors sharing ≥1 band key (equi-join, id_a < id_b,
    DISTINCT over multi-band collisions), verified by the exact
    fixed-point cosine at ``threshold``. Work is Σ band-bucket² join
    output, so the BAND WIDTH is the scale knob: each band's key space
    is 2^(n_planes/n_bands), and bucket populations stay bounded only
    while bits-per-band ≳ log2(corpus). The default 4×12 keeps ~tens of
    candidates per vector at the 20k-vector test scale with 0.69
    blocking recall on the planted cos≈0.9 near-dups (measured,
    SRP_RECALL_r09.jsonl); at 100 TB widen the bands with the corpus
    (more planes costs only hash bits, not state). Unlike MinHash bands
    (content-hash entropy per band) sign bits carry ~1 bit each, so
    SRP blocking recall DECAYS as bands widen — when recall dominates,
    prefer the IVF near-dup path (cell_blocked_pairs, 0.94 planted
    recall); this operator is the zero-state streaming niche."""
    v = (
        vectors.select(
            F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
        )
        .withColumn("vn", norm(F.col("v")))
        .filter(F.col("vn") > 0)
    )
    keys = v.select(
        id_col,
        F.explode(srp_band_keys(F.col("v"), n_planes, n_bands, dim)).alias(
            "band_key"
        ),
    )
    a = keys.select(F.col(id_col).alias("id_a"), "band_key")
    b = keys.select(F.col(id_col).alias("id_b"), "band_key")
    cand = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if n_probes > 0:
        # multi-probe for pair MINING: every vector additionally probes
        # the buckets at its n_probes lowest-|margin| 1/2-bit flips (the
        # srp_topk construction applied symmetrically). A pair (x, y) is
        # caught if any base band agrees OR either side's probe lands in
        # the other's base bucket — the index itself is unchanged, so
        # the streaming zero-maintenance property is preserved.
        probe_keys = v.select(
            F.col(id_col).alias("id_p"),
            F.explode(
                F.slice(
                    srp_probe_keys(F.col("v"), n_planes, n_bands, dim, n_probes),
                    n_bands + 1,
                    n_probes,
                )
            ).alias("band_key"),
        )
        pb = (
            probe_keys.join(b, "band_key")
            .filter(F.col("id_p") != F.col("id_b"))
            .select(
                F.least("id_p", "id_b").alias("id_a"),
                F.greatest("id_p", "id_b").alias("id_b"),
            )
        )
        cand = cand.unionByName(pb)
    cand = cand.distinct()
    va = v.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("vn").alias("na")
    )
    vb = v.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("vn").alias("nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot_vectorized(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
