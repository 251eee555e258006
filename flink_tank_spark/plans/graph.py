"""Graph-analytics queries over the document similarity graph.

Extension surface: iterative graph algorithms expressed as DataFrame
plans — the category GraphX/Pregel covers on the JVM, here kept inside
Catalyst so the per-iteration joins get AQE/broadcast planning like any
other query. Nodes are documents; edges are the LSH-verified near-dup
pairs (the SAME shared stage doc_lsh_near_dups / doc_dedup_groups /
doc_split_leakage run on — pair detection runs once per session, this
module adds zero extra shuffle for it).

Oracle strategy: the engine computes in scaled BIGINTs (see
operators/graph.py determinism contract), and the DuckDB mirror unrolls
the same fixed iteration count as MATERIALIZED CTEs over the shared
LSH-pair CTE block — the k-means / PQ oracle pattern applied to graph
iteration.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators import graph
from flink_tank_spark.plans import shared
from flink_tank_spark.plans.llm import (
    _CC_CTES,
    _CC_FINAL,
    _CC_GUARD,
    LSH_PAIRS_CTES,
    _lsh_verified_pairs,
)
from flink_tank_spark.plans.registry import QuerySpec

PR_ITERS = 5
PR_TOPN = 25


def _pr_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: the full (doc_id, degree, pr_scaled) rank table —
    doc_pagerank and doc_canonical_by_pr both read it, so the iteration
    chain runs once per session."""

    def build() -> DataFrame:
        def build_edges() -> DataFrame:
            pairs = _lsh_verified_pairs(spark, sf_dir)
            return pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ).union(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
            )

        # The iteration loop references the edge list once per round; a
        # persisted stage makes each reference an InMemoryTableScan
        # instead of re-deriving the (md5-heavy) pair pipeline 5× (the
        # multi-branch DAG re-evaluation cost, see plans/shared.py).
        edges = shared.stage(spark, "doc_pagerank_edges", (sf_dir,), build_edges)
        nodes = load_table(spark, sf_dir, "documents").select("doc_id")
        return graph.pagerank_scaled(nodes, edges, id_col="doc_id", iters=PR_ITERS)

    return shared.stage(spark, "doc_pagerank_ranks", (sf_dir,), build)


def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-graph centrality: 5-iteration damped PageRank over the
    LSH-verified near-dup graph, top 25 docs. The curation use: inside a
    duplicate cluster the highest-PR member is the best canonical pick
    (doc_canonical_by_pr materializes exactly that); corpus-wide,
    high-PR docs flag templated/boilerplate families exact dedup missed.

    Scale shape: per iteration one edge⋈rank equi-join + one groupBy
    sum — O(edges) shuffled work per round, 5 rounds; the final top-25
    is orderBy+limit (TakeOrderedAndProject), with the row_number window
    applied only to the already-limited 25-row frame."""
    top = (
        _pr_ranks(spark, sf_dir)
        .orderBy(F.col("pr_scaled").desc(), "doc_id")
        .limit(PR_TOPN)
    )
    return top.withColumn(
        "rk",
        F.row_number()
        .over(W.orderBy(F.col("pr_scaled").desc(), "doc_id"))
        .cast("integer"),
    ).select("rk", "doc_id", "degree", "pr_scaled")


def _pr_iter_ctes(iters: int) -> str:
    """Unrolled PageRank iterations over CTEs ``edges_d`` (src, dst,
    deg) and ``nodes`` (doc_id), producing ``r{iters}`` = (doc_id,
    pr_scaled). Mirrors operators/graph.pagerank_scaled bit-for-bit:
    (pr * 17) // (20 * deg) is BIGINT floor division in DuckDB and
    ``div`` in Spark — identical on the non-negative ranks here."""
    parts = [
        "r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr_scaled FROM nodes)"
    ]
    for k in range(1, iters + 1):
        parts.append(dedent(f"""\
            c{k} AS MATERIALIZED (
              SELECT e.dst, SUM((r.pr_scaled * 17) // (20 * e.deg)) AS inc
              FROM edges_d e JOIN r{k - 1} r ON e.src = r.doc_id
              GROUP BY e.dst
            ),
            r{k} AS MATERIALIZED (
              SELECT n.doc_id,
                     CAST(150000 + COALESCE(c.inc, 0) AS BIGINT) AS pr_scaled
              FROM nodes n LEFT JOIN c{k} c ON n.doc_id = c.dst
            )"""))
    return ",\n    ".join(parts)


DOC_PAGERANK_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near_dups
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM near_dups
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    edges_d AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    nodes AS (SELECT doc_id FROM documents),
    {_pr_iter_ctes(PR_ITERS)},
    final AS (
      SELECT r.doc_id,
             CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
             r.pr_scaled
      FROM r{PR_ITERS} r LEFT JOIN deg d ON r.doc_id = d.src
    ),
    ranked AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr_scaled DESC, doc_id) AS INTEGER) AS rk,
             doc_id, degree, pr_scaled
      FROM final
    )
    SELECT rk, doc_id, degree, pr_scaled
    FROM ranked WHERE rk <= {PR_TOPN}
    ORDER BY rk
""")


def doc_canonical_by_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: for every duplicate GROUP
    (connected component of the near-dup graph) pick the member with
    the highest PageRank — the most-connected, most-representative doc
    — instead of doc_dedup_groups' arbitrary min-id convention. Ties
    break on doc_id, so the pick is deterministic.

    Shape: the CC labels and the rank table are both shared stages; this
    query adds one equi-join and a per-group row_number window (group
    sizes are bounded by the near-dup cluster size, never corpus-wide).
    """
    from flink_tank_spark.operators import dedup as dedup_ops

    pairs = _lsh_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    groups = dedup_ops.connected_components(pairs)
    pr = _pr_ranks(spark, sf_dir)
    scored = groups.join(pr, "doc_id").select(
        F.col("canon_id").alias("group_id"), "doc_id", "pr_scaled"
    )
    w = W.partitionBy("group_id").orderBy(F.col("pr_scaled").desc(), "doc_id")
    sizes = scored.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(sizes, "group_id")
        .select(
            "group_id",
            F.col("doc_id").alias("canonical_doc"),
            "pr_scaled",
            "n_members",
        )
        .orderBy("group_id")
    )


DOC_CANONICAL_BY_PR_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near_dups
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM near_dups
    ),
    {_CC_CTES},
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    edges_d AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    nodes AS (SELECT doc_id FROM documents),
    {_pr_iter_ctes(PR_ITERS)},
    members AS (SELECT node AS doc_id, lbl AS group_id FROM {_CC_FINAL}),
    scored AS (
      SELECT m.group_id, m.doc_id, r.pr_scaled
      FROM members m JOIN r{PR_ITERS} r USING (doc_id)
    ),
    picked AS (
      SELECT group_id, doc_id, pr_scaled,
             ROW_NUMBER() OVER (PARTITION BY group_id
                                ORDER BY pr_scaled DESC, doc_id) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT) AS n_members
      FROM scored
    )
    SELECT group_id, doc_id AS canonical_doc, pr_scaled, n_members
    FROM picked WHERE rk = 1
    UNION ALL
    -- unconverged propagation (diameter > rounds) fails the gate loudly
    SELECT -1, -1, -1, -1 WHERE {_CC_GUARD} > 0
    ORDER BY group_id
""")


def doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + local clustering coefficient per document over
    the LSH-verified near-dup graph — the cohesion signal next to CC
    (membership) and PageRank (centrality): a high clustering
    coefficient marks tight duplicate CLIQUES (template families, exact
    re-posts), a low one marks hub-like chains (boilerplate that
    near-matches many unrelated docs) — different curation actions.

    Scale shape: degree-ordered orientation (operators/graph.
    triangle_counts) keeps every wedge emitter's out-degree O(sqrt(m));
    all joins are equi hash joins over the SHARED session pair stage —
    no new corpus scan, no quadratic bucket work."""

    def build() -> DataFrame:
        pairs = _lsh_verified_pairs(spark, sf_dir).select("id_a", "id_b")
        return graph.triangle_counts(pairs, id_col="doc_id")

    out = shared.stage(spark, "doc_triangles", (sf_dir,), build)
    return out.orderBy("doc_id")


_TRI_ORIENT = "(da.deg < db.deg) OR (da.deg = db.deg AND e.src < e.dst)"

DOC_TRIANGLES_SQL = dedent(f"""
    WITH {LSH_PAIRS_CTES},
    edges AS (SELECT id_a AS src, id_b AS dst FROM near_dups),
    und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
    oriented AS MATERIALIZED (
      SELECT CASE WHEN {_TRI_ORIENT} THEN e.src ELSE e.dst END AS src,
             CASE WHEN {_TRI_ORIENT} THEN e.dst ELSE e.src END AS dst,
             CASE WHEN {_TRI_ORIENT} THEN db.deg ELSE da.deg END AS ddeg
      FROM edges e JOIN deg da ON e.src = da.src
                   JOIN deg db ON e.dst = db.src
    ),
    tris AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src
           AND ((e1.ddeg < e2.ddeg) OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    corners AS (
      SELECT a AS n FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    ),
    tpn AS (SELECT n, COUNT(*) AS n_tri FROM corners GROUP BY n)
    SELECT d.src AS doc_id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
           CAST(CASE WHEN d.deg >= 2
                     THEN (2 * COALESCE(t.n_tri, 0) * 1000000)
                          // (d.deg * (d.deg - 1))
                     ELSE 0 END AS BIGINT) AS cc_ppm
    FROM deg d LEFT JOIN tpn t ON d.src = t.n
    ORDER BY doc_id
""")


KCORE_K = 2
KCORE_ROUNDS = 32


def doc_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-core of the near-dup graph: docs that keep >= 2 near-dup
    neighbours after all peripheral chains peel away — the dense
    template-family membership set, with each member's within-core
    degree. Complements doc_triangles (local cliquishness) with the
    global density hierarchy.

    Scale shape: counted-fixpoint peeling, one degree groupBy + two
    semi joins per round over the SHARED session pair stage; lineage
    checkpoint-truncated per round (operators/graph.kcore)."""

    def build() -> DataFrame:
        pairs = _lsh_verified_pairs(spark, sf_dir).select("id_a", "id_b")
        return graph.kcore(pairs, k=KCORE_K, id_col="doc_id")

    out = shared.stage(spark, "doc_kcore", (sf_dir,), build)
    return out.orderBy("doc_id")


def _kcore_ctes(k: int, rounds: int) -> str:
    """Unrolled peeling over CTE ``e0`` (src, dst, both directions).
    Peeling is monotone and idempotent at fixpoint, so a fixed unroll
    >= the true peel depth yields the exact core; the guard CTE makes
    an unconverged unroll fail LOUDLY (sentinel row) instead of
    returning a too-large core."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e{i-1} GROUP BY src),\n"
            f"e{i} AS MATERIALIZED (\n"
            f"  SELECT e.src, e.dst FROM e{i-1} e\n"
            f"  JOIN d{i} a ON e.src = a.src AND a.d >= {k}\n"
            f"  JOIN d{i} b ON e.dst = b.src AND b.d >= {k}\n"
            f")"
        )
    return ",\n    ".join(parts)


DOC_KCORE_SQL = dedent(f"""
    WITH {{LSH_PAIRS_CTES}},
    e0 AS (
      SELECT id_a AS src, id_b AS dst FROM near_dups
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM near_dups
    ),
    {{KCORE_ROUND_CTES}},
    core AS (SELECT src, COUNT(*) AS d FROM e{{R}} GROUP BY src)
    SELECT src AS doc_id, CAST(d AS BIGINT) AS core_degree FROM core
    UNION ALL
    -- unconverged peel (depth > rounds) fails the gate loudly
    SELECT -1, -1 WHERE (SELECT COUNT(*) FROM core WHERE d < {{K}}) > 0
    ORDER BY doc_id
""").format(
    LSH_PAIRS_CTES=LSH_PAIRS_CTES,
    KCORE_ROUND_CTES=_kcore_ctes(KCORE_K, KCORE_ROUNDS),
    R=KCORE_ROUNDS,
    K=KCORE_K,
)


QUERIES = [
    QuerySpec(
        "doc_pagerank",
        doc_pagerank,
        DOC_PAGERANK_SQL,
        "5-iteration fixed-point PageRank over the LSH near-dup graph, top 25",
        ("llm", "graph", "dedup"),
        bench=True,
    ),
    QuerySpec(
        "doc_triangles",
        doc_triangles,
        DOC_TRIANGLES_SQL,
        "per-doc triangle count + clustering coefficient (ppm) on the near-dup graph",
        ("llm", "graph", "dedup"),
        bench=True,
    ),
    QuerySpec(
        "doc_kcore",
        doc_kcore,
        DOC_KCORE_SQL,
        "2-core of the near-dup graph via counted-fixpoint peeling",
        ("llm", "graph", "dedup"),
    ),
    QuerySpec(
        "doc_canonical_by_pr",
        doc_canonical_by_pr,
        DOC_CANONICAL_BY_PR_SQL,
        "per-duplicate-group canonical doc = highest-PageRank member",
        ("llm", "graph", "dedup"),
    ),
]
