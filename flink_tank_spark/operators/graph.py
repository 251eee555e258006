"""Iterative graph centrality (PageRank) as pure DataFrame ops.

The missing category next to connected components (operators/dedup.py):
CC answers "which docs are the same", PageRank answers "which docs are
CENTRAL in the similarity graph" — the signal curation pipelines use to
pick the canonical representative of a duplicate cluster or to weight
documents by how templated/hub-like they are.

Distributed shape (Pregel-style, expressed declaratively): per
iteration ONE equi-join of the edge list with the current rank vector
plus ONE groupBy(dst) sum — identical to the label-propagation shape
that already survives the sf5 invariance sweep for CC. Edges shuffle on
src/dst; no global windows, no driver-side collect, no all-pairs work.

Determinism contract (the gate's bit-exactness requirement): ranks are
SCALED BIGINTs (1.0 == 1_000_000) and every per-edge contribution is
``(rank * 17) div (20 * degree)`` — exact integer arithmetic with a
damping factor of 17/20 = 0.85, so the per-node sum is
partition-order-independent and the DuckDB oracle (``//`` floor
division; both engines truncate identically on non-negative operands)
reproduces it bit-for-bit. Float PageRank would differ in the last ulp
between engines AND between partitionings of the same engine.

Overflow envelope: total scaled mass is bounded by N * 1e6; a single
node's rank is below that, and the *17 stays under 2^63 for any corpus
below ~5e11 docs — comfortably past 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_tank_spark.plans import shared

PR_SCALE = 1_000_000  # scaled fixed-point: 1.0 == 1e6
PR_BASE = 150_000  # (1 - d) * SCALE with d = 0.85


def pagerank_scaled(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    iters: int = 5,
) -> DataFrame:
    """Fixed-iteration damped PageRank over an undirected edge list.

    ``nodes``: one row per vertex (column ``id_col``) — includes
    isolated vertices, which hold the base rank (1-d)*SCALE.
    ``edges``: directed (``src``, ``dst``) rows; callers pass both
    directions for an undirected graph. Returns (id_col, degree,
    pr_scaled) with degree 0 for isolated vertices.

    ``iters`` is a fixed unroll (the oracle mirrors the same count), not
    a convergence loop: rank queries want a reproducible snapshot, and
    five damped iterations already separate hubs from leaves. The plan
    depth is linear in ``iters`` (each round references the previous
    ranks once) — but the loop REFERENCES ``nodes`` iters+1 times and
    ``edges_d`` once per round, and un-materialized those subtrees
    re-evaluate per reference (profiled: six separate 64-task scan
    stages of the node list in one cold build). They are
    materialized once by :func:`shared.cut` (the triangle_counts/kcore
    discipline); checkpointed values are the computed values, so results
    are unchanged.
    """
    nodes = shared.cut(nodes.select(F.col(id_col)))
    deg = shared.cut(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    # Degree rides along with each edge so the per-iteration work is one
    # join against ranks + one aggregation; built once, reused per round.
    edges_d = shared.cut(edges.join(deg, "src"))

    ranks = nodes.select(
        F.col(id_col), F.lit(PR_SCALE).cast("long").alias("pr_scaled")
    )
    for _ in range(iters):
        contribs = (
            edges_d.join(
                ranks.select(
                    F.col(id_col).alias("src"), F.col("pr_scaled").alias("src_pr")
                ),
                "src",
            )
            .select(
                "dst",
                F.expr("(src_pr * 17) div (20 * deg)").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = nodes.join(
            contribs, nodes[id_col] == contribs["dst"], "left"
        ).select(
            nodes[id_col],
            (F.lit(PR_BASE) + F.coalesce(F.col("inc"), F.lit(0)))
            .cast("long")
            .alias("pr_scaled"),
        )
    return ranks.join(
        deg.select(F.col("src").alias(id_col), F.col("deg").alias("degree")),
        id_col,
        "left",
    ).select(
        id_col,
        F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
        "pr_scaled",
    )


CC_SCALE = 1_000_000  # clustering coefficient ppm: 1.0 == 1e6


def triangle_counts(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list (``id_a`` < ``id_b``, one row per edge).

    Distributed shape — degree-ordered orientation (the classic
    MapReduce triangle recipe of Suri & Vassilvitskii, WWW'11 /
    Schank-Wagner): each undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher one, so every node's
    OUT-degree is O(sqrt(m)) regardless of how skewed the raw degree
    distribution is — a celebrity node with 10^6 neighbours emits no
    wedges; its low-degree neighbours each emit a bounded few. Wedges
    (a->b, a->c) join back against the oriented edge list on (b, c),
    confirming each triangle EXACTLY once. All three joins are equi
    hash joins (wedge join on the shared source, closure join on the
    endpoint pair); nothing is quadratic in a bucket and nothing
    shuffles more than the wedge set (~m^1.5 worst case, the known
    optimum for exact counting without sketches).

    Determinism: counts are integers; the clustering coefficient is
    emitted as scaled ppm via exact integer floor division
    ``(2 * tri * 1e6) div (deg * (deg - 1))`` so any partitioning and
    the DuckDB oracle (``//``) agree bit-for-bit (both floor on the
    non-negative operands here). Returns one row per node with
    degree >= 1: (id_col, degree, n_tri, cc_ppm); cc_ppm = 0 where
    degree < 2 (undefined -> 0 by convention).

    Lineage/DAG control (r14, guide §2.4 + the round-6 multi-branch-DAG
    lesson): ``deg`` and ``oriented`` are each referenced three times
    below (both endpoint joins + the final output; both wedge sides +
    the closure side), and the original per-corner union referenced
    ``tris`` three more — un-materialized, the wedge join re-evaluated
    up to 9× and the profiled cold run launched ~95 near-empty AQE jobs
    whose scheduling/codegen overhead dwarfed the actual compute.
    Both subtrees are materialized once by :func:`shared.cut` (the
    connected_components/kcore discipline), and the per-corner counts
    fold into ONE pass via explode instead of a 3-way union.
    Checkpointed values are the computed values — results unchanged.
    """

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = shared.cut(und.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))

    # Attach both endpoint degrees, orient low (deg, id) -> high.
    e = (
        edges.join(deg.select(F.col("src").alias("u"), F.col("deg").alias("du")),
                   F.col("src") == F.col("u"))
        .join(deg.select(F.col("src").alias("v"), F.col("deg").alias("dv")),
              F.col("dst") == F.col("v"))
        .select("src", "dst", "du", "dv")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst"))
    )
    oriented = shared.cut(
        e.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
    )

    e1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddeg").alias("db")
    )
    e2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("ddeg").alias("dc")
    )
    wedges = e1.join(e2, "a").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")

    # One pass over the triangle set: explode the three corners instead
    # of a 3-way union of projections (which re-ran the wedge join per
    # branch). Same multiset of corner rows, same counts.
    corners = tris.select(F.explode(F.array("a", "b", "c")).alias("n"))
    tri_per_node = corners.groupBy("n").agg(F.count(F.lit(1)).alias("n_tri"))

    out = (
        deg.join(tri_per_node, deg["src"] == tri_per_node["n"], "left")
        .select(
            F.col("src").alias(id_col),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        )
        .withColumn(
            "cc_ppm",
            F.when(
                F.col("degree") >= 2,
                F.expr(f"(2 * n_tri * {CC_SCALE}) div (degree * (degree - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    return out


def kcore(
    pairs: DataFrame,
    k: int = 2,
    id_col: str = "doc_id",
    iters: int = 40,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes whose CURRENT degree is below ``k`` until none remain; the
    survivors form the maximal subgraph where everyone keeps >= k
    neighbours. The density signal the near-dup graph suite still
    lacked: CC says "same group", PageRank "central", triangles
    "locally cliquey" — the k-core separates dense template FAMILIES
    (which survive peeling) from peripheral chains (which peel away
    end-first, however long they are).

    Distributed shape: per round ONE map-side-combinable degree groupBy
    + two semi joins restricting the edge list to surviving endpoints —
    O(edges) per round, no windows, no collect. Peeling is monotone
    (removals only ever cascade), so a round that removes nothing
    proves convergence; like connected_components the loop runs to a
    COUNTED fixpoint with per-round lineage truncation (each round
    references the previous edge set three times — unchecked, the plan
    would grow 3^rounds) and raises if ``iters`` is hit unconverged
    (a path peels only ~2 nodes/round, so diameter-long graphs need a
    budget matched to the corpus — 40 covers the sf5 50-replica chains).

    Returns (id_col, core_degree) for surviving nodes: their degree
    WITHIN the core (>= k by construction). Exact integers; any
    partitioning agrees.
    """
    edges = shared.cut(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    for _ in range(iters):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        low = deg.filter(F.col("deg") < k)
        if low.limit(1).count() == 0:
            return (
                deg.select(F.col("src").alias(id_col), F.col("deg").alias("core_degree"))
            )
        ok = deg.filter(F.col("deg") >= k).select("src")
        edges = shared.cut(
            edges.join(ok, "src", "left_semi").join(
                ok.withColumnRenamed("src", "dst"), "dst", "left_semi"
            ).select("src", "dst"),
            eager=True,
        )
    raise RuntimeError(f"kcore: no fixpoint after {iters} rounds (k={k})")
