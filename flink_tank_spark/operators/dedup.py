"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Extension surface for training-data pipelines. All operators are pure
DataFrame transforms over built-ins; the similarity joins are written as
INVERTED-INDEX joins (explode the sparse features, join on feature,
count matches) — the shape that scales: the shuffle carries (feature,
doc) pairs, never document cross-products, and skewed features (ultra
common shingles) can be dropped by document frequency exactly like
prefix filtering in set-similarity-join literature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_tank_spark.operators.text import (
    lsh_band_buckets,
    shingles_from_words,
)
from flink_tank_spark.plans import shared


def exact_dedup_stats(
    df: DataFrame, text_col: str = "text", group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Exact duplicate statistics by content hash (md5). One hash-groupBy;
    at 100 TB this is the cheapest possible dedup pass (map-side combine
    on a 16-byte key)."""
    h = F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    per_hash = df.select(*group_cols, h).groupBy(*group_cols, "content_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    aggs = [
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).alias("n_redundant"),
    ]
    out = per_hash.groupBy(*group_cols).agg(*aggs) if group_cols else per_hash.agg(*aggs)
    return out


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, distinct word-k-shingles, set size). The words array is
    materialized as a column first — see shingles_from_words."""
    with_words = df.select(
        F.col(id_col), F.col(text_col), F.split(F.col(text_col), " ").alias("_w")
    )
    sh = F.array_distinct(shingles_from_words(F.col("_w"), F.col(text_col), k))
    return with_words.select(
        F.col(id_col), sh.alias("shingles"), F.size(sh).alias("set_size")
    )


def jaccard_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    min_common: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs Jaccard via inverted-index join on distinct shingles.

    Output: id_a < id_b, n_common, jaccard. The exploded join carries
    (shingle, doc) rows; pairs sharing < min_common shingles never
    materialize.

    ``max_df``: document-frequency pruning (prefix-filter style). Shingles
    appearing in more than ``max_df`` docs are dropped from CANDIDATE
    GENERATION only — the hot shingles whose posting lists would
    cross-product at corpus scale — and surviving candidate pairs are
    rescored EXACTLY against the full shingle sets, so n_common/jaccard
    values are never approximated. Only pairs sharing solely ultra-common
    shingles can be missed, by construction the lowest-signal pairs.
    """
    posts = shingled.select(id_col, "set_size", F.explode("shingles").alias("sh"))
    if max_df is None:
        a = posts.select(
            F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"), "sh"
        )
        b = posts.select(
            F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"), "sh"
        )
        common = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= min_common)
        )
        jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
        return common.select("id_a", "id_b", "n_common", jac.alias("jaccard"))
    # df-pruned path: rare-shingle candidates, exact rescore.
    df_counts = posts.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    rare = posts.join(df_counts.filter(F.col("_df") <= max_df), "sh")
    cand = (
        rare.select(F.col(id_col).alias("id_a"), "sh")
        .join(rare.select(F.col(id_col).alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return rescore_jaccard(cand, shingled, id_col=id_col).filter(
        F.col("n_common") >= min_common
    )


def rescore_jaccard(
    pairs: DataFrame, shingled: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs via array_intersect
    against the full shingle sets (two equi hash joins, no cross join)."""
    out = (
        pairs.join(
            shingled.select(
                F.col(id_col).alias("id_a"),
                F.col("shingles").alias("sh_a"),
                F.col("set_size").alias("size_a"),
            ),
            "id_a",
        )
        .join(
            shingled.select(
                F.col(id_col).alias("id_b"),
                F.col("shingles").alias("sh_b"),
                F.col("set_size").alias("size_b"),
            ),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
    )
    return out.select("id_a", "id_b", "n_common", "jaccard")


def minhash_from_shingled(
    shingled: DataFrame, id_col: str = "doc_id", n_perms: int = 4
) -> DataFrame:
    """Signatures from a pre-shingled DF (see :func:`shingle_sets`) — the
    shape to use when shingles are also needed downstream (LSH rescoring):
    shingle once, hash once, share.

    One digest yields 4 independent 8-hex-char permutation lanes;
    ``n_perms`` up to 8 adds a SECOND salted digest (md5 of '~' + s) —
    two hashes per shingle total, still far cheaper than per-permutation
    digests. Permutations 0–3 are byte-identical to the 4-perm
    signature, so widening the signature never changes existing lanes
    (doc_minhash's oracle stays valid).

    Execution shape (r14, guide §4.1): explode → top-level md5 →
    map-side-combinable MIN aggregation — the simhash_bits /
    fingerprint_docs pattern. The previous per-row
    ``array_min(transform(shingles, md5))`` ran the md5 INTERPRETED per
    element (higher-order lambdas never enter whole-stage codegen;
    profiled at ~70 % of the LSH pair-stage CPU), plus 8 more
    interpreted substring lambdas per row. Here every expression is
    codegen'd, and because each doc's shingles sit in one input row,
    the partial (map-side) min collapses to one row per doc before the
    exchange — the shuffle carries exactly one (id, 8×8 chars) row per
    document, same as the old per-row output. min(string) and
    array_min(array<string>) use the same binary ordering, so the
    signature VALUES are bit-identical (oracle-pinned by doc_minhash).
    """
    if n_perms > 8:
        raise ValueError("n_perms > 8 needs more salted digests; max 8")
    ex = shingled.select(F.col(id_col), F.explode("shingles").alias("_s"))
    hcols = [F.md5(F.col("_s").cast("binary")).alias("_h")]
    if n_perms > 4:
        hcols.append(
            F.md5(F.concat(F.lit("~"), F.col("_s")).cast("binary")).alias("_h2")
        )
    hashed = ex.select(F.col(id_col), *hcols)
    aggs = [
        F.min(F.substring("_h", 8 * p + 1, 8)).alias(f"mh_{p}")
        for p in range(min(n_perms, 4))
    ] + [
        F.min(F.substring("_h2", 8 * p + 1, 8)).alias(f"mh_{p + 4}")
        for p in range(max(0, n_perms - 4))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_perms: int = 4, k: int = 3
) -> DataFrame:
    return minhash_from_shingled(
        shingle_sets(df, id_col=id_col, text_col=text_col, k=k), id_col, n_perms
    )


def lsh_bucket_rows(
    signatures: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """Stack a signature table to (id, bucket) rows — one row per band,
    bucket = 'band_index:md5(band hashes)'. The exploded form both the
    batch candidate join (:func:`lsh_candidate_pairs`) and the streaming
    incremental index (streaming/neardup.py) build on — one definition,
    so the accumulated stream index can never drift from the batch
    blocking scheme."""
    mh_cols = [F.col(c) for c in signatures.columns if c.startswith("mh_")]
    bands = signatures.select(
        id_col, *lsh_band_buckets(mh_cols, rows_per_band)
    )
    band_cols = [c for c in bands.columns if c.startswith("band_")]
    return bands.select(
        id_col,
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{i}:"), F.col(c)) for i, c in enumerate(band_cols)
            ])
        ).alias("bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH blocking: docs sharing any band bucket become
    candidate pairs. Scale shape: explode to (band, bucket, doc), join
    per bucket — cross-products only form INSIDE a bucket.

    ``max_bucket_size`` caps the per-bucket membership: a degenerate
    bucket (e.g. thousands of near-empty docs sharing a band) would
    cross-product even inside the blocking scheme, so buckets above the
    cap are dropped entirely before the self-join — the standard LSH
    guardrail at corpus scale.
    """
    # Materialize the (id, bucket) rows once (r14, guide §2.4): this
    # table is referenced up to three times below (bucket-size cap +
    # both self-join sides), and without a checkpoint the whole
    # signature subtree re-evaluated per reference — for callers that
    # do NOT pass a pre-persisted signature table (e.g. the curation
    # job) that meant three full md5 passes over the corpus. Bounded:
    # one row per (doc, band). A shared.cut: reliable on a cluster, so
    # executor loss cannot strand it; checkpointed values are the
    # computed values either way.
    stacked = shared.cut(lsh_bucket_rows(signatures, id_col, rows_per_band))
    if max_bucket_size is not None:
        sizes = stacked.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
        stacked = stacked.join(
            sizes.filter(F.col("_bsz") <= max_bucket_size).select("bucket"), "bucket"
        )
    a = stacked.select(F.col(id_col).alias("id_a"), "bucket")
    b = stacked.select(F.col(id_col).alias("id_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n_perms: int = 8,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingled: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup pair detection: shingle → MinHash → LSH
    blocking (bucket-capped) → exact Jaccard rescore ≥ ``threshold``.

    The single source of the pipeline's tuning constants — both the
    oracle-certified registry queries (plans/llm.py) and the curation
    job compose THIS function, so banding/threshold changes can't
    silently diverge between them. Pass ``shingled`` (a
    :func:`shingle_sets` output) to reuse an already-computed/persisted
    shingle pass; otherwise it is derived from ``docs``.

    Banding: 8 perms × 2 rows = 4 bands. Candidate probability at the
    0.8 threshold is 1-(1-J²)⁴ = 0.983 (vs 0.87 for the earlier 2-band
    config, whose measured recall in the hardest [0.80, 0.85)
    true-Jaccard band was 0.877 at sf1 — DEDUP_QUALITY_r06.json); the
    exact rescore keeps precision at 1.0, so widening the banding only
    costs candidate-rescore volume (measured in dedup_quality.py).

    Pass ``sigs`` (a :func:`minhash_from_shingled` output) to reuse an
    already-computed/persisted signature pass: the candidate join below
    references its input THREE times (bucket-size cap + both join
    sides), so an unpersisted signature subtree evaluates 3× — the
    multi-branch-DAG cost plans/shared.py exists for (r14, guide §2.4).
    """
    if shingled is None:
        shingled = shingle_sets(docs, id_col=id_col, text_col=text_col)
    if sigs is None:
        sigs = minhash_from_shingled(shingled, id_col=id_col, n_perms=n_perms)
    cands = lsh_candidate_pairs(
        sigs,
        id_col=id_col,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    return rescore_jaccard(cands, shingled, id_col=id_col).filter(
        F.col("jaccard") >= threshold
    )


def connected_components(pairs: DataFrame, iters: int = 30) -> DataFrame:
    """Duplicate-group resolution: connected components over a near-dup
    pair graph via min-label propagation — (doc_id, canon_id) where
    canon_id is the smallest doc id in the component.

    The step a real dedup pipeline runs after pair detection: pairs chain
    (A~B, B~C ⇒ {A,B,C} is one group), so keep-one-per-pair is wrong;
    components are the unit of deduplication.

    Distributed shape: per iteration one equi join + one groupBy(min) on
    the edge list — label propagation, the standard large-graph CC
    pattern (GraphX/Pregel style) expressed in DataFrame ops.

    Termination: runs until a FIXPOINT — every second iteration the
    labels are materialized (checkpoint) and the number of labels that
    changed is counted (a cheap aggregate over the just-checkpointed
    rows); min-propagation is monotone, so an iteration that changes
    nothing proves convergence. ``iters`` is only a safety cap against
    pathological graphs; hitting the cap WITHOUT converging raises
    RuntimeError (split labels would silently under-deduplicate
    downstream — never return them).

    Iterative lineage control is :func:`shared.cut`: ``localCheckpoint``
    under a local master, reliable ``checkpoint()`` on a cluster — the
    same per-iteration discipline GraphX/Pregel applies, which survives
    executor loss.
    """
    # Lineage control matters twice here: labels_i references labels_{i-1}
    # twice and edges once, so an untruncated loop builds a 2^iters-node
    # plan (112 s in Catalyst analysis alone on a 25-pair graph).
    # Lazy: edges materialize with the first boundary job, not at build.
    edges = shared.cut(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    changed = 0
    for i in range(iters):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            (F.col("nbr_label") < F.col("label")).cast("int").alias("_chg"),
        )
        # Materialize + convergence-check every SECOND iteration: between
        # checkpoints the plan only quadruples over a cheap scan node, and
        # each skipped boundary saves one sequential materialization job.
        if i % 2 == 1 or i == iters - 1:
            labels = shared.cut(labels, eager=True)
            changed = labels.agg(F.sum("_chg")).first()[0]
            if not changed:
                break
        labels = labels.drop("_chg")
    else:
        if changed:
            raise RuntimeError(
                f"connected_components hit the {iters}-iteration cap with "
                f"{changed} labels still changing: a component spans more "
                "hops than the cap and its labels are split. Raise iters."
            )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("canon_id"))


def simhash_bits(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """SimHash: per-bit majority vote over word md5 hashes, computed as
    explode → one md5 per word → ``bits`` map-side-combinable integer
    SUM aggregates (vote_i = Σ ±1 over words, order-free).

    Plan-shape history, because each rewrite looked plausible:
    - explode words × bits into (doc, bit) rows: a 64× shuffle
      amplification — 100 TB of corpus becomes 6.4 PB of shuffle. No.
    - per-row fold (``aggregate``/``zip_with`` HOFs accumulating a
      64-int vote vector): ZERO shuffle, but higher-order functions are
      INTERPRETED (never enter whole-stage codegen) — measured 111 s on
      a 50 k-doc corpus, all on the expression interpreter.
    - this shape: the explode stays at words (no ×bits blowup), md5 is
      a codegen'd top-level expression computed ONCE per word into a
      materialized column, the 16 nibble ints are projected once, and
      the 64 bit-vote sums partial-aggregate map-side — the shuffle
      carries one 64-int row per doc per partition. Same result, all
      codegen.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_wd")
    )
    hashed = words.select(
        F.col(id_col), F.md5(F.col("_wd").cast("binary")).alias("_h")
    )
    nibs = hashed.select(
        F.col(id_col),
        *[
            F.conv(F.substring("_h", i + 1, 1), 16, 10).cast("int").alias(f"_n{i}")
            for i in range(bits // 4)
        ],
    )
    votes = nibs.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col(f"_n{i // 4}"), 3 - i % 4).bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"_b{i}")
            for i in range(bits)
        ]
    )
    return votes.select(
        F.col(id_col),
        F.concat(
            *[
                F.when(F.col(f"_b{i}") > 0, "1").otherwise("0")
                for i in range(bits)
            ]
        ).alias("simhash"),
    )


def ppjoin_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Chaudhuri et al.
    SSJoin; public algorithms): every pair with Jaccard ≥ t_num/t_den,
    with COMPLETENESS guaranteed — the recall-1.0 sibling of the
    MinHash/LSH blocking (measured 0.994): slower per doc, but the
    right tool when a miss is a correctness bug (split-leakage audits,
    legal dedup).

    Prefix principle: under one GLOBAL token order (rarest first —
    df, then token, a total order), J(a,b) ≥ t forces an overlap of at
    least ceil(t·|x|) for each side, so a shared token must appear in
    both docs' first |x| − ceil(t·|x|) + 1 tokens. Blocking on those
    PREFIX tokens is therefore lossless, and because prefixes hold each
    doc's RAREST tokens, the candidate join is naturally skew-free —
    the hot tokens that would blow up an inverted-index join never
    enter a prefix. A size filter (t·|a| ≤ |b| ≤ |a|/t) prunes
    length-incompatible candidates in the same join.

    POSITIONAL filter (Xiao et al. PPJoin, VLDB'08 — public algorithm),
    lossless: a qualifying pair needs overlap
    α = ceil(t·(na+nb)/(1+t)), and at a shared token at ranks
    (rn_a, rn_b) the overlap is bounded by 1 + min(na−rn_a, nb−rn_b)
    (every other common token ranks after it in BOTH docs). The FIRST
    common token of a qualifying pair lies in both prefixes (the
    prefix pigeonhole) and satisfies the bound there, so keeping a
    pair iff ANY matched prefix row passes the test is exact — recall
    1.0 unchanged, candidate volume sharply down on shingle-dense
    corpora where bare prefix joins degenerate (the sf5 lesson from
    containment_pairs).

    Scale shape: one token df groupBy, per-doc rank windows (doc-sized
    partitions, high-cardinality key), one equi-join on prefix tokens,
    exact verification restricted to candidates. Integer prefix
    arithmetic: ceil(t·n) = (t_num·n + t_den − 1) div t_den;
    α = ceil(t_num·(na+nb) / (t_den+t_num)).
    """
    tok = shingled.select(F.col(id_col), F.explode("shingles").alias("tok"))
    df_tbl = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tdf"))
    ranked = tok.join(df_tbl, "tok")
    w_rank = W.partitionBy(id_col).orderBy("tdf", "tok")
    w_all = W.partitionBy(id_col)
    sorted_ = ranked.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )
    prefix = sorted_.filter(
        F.col("rn")
        <= F.col("n") - F.expr(f"({t_num} * n + {t_den} - 1) div {t_den}") + 1
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "tok",
        F.col("n").alias("na"), F.col("rn").alias("rn_a"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "tok",
        F.col("n").alias("nb"), F.col("rn").alias("rn_b"),
    )
    alpha = F.expr(
        f"({t_num} * (na + nb) + {t_den + t_num} - 1) div {t_den + t_num}"
    )
    cands = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") * t_den >= F.col("na") * t_num)
            & (F.col("na") * t_den >= F.col("nb") * t_num)
            & (
                F.lit(1)
                + F.least(
                    F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b")
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sh = shingled.select(F.col(id_col), "shingles")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - n_common
    )
    return (
        cands.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            n_common.alias("n_common"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(t_num) / F.lit(t_den))
    )


def containment_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    t_num: int = 9,
    t_den: int = 10,
) -> DataFrame:
    """EXACT set-containment self-join: every ORDERED pair (a, b),
    a ≠ b, with |A∩B| / |A| ≥ t — the SUBSET-duplicATE detector.
    Jaccard dedup goes blind exactly where containment matters: a short
    document fully quoted inside a much longer one has
    J = |A|/|B| → 0 while C(a→b) = 1.0, so it survives every
    Jaccard-threshold pass (LSH and PPJoin alike). This is the
    asymmetric sibling of :func:`ppjoin_pairs`, same prefix-filter
    family (SSJoin, Chaudhuri et al. ICDE'06 — public algorithm).

    Prefix principle, containment form: C(a→b) ≥ t forces
    |A∩B| ≥ ceil(t·|A|) — a bound on the CONTAINED side only — so a's
    first |A| − ceil(t·|A|) + 1 tokens (global rarest-first order, a
    total order on (df, token)) must hold at least one common token.
    The contained side is therefore prefix-pruned; the container side
    indexes ALL its tokens (its size yields no prefix bound, only the
    size filter |B| ≥ ceil(t·|A|)). Completeness is exact: recall 1.0
    at the threshold, by the same pigeonhole as PPJoin.

    Two further LOSSLESS prunes, needed on shingle-collision-dense
    corpora (the sf5 stress corpus has 29,791 distinct shingles over
    13M occurrences — NO rare tokens, so the bare prefix join
    degenerates to 318M candidate pairs):

    - POSITIONAL filter: common tokens after the g-th one (global
      order) rank after it in BOTH docs, so
      |A∩B| ≤ g + min(na − rn_a, nb − rn_b) at the g-th common token;
      with |A∩B| ≥ ceil(t·na) required, container rows with
      rn_b > nb − ceil(t·na) + SLACK can be dropped (the g ≤ SLACK
      common-token rows of a qualifying pair all survive the laxer
      g = SLACK bound).
    - MULTI-MATCH requirement: extend the prefix by SLACK−1 extra
      tokens; pigeonhole then guarantees a qualifying pair shares
      ≥ SLACK tokens inside the extended prefix (missing tokens
      ≤ na − ceil(t·na)), so candidates = pairs with ≥ SLACK matching
      prefix rows (groupBy count, not distinct). Random single-token
      collisions — the entire degenerate mass — die quadratically:
      measured at sf5, 318M distinct pairs → ~1M candidates, same
      verified output. (na = 1 docs fall back to ≥ 1, where
      ceil(t·na) = 1 < SLACK makes the guarantee vacuous.)

    Scale shape: on natural corpora the contained side's join keys are
    its RAREST tokens (PPJoin's skew immunity); on vocabulary-dense
    corpora the positional + multi-match prunes bound the candidate
    set near the true-pair set. Verification (one array_intersect per
    candidate) is integer-exact: t_den·|A∩B| ≥ t_num·|A|."""
    tok = shingled.select(F.col(id_col), F.explode("shingles").alias("tok"))
    df_tbl = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tdf"))
    ranked = tok.join(df_tbl, "tok")
    w_rank = W.partitionBy(id_col).orderBy("tdf", "tok")
    w_all = W.partitionBy(id_col)
    sorted_ = ranked.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )
    slack = 2  # extended-prefix slack = required matching prefix rows
    prefix = sorted_.filter(
        F.col("rn")
        <= F.col("n")
        - F.expr(f"({t_num} * n + {t_den} - 1) div {t_den}")
        + slack
    )
    a = prefix.select(F.col(id_col).alias("id_a"), "tok", F.col("n").alias("na"))
    ball = sorted_.select(
        F.col(id_col).alias("id_b"),
        "tok",
        F.col("n").alias("nb"),
        F.col("rn").alias("rn_b"),
    )
    req = F.expr(f"({t_num} * na + {t_den} - 1) div {t_den}")  # ceil(t·|A|)
    cands = (
        a.join(ball, "tok")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("nb") * t_den >= F.col("na") * t_num)
            & (F.col("rn_b") <= F.col("nb") - req + slack)
        )
        .groupBy("id_a", "id_b", "na")
        .agg(F.count(F.lit(1)).alias("_npref"))
        .filter(
            (F.col("_npref") >= slack) | (F.col("na") < slack)
        )
        .select("id_a", "id_b")
    )
    sh = shingled.select(F.col(id_col), "shingles")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .filter(n_common * t_den >= F.size("sh_a") * t_num)
        .select(
            "id_a",
            "id_b",
            n_common.alias("n_common"),
            (n_common.cast("double") / F.size("sh_a")).alias("containment"),
            (
                n_common.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - n_common)
            ).alias("jaccard"),
        )
    )


def containment_drop_ids(
    shingled: DataFrame,
    id_col: str = "doc_id",
    t_num: int = 9,
    t_den: int = 10,
) -> DataFrame:
    """Keep-one drop list under exact containment dedup: drop a doc iff
    it is contained ≥ t in a LARGER doc, ties broken by keeping the
    smaller doc_id — so a mutual-containment pair (near-identical text,
    both directions ≥ t) loses exactly ONE member, never both, and
    containment chains A ⊂ B ⊂ C keep only the maximal C. One
    deterministic pass over the verified pair set (no iteration: the
    rule depends only on each pair's sizes/ids, not on other drops).
    Shared by the curation job's --containment stage and the
    doc_containment_corpus registry query."""
    sizes = shingled.select(F.col(id_col).alias("_sid"), F.size("shingles").alias("_n"))
    pairs = containment_pairs(
        shingled, id_col=id_col, t_num=t_num, t_den=t_den
    ).select("id_a", "id_b")
    return containment_drop_from_pairs(pairs, sizes, id_col=id_col)


def containment_drop_from_pairs(
    pairs: DataFrame, sizes: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The pair-level keep-one rule of :func:`containment_drop_ids`,
    factored out so the streaming containment view
    (streaming/containment.containment_drop_view) folds its ACCUMULATED
    verified pair table through the LITERAL same code — parity with the
    batch query is then structural, not re-implemented. ``pairs`` is
    the ordered (id_a contained-in id_b) verdict set; ``sizes`` is
    (_sid, _n) shingle-set sizes. Drops id_a iff nb > na, ties broken
    by keeping the smaller id. One deterministic pass, no iteration."""
    p = (
        pairs.join(
            sizes.select(F.col("_sid").alias("id_a"), F.col("_n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_sid").alias("id_b"), F.col("_n").alias("nb")),
            "id_b",
        )
    )
    return (
        p.filter(
            (F.col("nb") > F.col("na"))
            | ((F.col("nb") == F.col("na")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
