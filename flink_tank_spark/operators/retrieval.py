"""Lexical retrieval: inverted-index BM25-style top-k document search.

Extension surface for training-data pipelines (SURVEY §2.12): lexical
similar-document retrieval complements the embedding ANN layer
(operators/similarity.py) — dedup/curation pipelines use both signals.

Scale shape — the posting-list join, never a doc cross-product:

- one explode + map-side-combinable groupBy builds (term, doc, tf)
  postings and per-term document frequencies;
- the query side (a bounded query set's distinct terms) is broadcast;
- the only corpus-sized shuffle is the (query, doc) partial-score
  aggregation, whose cardinality is bounded by matched postings.

At 100 TB the standard further step is dynamic pruning (WAND / impact
ordering) to skip low-impact postings; the exact variant here is the
correctness baseline those optimizations must agree with, and the idf
weighting already sends ultra-common terms' contributions toward zero.

Determinism (hash-verifiable against the DuckDB oracle, reproducible
under any partitioning): the classic ln() idf is replaced by its
argument, the rational odds ratio ``(N - df + 0.5) / (df + 0.5)``
(monotone in the same df, so per-term ordering is identical; multi-term
sums weight rare terms more strongly than log-BM25). Every arithmetic
step is a correctly-rounded IEEE op mirrored verbatim in SQL, and the
per-(query, doc) sum of term scores goes through fixed-point
``floor(x * 1e9 + 0.5)`` integers so summation order cannot matter
(functions/numeric.py rationale; 1e9 keeps worst-case totals far inside
2^53).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_tank_spark.functions.numeric import davg

SCORE_SCALE = 1e9


def term_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, term) postings with term frequency and doc length:
    one explode + one map-side-combinable groupBy.

    ``dl`` is recovered as ``sum(tf)`` per doc (identical to
    ``size(split(text))`` by definition) via a window over the
    ALREADY-AGGREGATED postings — never as a ``size(split(...))``
    projection alongside the explode, which Catalyst collapses into the
    Generate and re-evaluates the split once per OUTPUT row (measured
    ~3.5× slower on the corpus explode)."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    posts = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    return posts.withColumn(
        "dl", F.sum("tf").over(W.partitionBy(id_col))
    ).select(id_col, "dl", "term", "tf")


def _term_score(tf: Column, dl: Column, df: Column, n_docs: Column, avgdl: Column,
                k1: float, b: float) -> Column:
    # Mirrored VERBATIM in the oracle SQL — parenthesization included.
    idf = (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))
    norm = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl / avgdl))
    return idf * ((tf * F.lit(k1 + 1.0)) / norm)


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row (n_docs, avgdl) corpus statistics — the constant side of
    every BM25 score. Derived straight from the docs table, no explode:
    split() yields >= 1 token for every non-NULL text, so count/avg over
    docs equals the postings-derived form."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.size(F.split(F.col(text_col), " ")).alias("dl"))
        .agg(F.count(F.lit(1)).alias("n_docs"), davg("dl", "avgdl"))
    )


def term_statistics(
    posts: DataFrame,
    stats: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-term (df, ub_i) over a FULL postings table — the
    query-independent half of the retrieval index.

    ``df`` is the document frequency the exact scorer consumes; ``ub_i``
    is the WAND per-term score upper bound as a floor-scaled long. Both
    are map-side-combinable folds over the postings, independent of any
    query set — at cluster scale this table is materialized ONCE next to
    the inverted index and amortized over every retrieval batch, exactly
    like ``posts`` itself. The impact factors as idf(df) · part(tf, dl)
    with idf constant per term and floor monotone, so
    max(floor(idf·part·S + ½)) = floor(idf·max(part)·S + ½) BIT-exactly
    (same IEEE ops on the maximizing row).

    ``ub_i`` is k1/b-DEPENDENT: the (k1, b) used to build it are stamped
    into the ``ub_i`` column's schema metadata, and
    :func:`bm25_wand_parts` refuses a table whose stamp mismatches its
    own k1/b — a stale bound would silently prune wrong (``df`` alone is
    parameter-free and safe for the exact scorer either way).
    """
    return (
        posts.crossJoin(F.broadcast(stats))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.max(_part_expr(k1, b)).alias("_max_part"),
            F.first("n_docs").alias("_n"),
        )
        .select("term", "df", _ub_col(k1, b))
    )


def _part_expr(k1: float, b: float) -> Column:
    """The tf/dl-dependent half of a posting's BM25 impact — mirrored
    VERBATIM (parenthesization included) everywhere a bound or score is
    derived from it, so every consumer is bit-identical."""
    return (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
    )


def _ub_col(k1: float, b: float) -> Column:
    """ub_i from (_n, df, _max_part) columns — the floor-scaled long
    upper bound, k1/b stamped as schema metadata (see
    :func:`_check_term_stats_params`)."""
    return F.floor(
        ((F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
        * F.col("_max_part") * F.lit(SCORE_SCALE)
        + F.lit(0.5)
    ).cast("long").alias("ub_i", metadata={"k1": k1, "b": b})


def _check_term_stats_params(term_stats: DataFrame, k1: float, b: float) -> None:
    """Driver-side (zero-job) guard: a term_statistics table built with
    different k1/b than the query-time call carries stale ub_i upper
    bounds — unsafe pruning with no error. The params ride as schema
    metadata on ub_i; absence (a hand-built table) passes with the
    documented same-params contract."""
    meta = dict(term_stats.schema["ub_i"].metadata or {})
    if not meta:
        return
    if meta.get("k1") != k1 or meta.get("b") != b:
        raise ValueError(
            f"term_stats was built with k1={meta.get('k1')}, b={meta.get('b')} "
            f"but the query uses k1={k1}, b={b}: ub_i upper bounds would be "
            "stale and pruning unsafe — rebuild term_statistics with the "
            "query's parameters"
        )


def release_wand_parts(parts: dict[str, DataFrame]) -> None:
    """Unpersist every DataFrame :func:`bm25_wand_parts` cached
    (``parts['persisted']``) — call after the consuming action in
    long-lived sessions (per-batch loops, benches) so WAND intermediates
    don't accumulate in executor storage. Blocking=False: lazy eviction,
    never stalls the caller."""
    for df in parts.get("persisted", []):
        try:
            df.unpersist()
        except Exception:
            pass


def _matched_postings(
    docs: DataFrame,
    query_ids,
    id_col: str,
    text_col: str,
    posts: DataFrame | None,
    term_stats: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared retrieval prefix: (stats, qterms, mposts, dfreq).

    ONE definition used by both the exact and the WAND-pruned operator —
    the pruned variant's correctness contract is bit-identity with the
    exact scorer, which must not depend on copy-paste discipline.

    - ``stats``: 1-row corpus stats, lazily cross-joined downstream
      (constant work at any scale — same lazy-scalar pattern as tpch
      q11/q22). Derived straight from the docs table — no explode:
      split() yields >=1 token ([""]) for every non-NULL text, so
      count/avg over docs equals the postings-derived (doc, dl)
      distinct of the naive formulation.
    - ``qterms``: query terms come from the query docs ONLY (predicate
      pushdown on id), not from a corpus-wide postings build.
    - ``mposts``: postings pruned to query terms (a term's FULL posting
      list survives the term-equality prune, so df over mposts is
      exact).
    - ``dfreq``: df is a map-side-combinable groupBy over the pruned
      postings joined back broadcast (≤ |query terms| rows) — NOT a
      per-term window count: a window partitions by term, and a hot
      term's whole posting list (O(n_docs) rows at corpus scale) would
      funnel into one task, where the partial aggregation spreads it
      across every input partition. When a precomputed ``term_stats``
      table (:func:`term_statistics`) is supplied, df comes from it
      instead — same counts (a term's full posting list survives the
      term-equality prune), zero extra corpus passes.
    """
    if stats is None:
        stats = corpus_stats(docs, text_col)
    qterms = (
        docs.filter(F.col(id_col).isin(list(query_ids)))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .distinct()
    )
    mposts = (posts if posts is not None else term_postings(docs, id_col, text_col)).join(
        F.broadcast(qterms.select("term").distinct()), "term"
    )
    if term_stats is not None:
        dfreq = term_stats.join(
            F.broadcast(qterms.select("term").distinct()), "term"
        ).select("term", "df")
    else:
        dfreq = mposts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return stats, qterms, mposts, dfreq


def _exact_scores(
    stats: DataFrame,
    qterms: DataFrame,
    mposts: DataFrame,
    dfreq: DataFrame,
    id_col: str,
    k1: float,
    b: float,
    restrict: DataFrame | None = None,
    broadcast_restrict: bool = False,
) -> DataFrame:
    """Exact fixed-point BM25 per (query, doc) over ALL matched query
    terms — THE scorer (both operators call this, so scores are
    bit-equal by construction). Output carries the double ``score``
    AND its scaled-integer form ``score_i`` (= score·SCORE_SCALE as an
    exact long) so pruning comparisons can run in integer space.

    ``restrict``: optional (query_id, id_col) pair set to score only;
    ``broadcast_restrict`` for bounded restrict sets turns the
    restriction into a broadcast-hash probe instead of a corpus-sized
    shuffle. JOIN ORDER is the whole game for restricted scoring: the
    restrict PAIRS join first (each candidate doc's postings gain the
    ~1 query that claimed them), then the (query_id, term) membership
    join against qterms. Joining qterms on term alone first multiplies
    every posting by the number of queries containing the term — at
    1024 batched queries whose common terms appear in ~40% of them,
    that is a several-hundred-million-row expansion the pair filter
    then throws away (measured: 38 s for the final WAND rescore with
    pair-filter-last vs the whole-path seconds with pairs-first)."""
    if restrict is not None:
        r = F.broadcast(restrict) if broadcast_restrict else restrict
        matched = (
            mposts.join(r, id_col)
            .join(F.broadcast(qterms), ["query_id", "term"])
            .join(F.broadcast(dfreq), "term")
            .filter(F.col(id_col) != F.col("query_id"))
        )
    else:
        matched = (
            mposts.join(F.broadcast(dfreq), "term")
            .join(F.broadcast(qterms), "term")
            .filter(F.col(id_col) != F.col("query_id"))
        )
    matched = matched.crossJoin(F.broadcast(stats))
    score_t = _term_score(
        F.col("tf"), F.col("dl"), F.col("df"),
        F.col("n_docs"), F.col("avgdl"), k1, b,
    )
    return (
        matched.select(
            "query_id",
            F.col(id_col),
            F.floor(score_t * F.lit(SCORE_SCALE) + F.lit(0.5))
            .cast("long")
            .alias("_s"),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.sum("_s").alias("score_i"),
            (F.sum("_s").cast("double") / F.lit(SCORE_SCALE)).alias("score"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_ids,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    posts: DataFrame | None = None,
    term_stats: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k corpus docs per query doc by BM25-style lexical score.

    ``query_ids``: ids of docs whose distinct terms form the queries
    (doc-as-query retrieval). The query doc itself is excluded from its
    own result list. Ties break on doc id for determinism.

    ``posts``: an optional pre-built (id, dl, term, tf) postings table
    (e.g. the shared persisted stage in plans/llm.py, or at cluster
    scale a materialized inverted-index table) — the standard way to
    amortize the corpus explode across retrieval queries. Built from
    ``docs`` when absent. ``term_stats``: optional
    :func:`term_statistics` table; supplies df without a per-batch
    corpus pass (the other half of the amortized index).
    """
    stats, qterms, mposts, dfreq = _matched_postings(
        docs, query_ids, id_col, text_col, posts, term_stats, stats
    )
    scored = _exact_scores(stats, qterms, mposts, dfreq, id_col, k1, b)
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col(id_col).alias("match_id"), "score", "rk")
    )


def bm25_wand_parts(
    docs: DataFrame,
    query_ids,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    posts: DataFrame | None = None,
    max_seeds: int = 1024,
    cache: bool = True,
    term_stats: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Building blocks of the WAND-pruned BM25 top-k (see
    :func:`bm25_wand_topk`), exposed so tests and the pruning-stats
    probe can inspect intermediate cardinalities (candidates touched,
    postings skipped).

    Returned keys: ``mposts`` (query-term-pruned postings), ``theta``
    (per-query lower bound on the true k-th score), ``essential``
    (per-query surviving terms), ``candidates`` ((query, doc) pairs that
    must be exactly rescored), ``topk`` (the final answer — provably
    identical to :func:`bm25_topk`), ``persisted`` (every frame this
    call cached — hand to :func:`release_wand_parts` after the action
    in per-batch loops so cached blocks don't accumulate).

    ``cache`` persists the BOUNDED-size intermediates (query terms,
    corpus stats, per-term df/UB — at most |query terms| + 1 rows).
    The WAND DAG references each of them from several branches of ONE
    action, and without a persist Spark re-derives every reference
    from scratch — each a full postings pass, which took the 200 k-doc
    bench from 5 effective corpus passes to 9 (wand slower than exact
    on pure orchestration). Values are unchanged (the gate certifies
    both settings); the cached state is a few KB per call.
    """
    # A caller-supplied stats table (the shared session stage) must NOT
    # be persisted here: release_wand_parts would then unpersist the
    # SHARED stage after the first batch and every later batch would
    # silently recompute it (r15). Only frames this call derives are
    # cached/released.
    stats_external = stats is not None
    stats, qterms, mposts, dfreq = _matched_postings(
        docs, query_ids, id_col, text_col, posts, term_stats, stats
    )
    if term_stats is not None:
        # precomputed index half: restrict to the query terms, done —
        # zero per-batch corpus passes for df/UB. Params guard first:
        # ub_i built under different k1/b would prune unsafely.
        _check_term_stats_params(term_stats, k1, b)
        df_ub = term_stats.join(
            F.broadcast(qterms.select("term").distinct()), "term"
        ).select("term", "df", "ub_i")
    else:
        # One combined per-term aggregation replaces separate df count
        # and UB max — both are map-side-combinable folds over the same
        # pruned postings, so fusing them halves the full-scan count
        # (see term_statistics for the bit-exactness argument). df
        # feeds the exact scorer and must stay identical to
        # _matched_postings' dfreq — same count, same source.
        df_ub = term_statistics(mposts, stats, k1=k1, b=b)
    dfreq = df_ub.select("term", "df")
    persisted: list[DataFrame] = []
    if cache:
        qterms = qterms.persist()
        df_ub = df_ub.persist()
        dfreq = dfreq.persist()
        persisted += [qterms, df_ub, dfreq]
        if not stats_external:
            stats = stats.persist()
            persisted.append(stats)
        # mposts is corpus-sized but feeds FIVE branches (seeds, θ
        # rescore, df/UB agg, candidate generation, final rescore);
        # without a persist each branch replays the postings build.
        # MEMORY_AND_DISK: an evicted block degrades to recompute, never
        # OOM. At cluster scale this is the materialized inverted-index
        # table the docstrings name (pass ``posts`` pre-persisted and
        # this is a cheap broadcast-join view of it).
        from pyspark import StorageLevel

        mposts = mposts.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(mposts)

    def rescore(restrict=None, broadcast_restrict=False):
        return _exact_scores(
            stats, qterms, mposts, dfreq, id_col, k1, b,
            restrict=restrict, broadcast_restrict=broadcast_restrict,
        )

    # θ bootstrap: classic WAND refines θ progressively during
    # doc-at-a-time traversal; a one-shot batch plan needs θ up front.
    # Seed it from each query's RAREST term (min df): docs containing
    # the highest-idf term are the classic top-score candidates, their
    # EXACT scores are computed by the shared rescorer, and the k-th
    # best of any subset of true scores is a valid lower bound on the
    # true k-th best. The seed list is df-bounded by construction and
    # additionally capped at ``max_seeds`` per query (a deterministic
    # doc-id cap keeps θ valid — it only weakens, never unsafely
    # strengthens, the bound). No corpus-sized window anywhere: the
    # earlier champion-list formulation paid two full window sorts over
    # every matched posting (measured 12 s engine-side at sf1 vs ~2 s
    # for this shape).
    # Seed-term choice: the rarest term with df ≥ k+1 — "rarest" for
    # selectivity (small seed list, high-idf seeds), "≥ k+1" for
    # VIABILITY: the query doc itself sits on its own terms' posting
    # lists and is excluded from seeding, so a term needs k+1 postings
    # to yield the k seed scores θ requires. Without the viability
    # floor, a long-tail corpus (Zipf vocabulary) hands every query a
    # singleton term that appears ONLY in the query doc — zero seeds, no
    # θ, no pruning anywhere (measured: candidates ≈ the whole corpus on
    # the wand_bench fixture). Any seed subset still yields a valid
    # lower bound, so the choice affects only pruning POWER, never
    # correctness; queries with no viable term fall through to the
    # no-θ path (every term essential — safe).
    w_rare = W.partitionBy("query_id").orderBy("df", "term")
    rare = (
        qterms.join(F.broadcast(dfreq), "term")
        .filter(F.col("df") >= k + 1)
        .withColumn("_r", F.row_number().over(w_rare))
        .filter(F.col("_r") == 1)
        .select("query_id", "term", "df")
    )
    # The cap is deterministic hash-THINNING (keep ~max_seeds of df by
    # hash residue), not a per-query row_number: a window partitioned by
    # query_id would funnel the rare term's whole posting list through
    # one task per query (measured: the sort-cap made wand scale WORSE
    # than exact at sf5 on this unselective corpus). The thinning filter
    # is partition-invariant (pure doc-id hash) and any subset keeps θ
    # valid.
    seeds = (
        mposts.join(F.broadcast(rare), "term")
        .filter(F.col(id_col) != F.col("query_id"))
        .filter(
            F.pmod(
                F.xxhash64(F.col(id_col)),
                F.floor(
                    (F.col("df") + F.lit(max_seeds - 1)) / F.lit(max_seeds)
                ).cast("long"),
            )
            == 0
        )
        .select("query_id", id_col)
    )
    w_q = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    # θ carried as the scaled LONG (score_i) so the prune comparison is
    # exact integer arithmetic, never float accumulation.
    theta = (
        rescore(seeds, broadcast_restrict=True)
        .withColumn("_rk", F.row_number().over(w_q))
        .filter(F.col("_rk") == k)
        .select("query_id", F.col("score_i").alias("theta_i"))
    )
    if cache:
        # θ (≤ one row per query) is broadcast into the essential-term
        # filter, which is itself re-referenced by candidates and the
        # final rescore: without a persist EACH of those downstream
        # branches replays the whole seed+rescore chain (profiled: the
        # chain re-ran three times, 2.8-2.9 s per replay at 200 k docs).
        theta = theta.persist()
        persisted.append(theta)
    # Per-term upper bound = max posting impact (ONE map-side-combinable
    # aggregation over the per-posting exact impacts; in bag-of-words
    # BM25 every (term, doc) contribution is fully determined by
    # (tf, dl, df, stats)). WAND term prune: sort a query's terms by UB
    # descending and suffix-sum; a term whose suffix-sum < θ is
    # "non-essential" — a doc matching ONLY non-essential terms scores
    # ≤ that suffix-sum < θ ≤ true k-th score, so it can never enter
    # the top-k. Queries with < k seed docs get no θ row ⇒ every term
    # stays essential (no unsafe pruning).
    #
    # The UB is the max FLOOR-SCALED impact AS A LONG (computed in the
    # fused df_ub aggregation above): the exact scorer sums
    # floor(s·1e9 + 0.5) integer terms, and floor is monotone, so
    # Σ max-floored-impacts over a doc's terms bounds its summed score
    # exactly. Both the suffix-sum and the ≥ θ comparison stay in
    # integer space (longs, exact up to 2^63) — summing the DIVIDED
    # doubles instead could round a suffix-sum below its true value and
    # unsafely prune a term whose bound ties θ.
    ub = df_ub.select("term", "ub_i")
    w_suffix = (
        W.partitionBy("query_id")
        .orderBy(F.desc("ub_i"), "term")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    essential = (
        qterms.join(F.broadcast(ub), "term")
        .withColumn("ssum_i", F.sum("ub_i").over(w_suffix))
        .join(F.broadcast(theta), "query_id", "left")
        .filter(F.col("theta_i").isNull() | (F.col("ssum_i") >= F.col("theta_i")))
        .select("query_id", "term")
    )
    if cache:
        essential = essential.persist()  # ≤ |query terms| rows
        persisted.append(essential)
    # Candidates: docs on at least one essential term's posting list.
    candidates = (
        mposts.join(F.broadcast(essential), "term")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    if cache:
        candidates = candidates.persist()  # the pruned rescore set
        persisted.append(candidates)
    w_rank = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    # Broadcast the candidate restrict set: its being SMALL is the whole
    # point of the prune (bounded by the essential terms' posting mass),
    # and a non-broadcast restrict forces the matched-posting expansion
    # through a (query, doc) shuffle — measured 30 s vs 9 s exact at
    # 128 queries × 200 k docs purely on that shuffle. If candidates
    # are NOT small, the prune failed and WAND is the wrong operator
    # for the corpus (use bm25_topk) — that trade, not silent slowness,
    # is the documented contract.
    topk = (
        rescore(candidates, broadcast_restrict=True)
        .withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col(id_col).alias("match_id"), "score", "rk")
    )
    return {
        "mposts": mposts,
        "qterms": qterms,
        "theta": theta,
        "essential": essential,
        "candidates": candidates,
        "topk": topk,
        "persisted": persisted,
    }


def bm25_wand_topk(
    docs: DataFrame,
    query_ids,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    posts: DataFrame | None = None,
    max_seeds: int = 1024,
    cache: bool = True,
    term_stats: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """WAND-style dynamically-pruned BM25 top-k — the 100 TB scale path
    the exact :func:`bm25_topk` names as its successor.

    Classic WAND (Broder et al., CIKM'03) prunes doc-at-a-time with
    per-term score upper bounds; this is its batch/distributed
    restatement:

    1. θ seeding — the exact scores of each query's rarest-term posting
       list (df-bounded, capped): the k-th best is a valid LOWER bound
       on the true k-th best score;
    2. per-term upper bounds — one map-side max over exact posting
       impacts (never a per-term window);
    3. term prune — terms whose UB suffix-sum (descending UB order)
       falls below θ are non-essential; docs matching only those are
       provably outside the top-k and never rescored;
    4. exact rescore of the surviving candidates with the identical
       fixed-point scorer ⇒ output is BIT-IDENTICAL to ``bm25_topk``
       (asserted by the oracle gate, which runs the exact SQL).

    The win at scale: ultra-common terms' full posting lists (the
    dominant cost — O(n_docs) rows each) are only traversed when the
    term is essential for some query; with a selective query set most
    postings feed only the one map-side UB aggregation.
    """
    return bm25_wand_parts(
        docs, query_ids, k=k, k1=k1, b=b, id_col=id_col, text_col=text_col,
        posts=posts, max_seeds=max_seeds, cache=cache, term_stats=term_stats,
        stats=stats,
    )["topk"]
