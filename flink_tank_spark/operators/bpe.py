"""Distributed BPE vocabulary training (byte-pair-encoding merges).

The tokenizer-construction step of an LLM data pipeline: given the
corpus, learn the top-N pair merges (Sennrich et al. 2016, the public
BPE algorithm) and apply them. doc_token_stats counts tokens with a
FIXED regex; this module learns the vocabulary itself.

Distributed shape — the standard trick that makes BPE feasible on 100 TB:
train on the WORD-FREQUENCY table, not the token stream. One corpus
scan builds (word, count) — natural-language vocabulary is bounded
(~1e6-1e8 distinct words at web scale, with Zipf mass in the head), so
every subsequent iteration is an aggregation over the persisted word
table, never a corpus re-scan. Per merge step: one explode of adjacent
symbol pairs weighted by word count + one map-side-combinable groupBy,
then a 1-ROW argmax collect (the driver must know the winning pair to
build the next iteration's plan — same bounded driver-scalar pattern as
the k-means Lloyd loop in operators/similarity.py).

Symbol-string representation (the determinism/correctness core): a
word's current segmentation is stored as ``{s1}{s2}...{sN}{</w>}`` —
every symbol brace-wrapped, NO shared delimiter characters between
adjacent symbols. Merging pair (a,b) is then the literal string
replacement ``{a}{b}`` → ``{ab}``: left-to-right non-overlapping
replacement (identical semantics in Java's String.replace and DuckDB's
replace) IS greedy BPE merging — e.g. ``{a}{a}{a}`` merges the first
two and leaves the third, exactly like the reference algorithm. A
space-delimited representation would break here: adjacent occurrences
share the separator space, so single-pass replace misses every second
occurrence. Words are restricted to ``[a-z]+`` runs so '{' / '}' can
never occur inside a symbol.

Tie-breaking: max pair count, then lexicographically smallest (left,
right) — pure ASCII byte order, identical in Spark and DuckDB, so the
learned vocabulary is bit-reproducible under any partitioning.
"""

from __future__ import annotations

import heapq
import time

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_tank_spark.plans import shared

WORD_REGEX = r"([a-z]+)"

# seed segmentation: one symbol per character + the end-of-word marker
_SEED_EXPR = (
    "concat(array_join(transform(sequence(1, length(word)),"
    " i -> concat('{', substr(word, i, 1), '}')), ''), '{</w>}')"
)
# symbols back out of the brace string
_SYMS_EXPR = r"regexp_extract_all(syms, '\\{([^}]*)\\}', 1)"


@dataclass(frozen=True)
class Merge:
    step: int
    left: str
    right: str
    count: int

    @property
    def merged(self) -> str:
        return self.left + self.right


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus scan → the global (word, cnt) table. Explode +
    map-side-combinable count; the output is vocabulary-sized."""
    return (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_REGEX}', 1)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def seed_symbols(words: DataFrame) -> DataFrame:
    """Add the brace-wrapped per-character segmentation column ``syms``.
    The transform HOF is interpreted, but it runs once per DISTINCT word
    over bounded word lengths — not on the token stream."""
    return words.withColumn("syms", F.expr(_SEED_EXPR))


def _pair_counts(segmented: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency. Single-symbol
    words are filtered BEFORE the transform: Spark's sequence(1, 0)
    would generate a DESCENDING [1, 0] range, not an empty one."""
    sl = segmented.select("cnt", F.expr(_SYMS_EXPR).alias("sl")).filter(
        F.size("sl") >= 2
    )
    pairs = sl.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, size(sl) - 1),"
                " i -> struct(element_at(sl, i) AS l, element_at(sl, i + 1) AS r))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
        F.sum("cnt").alias("pair_cnt")
    )


def merge_expr(col: Column, left: str, right: str) -> Column:
    """The literal merge rewrite ``{left}{right}`` → ``{leftright}``."""
    return F.replace(
        col,
        F.lit("{" + left + "}{" + right + "}"),
        F.lit("{" + left + right + "}"),
    )


def train_merges(segmented: DataFrame, n_merges: int) -> list[Merge]:
    """Learn ``n_merges`` BPE merges from a seeded word table.

    Callers should pass a PERSISTED ``segmented`` frame (plans/shared.py
    stage): each iteration's argmax action re-evaluates the replace
    chain from that base — k cheap projections over a vocabulary-sized
    table at step k, never a corpus re-scan."""
    merges: list[Merge] = []
    cur = segmented
    for step in range(1, n_merges + 1):
        top = (
            _pair_counts(cur)
            .orderBy(F.col("pair_cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:  # vocabulary fully merged — nothing left to learn
            break
        row = top[0]
        m = Merge(step, row["l"], row["r"], row["pair_cnt"])
        merges.append(m)
        cur = cur.withColumn("syms", merge_expr(F.col("syms"), m.left, m.right))
    return merges


class _LazyHeapArgmax:
    """Lazy-deletion heap over the live pair-count dict: the driver
    argmax in O(log n) amortized instead of an O(n) full-dict scan per
    merge — the scan was the only per-merge cost that GROWS with dict
    size, and BPE_SCALE_r14.json measured it dominating exactly where
    the distributed trainer runs (≥1e5-pair dicts).

    Protocol: ``push`` after EVERY pc mutation (the heap may hold
    stale entries; pc stays the single source of truth), ``best``
    peeks the top and discards entries whose stored count no longer
    matches pc. Correctness: every live key's current count has an
    entry (init heapify + push-on-update), the heap key (-cnt, l, r)
    is exactly the sequential tie order, and a LIVE top therefore
    IS the argmax — any entry above the best live key is stale-high
    and gets popped on mismatch. Memory: stale entries are bounded by
    total delta updates; ``best`` rebuilds when the heap outgrows
    2×|pc| + 1024, so the structure stays O(|pc|)."""

    def __init__(self, pc: dict[tuple[str, str], int]) -> None:
        self._pc = pc
        self._rebuild()

    def _rebuild(self) -> None:
        self._heap = [(-c, l, r) for (l, r), c in self._pc.items()]
        heapq.heapify(self._heap)

    def push(self, key: tuple[str, str], cnt: int) -> None:
        heapq.heappush(self._heap, (-cnt, key[0], key[1]))

    def best(self) -> tuple[tuple[str, str], int] | None:
        if len(self._heap) > 2 * len(self._pc) + 1024:
            self._rebuild()
        while self._heap:
            negc, left, right = self._heap[0]
            if self._pc.get((left, right)) == -negc:
                return (left, right), -negc
            heapq.heappop(self._heap)  # stale: count changed or key dead
        return None


def train_merges_incremental(
    segmented: DataFrame,
    n_merges: int,
    checkpoint_every: int = 16,
    initial_pc: dict[tuple[str, str], int] | None = None,
    lazy_heap: bool = True,
    stats: dict | None = None,
) -> list[Merge]:
    """Learn ``n_merges`` BPE merges with INCREMENTAL pair-count deltas —
    the scale path past the naive loop's O(n_merges) full recounts.

    State split (the standard trick public BPE trainers use, adapted to
    a distributed word table):

    - **Driver**: the pair-count dict. Bounded by the number of distinct
      ADJACENT symbol pairs in the segmented vocabulary — at most the
      total symbol positions of the distinct-word table (~1e7 for a 1e6
      -word web vocabulary), independent of corpus size. The argmax per
      step is driver-memory-only (ZERO Spark jobs) and, by default,
      O(log n) amortized through a lazy-deletion heap
      (:class:`_LazyHeapArgmax`) — ``lazy_heap=False`` restores the
      r11-r13 full-dict scan, kept so the A/B in
      scripts/bpe_incremental_scale.py stays same-host measurable.
    - **Executors**: the segmented word table. Per step exactly ONE
      Spark job runs: filter to the words that CONTAIN the merged pair
      (only those change — Sennrich's incremental observation), compute
      their pair bags before and after the rewrite in one projection,
      and collect the (small) net delta, which updates the driver dict.

    Lineage control: the rewrite is one chained ``replace`` projection
    per step over the persisted base; every ``checkpoint_every`` steps
    the chain is truncated with ``shared.cut(eager=True)`` (a local
    checkpoint, or reliable ``checkpoint()`` on a cluster, exactly as
    GraphX does) so the per-job evaluation depth — and Catalyst's
    analysis time — stays bounded (the k-means/CC lesson from
    operators/similarity.py).

    Bit-identical to :func:`train_merges` (pinned in tests/test_bpe.py):
    same counts, same max-count-then-lexicographic tie-break (pure ASCII
    byte order — Python tuple compare == Spark/DuckDB binary collation
    for the [a-z</>]-only symbol alphabet).
    """
    pc: dict[tuple[str, str], int] = (
        initial_pc
        if initial_pc is not None
        else {
            (r["l"], r["r"]): r["pair_cnt"]
            for r in _pair_counts(segmented).collect()
        }
    )
    merges: list[Merge] = []
    cur = segmented
    heap = _LazyHeapArgmax(pc) if lazy_heap else None
    if stats is not None:
        # per-phase attribution (argmax vs everything else): end-to-end
        # deltas on this VM drift multi-x between runs, so the heap-vs-
        # scan comparison is made on the accumulated single-thread
        # argmax seconds, which are drift- and contention-stable
        stats["argmax_sec"] = 0.0
        stats["n_pairs_initial"] = len(pc)
        stats["argmax"] = "lazy_heap" if lazy_heap else "full_dict_scan"
    for step in range(1, n_merges + 1):
        if not pc:  # vocabulary fully merged — nothing left to learn
            break
        _t0 = time.perf_counter() if stats is not None else 0.0
        if heap is not None:
            (left, right), cnt = heap.best()
        else:
            (left, right), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
        if stats is not None:
            stats["argmax_sec"] += time.perf_counter() - _t0
        merges.append(Merge(step, left, right, cnt))
        pattern = "{" + left + "}{" + right + "}"
        new_syms = merge_expr(F.col("syms"), left, right)
        affected = cur.filter(F.contains("syms", F.lit(pattern))).select(
            "cnt", F.col("syms").alias("syms_old"), new_syms.alias("syms_new")
        )
        # one bag: old pairs weighted -cnt, new pairs weighted +cnt →
        # groupBy nets out the unchanged ones map-side
        both = affected.select(
            (-F.col("cnt")).alias("cnt"), F.col("syms_old").alias("syms")
        ).unionAll(affected.select("cnt", F.col("syms_new").alias("syms")))
        for d in _pair_counts(both).filter(F.col("pair_cnt") != 0).collect():
            k = (d["l"], d["r"])
            nv = pc.get(k, 0) + d["pair_cnt"]
            if nv < 0:
                raise AssertionError(
                    f"negative pair count for {k!r} at step {step}: {nv}"
                )
            if nv == 0:
                pc.pop(k, None)
            else:
                pc[k] = nv
                if heap is not None:
                    # push cost is charged to argmax_sec: maintaining
                    # the argmax structure is part of its price
                    _t0 = time.perf_counter() if stats is not None else 0.0
                    heap.push(k, nv)
                    if stats is not None:
                        stats["argmax_sec"] += time.perf_counter() - _t0
        cur = cur.withColumn("syms", new_syms)
        if step % checkpoint_every == 0:
            cur = shared.cut(cur, eager=True)
    return merges


def _safe_merge_batch(
    pc: dict[tuple[str, str], int], max_batch: int
) -> list[tuple[tuple[str, str], int]]:
    """Select a batch of merges that sequential BPE would provably pick
    in exactly this order with exactly these counts — the order-safety
    core of :func:`train_merges_incremental_batched`.

    Selection: walk the pairs in sequential-argmax order (count desc,
    then lexicographic), accepting a CONTIGUOUS prefix and stopping at
    the first pair that (a) shares a symbol with an accepted pair, or
    (b) uses a symbol string equal to an accepted pair's concatenation
    (applying that earlier merge would mint new instances of the
    string and could inflate this pair's count). Then truncate to the
    pairs whose count is STRICTLY greater than the stopping pair's.

    Why this is bit-equal to one-at-a-time argmax, given the batch
    p1..pk (c1 >= .. >= ck > c*, c* = the stop boundary count):

    - accepted pairs are pairwise disjoint and collision-free, so
      applying p1..p_{i-1} cannot create or destroy an occurrence of
      p_i — its count at sequential step i is its recorded count;
    - every pair TOUCHING an accepted symbol ranks at-or-after the
      stopping pair (the prefix is contiguous), so its count is
      <= c* < c_i; applying merges only ever DECREASES old-symbol
      pair counts, so at step i it still cannot outrank p_i;
    - every NEW pair minted by an applied merge (one side a fresh
      concat symbol) maps occurrence-for-occurrence onto an ORIGINAL
      touching adjacency, so its count is <= that touching pair's
      <= c* < c_i. (The strict `> c*` truncation is what closes the
      tie hole: a new pair may tie a touching pair's count while
      sorting lexicographically EARLIER — e.g. merging ("a","z")
      mints ("az","b") which outsorts ("c","c") although its bound
      ("z","b") does not — so equality with c* is not safe.)

    Hence at step i the sequential argmax over the true updated dict
    is exactly p_i. A conflict at the very top (tie between the
    argmax and its conflicting neighbour) truncates to an empty list;
    the caller falls back to the plain single-merge step.
    """
    cap = max_batch + 1  # +1: the boundary item must be visible
    top = heapq.nsmallest(
        cap, pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )
    syms: set[str] = set()
    concats: set[str] = set()
    accepted: list[tuple[tuple[str, str], int]] = []
    boundary: int | None = None
    for (l, r), cnt in top:
        if len(accepted) >= max_batch:
            boundary = cnt
            break
        if l in syms or r in syms or l in concats or r in concats:
            boundary = cnt
            break
        accepted.append(((l, r), cnt))
        syms.update((l, r))
        concats.add(l + r)
    # boundary is None only when the WHOLE dict was accepted (then all
    # pairs are mutually disjoint — no touching pairs exist to bound)
    if boundary is not None:
        accepted = [a for a in accepted if a[1] > boundary]
    return accepted


def train_merges_incremental_batched(
    segmented: DataFrame,
    n_merges: int,
    checkpoint_every: int = 64,
    max_batch: int = 64,
    stats: dict | None = None,
    initial_pc: dict[tuple[str, str], int] | None = None,
) -> list[Merge]:
    """:func:`train_merges_incremental` with the O(n_merges) job chain
    cut: each round applies a BATCH of provably order-safe merges
    (:func:`_safe_merge_batch`) in ONE Spark job — one filter over the
    words containing any batch pattern, one chained-replace rewrite,
    one netted pair-count delta collect — instead of one job per
    merge. Natural-language pair distributions share symbols heavily
    at the head, so batch sizes are data-dependent; the honest average
    is measured per run in BPE_SCALE_r13.json rather than claimed.
    Falls back to the single-merge step whenever the safe batch is
    empty (top-of-dict tie), so progress is unconditional. Bit-equal
    to train_merges / train_merges_incremental / train_merges_local
    (pinned in tests/test_bpe.py).

    Honest regime record (this trainer is OPT-IN, not the auto
    default): the r13 motivation was cutting the per-merge full-dict
    argmax scan, but the r14 end-to-end A/B at a 704k-pair dict
    (BPE_SCALE_r14.json, multi-script 1M-word corpus, 256 merges both
    ways, bit-equal) measured batching 0.72× — real Zipf heads share
    symbols so hard that safe batches collapse (mean 1.68, p50 1),
    and the per-round heapq.nsmallest is the same O(n) scan as a min,
    so the saved scans (152 rounds vs 256 merges) don't cover the
    wider rounds' costlier filter/rewrite/delta job. The scan term
    itself is now gone from the unbatched trainer (lazy-heap argmax),
    which beats this trainer locally at every measured dict size.
    What batching still buys: 1.7× fewer SEQUENTIAL Spark jobs — use
    it when cluster scheduling latency, not local compute, is the
    binding constraint."""
    pc: dict[tuple[str, str], int] = (
        initial_pc
        if initial_pc is not None
        else {
            (r["l"], r["r"]): r["pair_cnt"]
            for r in _pair_counts(segmented).collect()
        }
    )
    merges: list[Merge] = []
    cur = segmented
    since_checkpoint = 0  # merges since truncation
    rounds_since = 0  # rounds since truncation — plan DEPTH grows per
    # round (one chained projection each), so small-batch regimes must
    # truncate on round count too or Catalyst analysis time dominates
    # (measured: 35 one-checkpoint rounds ran 2x slower than 64
    # every-16 unbatched steps on a 20k vocab)
    if stats is not None:  # measurement hook (scripts/bpe_incremental_scale.py)
        stats["batch_sizes"] = []
        stats["n_pairs_initial"] = len(pc)
    while len(merges) < n_merges and pc:
        batch = _safe_merge_batch(pc, min(max_batch, n_merges - len(merges)))
        if not batch:  # top-of-dict tie conflict — one sequential step
            batch = [
                min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            ]
        new_merges = [
            Merge(len(merges) + i + 1, l, r, cnt)
            for i, ((l, r), cnt) in enumerate(batch)
        ]
        patterns = ["{" + m.left + "}{" + m.right + "}" for m in new_merges]
        hit = F.contains("syms", F.lit(patterns[0]))
        for p in patterns[1:]:
            hit = hit | F.contains("syms", F.lit(p))
        new_syms = F.col("syms")
        for m in new_merges:
            new_syms = merge_expr(new_syms, m.left, m.right)
        affected = cur.filter(hit).select(
            "cnt", F.col("syms").alias("syms_old"), new_syms.alias("syms_new")
        )
        both = affected.select(
            (-F.col("cnt")).alias("cnt"), F.col("syms_old").alias("syms")
        ).unionAll(affected.select("cnt", F.col("syms_new").alias("syms")))
        for d in _pair_counts(both).filter(F.col("pair_cnt") != 0).collect():
            k = (d["l"], d["r"])
            nv = pc.get(k, 0) + d["pair_cnt"]
            if nv < 0:
                raise AssertionError(
                    f"negative pair count for {k!r} after batch "
                    f"{[m.merged for m in new_merges]}: {nv}"
                )
            if nv == 0:
                pc.pop(k, None)
            else:
                pc[k] = nv
        merges.extend(new_merges)
        if stats is not None:
            stats["batch_sizes"].append(len(new_merges))
        cur = cur.withColumn("syms", new_syms)
        since_checkpoint += len(new_merges)
        rounds_since += 1
        if since_checkpoint >= checkpoint_every or rounds_since >= 8:
            cur = shared.cut(cur, eager=True)
            since_checkpoint = 0
            rounds_since = 0
    return merges


def _merge_symbol_list(sl: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge of (left, right) in a
    symbol list — the list twin of merge_expr's single-pass replace."""
    out: list[str] = []
    i, n = 0, len(sl)
    while i < n:
        if i + 1 < n and sl[i] == left and sl[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sl[i])
            i += 1
    return out


def train_merges_local(
    word_freqs: list[tuple[list[str], int]], n_merges: int
) -> list[Merge]:
    """Driver-local incremental BPE over a collected word-frequency
    table — the production fast path (what public tokenizer trainers
    run once the corpus is collapsed to its bounded vocabulary).

    Pure in-memory pair-count maintenance: a pair→count dict plus a
    pair→{word index} inverted index so each merge touches only the
    words that CONTAIN the pair. Bit-equal to train_merges /
    train_merges_incremental: same counts, same max-count-then-
    lexicographically-smallest tie-break."""
    words: list[list[str]] = [list(sl) for sl, _ in word_freqs]
    counts: list[int] = [c for _, c in word_freqs]
    pc: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    for idx, sl in enumerate(words):
        c = counts[idx]
        for a, b in zip(sl, sl[1:]):
            pc[(a, b)] = pc.get((a, b), 0) + c
            occ.setdefault((a, b), set()).add(idx)
    merges: list[Merge] = []
    for step in range(1, n_merges + 1):
        if not pc:
            break
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append(Merge(step, left, right, cnt))
        for idx in sorted(occ.get((left, right), ())):
            old = words[idx]
            new = _merge_symbol_list(old, left, right)
            c = counts[idx]
            for a, b in zip(old, old[1:]):  # counts: per OCCURRENCE
                nv = pc[(a, b)] - c
                if nv:
                    pc[(a, b)] = nv
                else:
                    del pc[(a, b)]
            for p in set(zip(old, old[1:])):  # index: per DISTINCT pair
                s = occ[p]
                s.discard(idx)
                if not s:
                    del occ[p]
            for a, b in zip(new, new[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
                occ.setdefault((a, b), set()).add(idx)
            words[idx] = new
    return merges


# Dispatch bound for the collect-and-train fast path, in TOTAL SYMBOL
# OCCURRENCES across the vocabulary — not rows: driver heap for the
# collected table is dominated by per-symbol Python string objects
# (~60-90 bytes each for short strings, before interning) plus ~8-byte
# list slots, so a row count under-estimates the footprint by the mean
# word length (round-12 advisory fix — 4M rows of 7-symbol words is
# ~28M strings ≈ several GB, not "under a gigabyte"). Measured at the
# 1M-word envelope (BPE_SCALE_r12.json): 74.4 bytes/symbol → the 8M
# bound is ~0.6 GB of word table; the local trainer's occ-index adds
# ~0.4 GB on top (peak RSS 1.59 GB total at 4096 merges).
DRIVER_SYMBOL_LIMIT = 8_000_000

def train_merges_auto(
    segmented: DataFrame,
    n_merges: int,
    driver_symbol_limit: int = DRIVER_SYMBOL_LIMIT,
) -> list[Merge]:
    """Dispatch on the (bounded) vocabulary SIZE IN SYMBOLS:
    collect-and-train locally when the seeded word table fits the
    driver — the standard public-tokenizer shape — else run the
    distributed incremental-delta loop. The pre-dispatch job is a
    single column-pruned sum over the symbol-list lengths (collecting
    first and counting after would OOM exactly in the case the bound
    exists to catch). All trainers are bit-equal (pinned in
    tests/test_bpe.py).

    The distributed path is the UNBATCHED incremental trainer with the
    lazy-heap argmax, unconditionally. The r13 advisory asked whether
    to dispatch on pair-dict size between it and the batched trainer;
    the r14 end-to-end measurement (BPE_SCALE_r14.json, multi-script
    1M-word corpus, 704k-pair dict, 256 merges both ways) answered
    differently: the batched trainer LOST wall-clock (319 vs 230 s,
    0.72×) because real Zipf heads share symbols so hard that safe
    batches collapse to mean 1.68 — the saved argmax scans don't cover
    the wider rounds' job cost. The lazy heap then removes the scan
    term entirely (the only per-merge cost that grows with dict size),
    making the unbatched trainer the right default at EVERY dict size;
    no dispatch needed. train_merges_incremental_batched remains
    opt-in for deployments where sequential JOB COUNT is the binding
    constraint (high scheduling-latency clusters — it still runs 1.7×
    fewer jobs)."""
    n_syms = segmented.select(
        F.sum(F.size(F.expr(_SYMS_EXPR))).alias("n")
    ).first()["n"]
    if (n_syms or 0) <= driver_symbol_limit:
        rows = segmented.select(
            F.expr(_SYMS_EXPR).alias("sl"), "cnt"
        ).collect()
        return train_merges_local(
            [(r["sl"], r["cnt"]) for r in rows], n_merges
        )
    return train_merges_incremental(segmented, n_merges)


def apply_merges(segmented: DataFrame, merges: list[Merge]) -> DataFrame:
    """Re-segment a seeded word table with an already-learned merge
    list: one chained-replace projection, pure codegen, no actions."""
    out = F.col("syms")
    for m in merges:
        out = merge_expr(out, m.left, m.right)
    return segmented.withColumn("syms", out)


def token_count_col(syms: Column | str = "syms") -> Column:
    """Number of BPE tokens in a segmentation = number of '{' braces."""
    c = F.col(syms) if isinstance(syms, str) else syms
    return (F.length(c) - F.length(F.replace(c, F.lit("{"), F.lit("")))).cast(
        "long"
    )
