"""End-to-end training-corpus curation job (batch).

Composes the LLM-pipeline operators into the sequence a real corpus
build runs — the job-level artifact behind the individual registry
queries (each stage is the same logic the oracle gate verifies):

  1. exact dedup         keep the min-id doc per content hash
  2. near-dup dedup      MinHash-LSH pairs → connected components →
                         keep the component canon (operators/dedup.py)
  3. repetition filter   Gopher-style duplicate-n-gram fractions
  4. quality filter      punctuation/stopword/length heuristic score
  5. decontamination     drop docs sharing any word-8-gram with the
                         eval suite (GPT-3-style overlap rule)
  6. materialize         lang-partitioned parquet + one JSON stats line

Scale shape: stages 3-4 are per-row map work fused into the corpus
scan; stage 1 is one hash-keyed shuffle; stage 2 is the blocked
LSH + label-propagation pipeline (never all-pairs); stage 5 broadcasts
the (small) eval-suite n-gram set against the corpus scan. Every
per-doc decision is computed as a FLAG column first, so the stage
funnel is ONE aggregation over one pass of the flag table, not a
count-job per stage.

Usage:
    python -m flink_tank_spark.jobs.curation_job \\
        --sf-dir /root/testdata/sf0.01 --out /tmp/corpus \\
        [--min-quality 0.2] [--max-dup-3gram 0.5] [--no-decontam]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tank_spark.io.tables import load_table, write_partitioned
from flink_tank_spark.operators import dedup, text

# Stage order defines the funnel semantics: a doc is "dropped by stage
# k" only if it survived stages 1..k-1. The containment stage is in the
# funnel unconditionally (flag semantics stay fixed); with the option
# off its flag is constant-true and costs nothing.
STAGES = ("exact", "neardup", "containment", "repetition", "quality", "decontam")


def curation_flags(
    docs: DataFrame,
    min_quality: float = 0.2,
    max_dup_3gram: float = 0.5,
    eval_docs: DataFrame | None = None,
    containment: bool | str = False,
) -> DataFrame:
    """Per-doc keep/drop flags for every stage: (doc_id, lang,
    keep_<stage> for each of STAGES, kept).

    ``eval_docs``: (doc_id, text) benchmark suite for decontamination;
    None ⇒ keep_decontam is true everywhere. ``containment`` selects
    the subset-duplicate detector mode:

    - ``False`` / ``"off"``: keep_containment is true everywhere and
      the prefix-filter join never runs;
    - ``True`` / ``"global"``: drop docs contained ≥0.9 in a larger
      doc of the FULL input corpus (stage-independent verdict — see
      the in-line semantics note);
    - ``"survivors"``: drop docs contained ≥0.9 in a larger doc that
      itself SURVIVED every other stage (r13 verdict #7) — a
      container dropped by quality/decontam no longer takes its
      contained docs' content out of the corpus. The verdict now
      depends on the other stages' outcome, which is exactly the
      point; the pair join runs on the (smaller) survivor set. The
      construction references the other flags' subplan twice — the
      heavy LSH/CC stage is materialized by the lineage cuts inside
      connected_components so it is built once; the remaining
      recompute is one extra hash-dedup shuffle + decontam pass over
      ``docs`` (persist ``docs`` upstream if that matters).
    """
    mode = {False: "off", True: "global"}.get(containment, containment)
    if mode not in ("off", "global", "survivors"):
        raise ValueError(f"containment mode {containment!r}")
    with_words = docs.select(
        "doc_id", "lang", "text", F.split("text", " ").alias("_w")
    )

    # 1. exact: min doc_id per content hash survives.
    hashed = with_words.withColumn("_h", F.md5(F.col("text").cast("binary")))
    canon_exact = hashed.groupBy("_h").agg(F.min("doc_id").alias("_keep_id"))
    flags = hashed.join(canon_exact, "_h").withColumn(
        "keep_exact", F.col("doc_id") == F.col("_keep_id")
    ).drop("_h", "_keep_id")

    # 2. near-dup: component canon survives — the SAME pipeline (and
    # constants) the oracle-certified doc_dedup_groups/doc_dedup_corpus
    # queries run, single-sourced in operators/dedup.lsh_near_dup_pairs.
    pairs = dedup.lsh_near_dup_pairs(docs).select("id_a", "id_b")
    dropped_nd = (
        dedup.connected_components(pairs)
        .filter(F.col("canon_id") < F.col("doc_id"))
        .select("doc_id")
        .withColumn("_nd_drop", F.lit(True))
    )
    flags = flags.join(F.broadcast(dropped_nd), "doc_id", "left").withColumn(
        "keep_neardup", F.col("_nd_drop").isNull()
    ).drop("_nd_drop")

    # 4./5. per-row map stages.
    rep = text.repetition_stats(F.col("_w"), F.col("text"))
    flags = flags.withColumn(
        "keep_repetition", rep["dup_3gram_frac"] <= F.lit(max_dup_3gram)
    ).withColumn(
        "keep_quality", text.quality_score(F.col("text")) >= F.lit(min_quality)
    )

    # 5. decontamination: any shared word-8-gram with the eval suite.
    # The scan covers EVERY corpus doc — deliberately including docs
    # whose text IS an eval doc (whatever their ids): under the
    # GPT-3-style overlap rule a benchmark doc present verbatim in the
    # training corpus is the worst contamination case and must be
    # dropped, never shipped. No id-based exemption: eval_docs may be an
    # external benchmark suite whose id namespace is unrelated to the
    # corpus, so doc_id equality carries no meaning here.
    if eval_docs is not None:
        # shingles_from_words REQUIRES a materialized words column: an
        # inline split is re-evaluated per element inside the
        # interpreted HOF lambda — O(words²) per doc (see its docstring)
        gram = lambda df: df.select(  # noqa: E731
            "doc_id", "text", F.split("text", " ").alias("_gw")
        ).select(
            "doc_id",
            F.explode(
                text.shingles_from_words(F.col("_gw"), F.col("text"), 8)
            ).alias("g"),
        )
        eval_grams = gram(eval_docs).select("g").distinct()
        contaminated = (
            gram(docs)
            .join(F.broadcast(eval_grams), "g")
            .select("doc_id")
            .distinct()
            .withColumn("_ct_drop", F.lit(True))
        )
        # unlike the near-dup drop list, contamination has no smallness
        # guarantee — plain (shuffled) join, AQE may still broadcast it
        flags = flags.join(contaminated, "doc_id", "left").withColumn(
            "keep_decontam", F.col("_ct_drop").isNull()
        ).drop("_ct_drop")
    else:
        flags = flags.withColumn("keep_decontam", F.lit(True))

    # 3. containment (computed last so the "survivors" mode can see the
    # other flags; its funnel POSITION stays third — STAGES order): keep-
    # one dedup over the exact containment-≥0.9 pair set — subset
    # duplicates have J → 0, so the Jaccard stages above structurally
    # cannot catch them. containment_drop_ids drops a doc only when
    # contained in a LARGER doc (ties keep the smaller id), so
    # mutual-containment pairs lose one member, never both; the pair
    # set underneath is the oracle-certified doc_containment_dups join
    # (lossless prefix/positional/multi-match prunes).
    #
    # "global" drop-list semantics are stage-independent, matching the
    # doc_containment_corpus oracle and the neardup stage above: the
    # pair set is computed over the FULL input corpus, so doc A
    # contained in B is dropped even when B itself is later dropped by
    # quality/decontam — A's content then ships in no surviving doc.
    # Each keep_* flag is an independent verdict on the raw corpus (the
    # funnel counts stay composable and every stage stays
    # oracle-checkable in isolation). "survivors" trades that
    # composability for content preservation: the candidate container
    # pool is restricted to docs whose OTHER flags are all true, so a
    # quality-dropped container can no longer evict its contained docs.
    # Note the drop rule itself is unchanged (shared literal
    # containment_drop_ids); only the input corpus differs.
    if mode == "off":
        flags = flags.withColumn("keep_containment", F.lit(True))
    else:
        if mode == "global":
            pool = docs
        else:  # survivors of every non-containment stage
            other_ok = None
            for s in STAGES:
                if s == "containment":
                    continue
                c = F.col(f"keep_{s}")
                other_ok = c if other_ok is None else other_ok & c
            pool = docs.join(
                flags.filter(other_ok).select("doc_id"), "doc_id"
            )
        contained = dedup.containment_drop_ids(
            dedup.shingle_sets(pool)
        ).withColumn("_cn_drop", F.lit(True))
        # no smallness guarantee — plain join, AQE picks the strategy
        flags = flags.join(contained, "doc_id", "left").withColumn(
            "keep_containment", F.col("_cn_drop").isNull()
        ).drop("_cn_drop")

    kept = None
    for s in STAGES:
        c = F.col(f"keep_{s}")
        kept = c if kept is None else kept & c
    return flags.select(
        "doc_id", "lang", *[f"keep_{s}" for s in STAGES], kept.alias("kept")
    )


def funnel_stats(flags: DataFrame) -> dict:
    """Stage funnel in ONE aggregation pass: survivors after each stage
    (in order) plus total/kept."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    running = None
    for s in STAGES:
        c = F.col(f"keep_{s}")
        running = c if running is None else running & c
        aggs.append(F.sum(running.cast("long")).alias(f"after_{s}"))
    row = flags.agg(*aggs).first().asDict()
    row["n_kept"] = row[f"after_{STAGES[-1]}"]
    return row


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="curation_job")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-quality", type=float, default=0.2)
    ap.add_argument("--max-dup-3gram", type=float, default=0.5)
    ap.add_argument("--no-decontam", action="store_true")
    # optional round-10/11 curation stages
    ap.add_argument("--containment", action="store_true",
                    help="drop docs contained >=0.9 in another doc "
                         "(global semantics: containers drop their "
                         "contained docs even if themselves dropped "
                         "later)")
    ap.add_argument("--containment-after-filters", action="store_true",
                    help="survivor-relative containment: only docs "
                         "that pass every other stage count as "
                         "containers, so a quality-dropped container "
                         "does not evict its contained docs (implies "
                         "the containment stage; overrides "
                         "--containment)")
    ap.add_argument("--sample-k", type=int, default=0,
                    help="downsample the kept corpus to the ticket-ballot "
                         "weighted sample of k winning tickets (0 = off)")
    ap.add_argument("--dsir-scores", action="store_true",
                    help="attach the per-doc DSIR importance score column")
    ap.add_argument("--vocab-stats", action="store_true",
                    help="report per-source OOV stats of the shipped corpus")
    args = ap.parse_args(argv)

    from flink_tank_spark.session import get_spark

    spark = get_spark("curation-job")
    return run(spark, args)


def run(spark: SparkSession, args) -> int:
    docs = load_table(spark, args.sf_dir, "documents")
    # default eval suite: the same doc_id % 11 == 0 slice the
    # doc_contamination registry query treats as the benchmark set
    eval_docs = None if args.no_decontam else docs.filter(
        F.col("doc_id") % 11 == 0
    ).select("doc_id", "text")
    sample_k = getattr(args, "sample_k", 0) or 0
    containment_mode: bool | str = getattr(args, "containment", False)
    if getattr(args, "containment_after_filters", False):
        containment_mode = "survivors"
    flags = curation_flags(
        docs, args.min_quality, args.max_dup_3gram, eval_docs,
        containment=containment_mode,
    ).persist()  # consumed twice (corpus write + funnel stats): compute once
    corpus = None
    try:
        kept_ids = flags.filter("kept").select("doc_id")
        corpus = docs.join(kept_ids, "doc_id")
        extra_stats: dict = {}

        # optional downsample: ticket-ballot weighted bottom-k over the
        # KEPT corpus (TakeOrderedAndProject — no global sort). The
        # sample is a funnel stage: later stages see only its docs.
        if sample_k:
            from flink_tank_spark.plans.sampling import weighted_sample

            winners = weighted_sample(
                corpus.select("doc_id", "text"), sample_k
            ).select("doc_id")
            corpus = corpus.join(winners, "doc_id")

        # optional per-doc DSIR importance score on the SHIPPED corpus
        # (weight table derived from the shipped pool — selection
        # scores are relative to what actually ships)
        if getattr(args, "dsir_scores", False):
            from flink_tank_spark.plans.sampling import (
                dsir_bucket_counts,
                dsir_doc_scores,
            )

            scores = dsir_doc_scores(
                dsir_bucket_counts(corpus.select("doc_id", "lang", "text"))
            ).select("doc_id", F.col("score_ppm").alias("dsir_score_ppm"))
            # left join: single-token docs carry no bigram evidence
            corpus = corpus.join(scores, "doc_id", "left")

        if sample_k or getattr(args, "dsir_scores", False) or getattr(
            args, "vocab_stats", False
        ):
            # corpus now feeds 2-3 actions (write + stats + coverage) —
            # persist so the funnel joins/explodes run once
            corpus = corpus.persist()

        write_partitioned(corpus, args.out, ["lang"])
        stats = funnel_stats(flags)
        # funnel accounting: which containment semantics produced the
        # after_containment line (r13 verdict #7)
        stats["containment_mode"] = {False: "off", True: "global"}.get(
            containment_mode, containment_mode
        )
        if sample_k:
            extra_stats["n_sampled"] = corpus.count()

        # optional vocab-coverage OOV audit of the shipped corpus —
        # bounded output (one row per source), embedded in the stats
        if getattr(args, "vocab_stats", False):
            from flink_tank_spark.plans.vocab import (
                doc_token_counts,
                vocab_coverage_from_counts,
            )

            cov = vocab_coverage_from_counts(
                doc_token_counts(corpus.select("doc_id", "source", "text"))
            )
            extra_stats["vocab_coverage"] = [r.asDict() for r in cov.collect()]
    finally:
        flags.unpersist()
        if corpus is not None and corpus.is_cached:
            corpus.unpersist()
    print(json.dumps({"out": args.out, **stats, **extra_stats}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
