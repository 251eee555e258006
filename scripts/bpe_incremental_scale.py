"""Distributed incremental BPE at a production merge count — the
round-12 verdict's task 2.

BPE_SCALE_r12.json proved the 1M-word LOCAL path (collect-and-train,
0.17-0.31 s/merge); the distributed incremental path stopped at 64
merges (91 s) because each merge cost one full-dict driver argmax
(O(|pairs|) ~ 1e7 scan) plus one Spark job. This measures the fix —
train_merges_incremental_batched — at >=1024 merges on the same
1M-word vocabulary:

- one heapq.nsmallest per ROUND instead of a full min per MERGE,
- one Spark job per ROUND applying every provably order-safe merge in
  the round's batch (contiguous disjoint prefix + strict count
  truncation — see the _safe_merge_batch docstring for the proof),

and records the honest per-round batch-size distribution (batching is
data-dependent: head pairs share symbols), the unbatched trainer at a
comparison merge count, the local trainer at the same >=1024 count,
and bit-equality of batched-vs-local prefixes.

Usage: python scripts/bpe_incremental_scale.py [vocab] [n_merges] [out]
           [generator] [unbatched_full]
Defaults: 1_000_000 words, 1024 merges, BPE_SCALE_r13.json, latin, 0.

``generator=multiscript`` draws the vocabulary over a ~2k-character
multi-script alphabet, putting the seeded pair dict at >=1e6 entries —
the regime the batched trainer targets (r13 verdict #5; a 26-letter
corpus caps the dict near 3k pairs and batching measures SLOWER there,
which is why train_merges_auto now dispatches on pair-dict size).
``unbatched_full=1`` additionally runs the UNBATCHED incremental
trainer end-to-end at the full merge count, so batched-vs-unbatched is
a wall-clock A/B at identical depth, not an extrapolation.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from flink_tank_spark.operators import bpe  # noqa: E402
from flink_tank_spark.session import get_spark  # noqa: E402
from scripts.bpe_scale_curve import synth_vocab, synth_vocab_multiscript  # noqa: E402


def main() -> None:
    n_vocab = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    out_path = sys.argv[3] if len(sys.argv) > 3 else "BPE_SCALE_r13.json"
    generator = sys.argv[4] if len(sys.argv) > 4 else "latin"
    unbatched_full = bool(int(sys.argv[5])) if len(sys.argv) > 5 else False
    spark = get_spark("bpe-incremental-scale", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")

    gen = {"latin": synth_vocab, "multiscript": synth_vocab_multiscript}[generator]
    words = bpe.seed_symbols(
        spark.createDataFrame(gen(n_vocab), "word string, cnt long")
    ).persist()
    n_words = words.count()
    report: dict = {"vocab_size": n_vocab, "n_words": n_words,
                    "n_merges": n_merges, "generator": generator}

    # batched incremental at the production merge count
    stats: dict = {}
    t0 = time.time()
    batched = bpe.train_merges_incremental_batched(
        words, n_merges, stats=stats
    )
    bt = time.time() - t0
    sizes = stats["batch_sizes"]
    report["batched_incremental"] = {
        "n_merges": len(batched),
        "sec": round(bt, 2),
        "sec_per_merge": round(bt / max(1, len(batched)), 4),
        "rounds": len(sizes),
        "spark_jobs_saved_vs_unbatched": len(batched) - len(sizes),
        "batch_size_mean": round(sum(sizes) / max(1, len(sizes)), 2),
        "batch_size_max": max(sizes, default=0),
        "batch_size_p50": sorted(sizes)[len(sizes) // 2] if sizes else 0,
        "n_pairs_initial": stats["n_pairs_initial"],
    }
    print(json.dumps({"batched_incremental": report["batched_incremental"]}),
          flush=True)

    # unbatched incremental: end-to-end at the FULL merge count when
    # requested (the honest wall-clock A/B — r13 verdict #5), else at a
    # comparison count (a full run on a small-dict corpus would be
    # dominated by costs that are not the point of the comparison).
    # Both argmax variants run back-to-back same-host: the lazy-heap
    # default and the r11-r13 full-dict scan it replaced.
    n_cmp = n_merges if unbatched_full else min(128, n_merges)
    t0 = time.time()
    unbatched = bpe.train_merges_incremental(words, n_cmp)  # lazy heap
    ut = time.time() - t0
    report["unbatched_incremental"] = {
        "argmax": "lazy_heap",
        "n_merges": len(unbatched),
        "sec": round(ut, 2),
        "sec_per_merge": round(ut / max(1, len(unbatched)), 4),
        "full_depth": unbatched_full,
    }
    print(json.dumps({"unbatched_incremental": report["unbatched_incremental"]}),
          flush=True)
    t0 = time.time()
    unb_scan = bpe.train_merges_incremental(words, n_cmp, lazy_heap=False)
    st = time.time() - t0
    report["unbatched_scan_argmax"] = {
        "argmax": "full_dict_scan",
        "n_merges": len(unb_scan),
        "sec": round(st, 2),
        "sec_per_merge": round(st / max(1, len(unb_scan)), 4),
    }
    report["heap_vs_scan_speedup"] = round(st / ut, 2)
    assert [(m.step, m.left, m.right, m.count) for m in unbatched] == [
        (m.step, m.left, m.right, m.count) for m in unb_scan
    ], "lazy-heap argmax != scan argmax"
    print(json.dumps({"unbatched_scan_argmax": report["unbatched_scan_argmax"],
                      "heap_vs_scan_speedup": report["heap_vs_scan_speedup"]}),
          flush=True)
    if unbatched_full:
        report["batched_vs_unbatched_end_to_end"] = {
            "batched_sec": report["batched_incremental"]["sec"],
            "unbatched_heap_sec": round(ut, 2),
            "unbatched_scan_sec": round(st, 2),
            "batched_over_heap": round(bt / ut, 2),
        }

    # matched-depth A/B: batched at the SAME merge count as unbatched,
    # so the per-merge comparison is not confounded by depth-dependent
    # costs (pair-dict growth, affected-set size). Redundant when the
    # unbatched run was already full-depth (depths already match).
    if not unbatched_full:
        t0 = time.time()
        batched_cmp = bpe.train_merges_incremental_batched(words, n_cmp)
        bct = time.time() - t0
        report["batched_at_cmp"] = {
            "n_merges": len(batched_cmp),
            "sec": round(bct, 2),
            "sec_per_merge": round(bct / max(1, len(batched_cmp)), 4),
        }
        print(json.dumps({"batched_at_cmp": report["batched_at_cmp"]}), flush=True)

    # local trainer at the same production count (the collect path the
    # auto dispatch picks when the vocab fits the driver)
    rows = words.select(F.expr(bpe._SYMS_EXPR).alias("sl"), "cnt").collect()
    wf = [(r["sl"], r["cnt"]) for r in rows]
    t0 = time.time()
    local = bpe.train_merges_local(wf, n_merges)
    lt = time.time() - t0
    report["local"] = {
        "n_merges": len(local),
        "sec": round(lt, 2),
        "sec_per_merge": round(lt / max(1, len(local)), 4),
    }
    print(json.dumps({"local": report["local"]}), flush=True)

    key = lambda ms: [(m.step, m.left, m.right, m.count) for m in ms]  # noqa: E731
    assert key(batched) == key(local), "batched != local at production count"
    assert key(unbatched) == key(local[: len(unbatched)]), "unbatched != local prefix"
    report["bit_equality"] = (
        f"batched@{len(batched)} == local@{len(local)}; "
        f"unbatched@{len(unbatched)} == local prefix"
    )

    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
