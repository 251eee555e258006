"""Per-phase attribution of the BPE driver argmax: lazy heap vs
full-dict scan, measured INSIDE the trainer.

Why this exists: the end-to-end heap-vs-scan A/B in
BPE_SCALE_r14_heap.json read 1.01× — but the same unbatched trainer
measured 229.8 s and 360.8 s on this host 40 minutes apart
(BPE_SCALE_r14.json vs _heap.json), so a ~60 s expected effect can
vanish inside the drift. The pure-python microbench puts one full-dict
min at 0.25 s for a 704k-pair dict and 2.8 s at 1e7 (matching the r13
microbench), i.e. ~64 s over 256 merges. This script settles it with
drift-immune instrumentation: the trainer accumulates its own argmax
seconds (scan or heap incl. push maintenance) per run, and the
comparison is made on THOSE single-thread, contention-stable numbers,
not on end-to-end walls.

Usage: python scripts/bpe_argmax_phase.py [vocab] [n_merges] [out] [generator]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


from flink_tank_spark.operators import bpe  # noqa: E402
from flink_tank_spark.session import get_spark  # noqa: E402
from scripts.bpe_scale_curve import synth_vocab, synth_vocab_multiscript  # noqa: E402


def main() -> None:
    n_vocab = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    out_path = sys.argv[3] if len(sys.argv) > 3 else "BPE_ARGMAX_PHASE_r14.json"
    generator = sys.argv[4] if len(sys.argv) > 4 else "multiscript"
    spark = get_spark("bpe-argmax-phase", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    gen = {"latin": synth_vocab, "multiscript": synth_vocab_multiscript}[generator]
    words = bpe.seed_symbols(
        spark.createDataFrame(gen(n_vocab), "word string, cnt long")
    ).persist()
    words.count()

    report: dict = {"vocab": n_vocab, "n_merges": n_merges,
                    "generator": generator, "runs": []}
    results = {}
    for argmax in ("lazy_heap", "full_dict_scan"):
        st: dict = {}
        t0 = time.time()
        merges = bpe.train_merges_incremental(
            words, n_merges, lazy_heap=(argmax == "lazy_heap"), stats=st
        )
        wall = round(time.time() - t0, 2)
        row = {
            "argmax": argmax,
            "n_merges": len(merges),
            "wall_sec": wall,
            "argmax_sec": round(st["argmax_sec"], 3),
            "argmax_sec_per_merge": round(
                st["argmax_sec"] / max(1, len(merges)), 4
            ),
            "other_sec": round(wall - st["argmax_sec"], 2),
            "n_pairs_initial": st["n_pairs_initial"],
        }
        results[argmax] = merges
        report["runs"].append(row)
        print(json.dumps(row), flush=True)

    key = lambda ms: [(m.step, m.left, m.right, m.count) for m in ms]  # noqa: E731
    assert key(results["lazy_heap"]) == key(results["full_dict_scan"])
    report["bit_equal"] = True
    a = {r["argmax"]: r for r in report["runs"]}
    report["argmax_speedup"] = round(
        a["full_dict_scan"]["argmax_sec"] / max(1e-9, a["lazy_heap"]["argmax_sec"]), 1
    )
    report["scan_share_of_wall"] = round(
        a["full_dict_scan"]["argmax_sec"] / a["full_dict_scan"]["wall_sec"], 3
    )
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
