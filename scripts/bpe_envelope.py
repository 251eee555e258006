"""BPE trainer envelope at a realistic web-scale vocabulary.

The round-11 curve (BPE_SCALE_r11.json) stopped at a 20k-word vocab /
256 merges. This measures the production question the round-12 verdict
asked: what does the collect-and-train local path actually cost the
DRIVER at a ~1M-word vocabulary with 1-4k merges — wall time AND
resident memory — and does the symbol-count dispatch bound
(operators/bpe.DRIVER_SYMBOL_LIMIT) keep the collect inside a sane
driver heap? The previous row-count bound under-estimated memory by
the mean word length (round-12 advisory); this script is the measured
evidence for the re-tuned bound.

Memory is sampled from /proc/self/status (VmRSS, current) and
resource.ru_maxrss (peak) around the collect and each training run, so
the JSON separates the word-table footprint from the trainer's
occ-index footprint.

Usage: python scripts/bpe_envelope.py [vocab_size] [out_json]
Writes one JSON file, prints one line per stage.
"""

from __future__ import annotations

import json
import resource
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from flink_tank_spark.operators import bpe  # noqa: E402
from flink_tank_spark.session import get_spark  # noqa: E402
from scripts.bpe_scale_curve import synth_vocab  # noqa: E402


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return round(int(line.split()[1]) / 1024, 1)
    return -1.0


def _peak_mb() -> float:
    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def main() -> None:
    n_vocab = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BPE_SCALE_r12.json"
    spark = get_spark("bpe-envelope", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")

    report: dict = {"vocab_size": n_vocab, "rss_mb_start": _rss_mb()}

    words = bpe.seed_symbols(
        spark.createDataFrame(synth_vocab(n_vocab), "word string, cnt long")
    ).persist()
    n_words = words.count()

    # the dispatch aggregate train_merges_auto runs
    n_syms = words.select(
        F.sum(F.size(F.expr(bpe._SYMS_EXPR))).alias("n")
    ).first()["n"]
    report.update(
        n_words=n_words,
        n_symbols=int(n_syms),
        driver_symbol_limit=bpe.DRIVER_SYMBOL_LIMIT,
        dispatch="local" if n_syms <= bpe.DRIVER_SYMBOL_LIMIT else "incremental",
    )
    print(json.dumps({k: report[k] for k in (
        "n_words", "n_symbols", "driver_symbol_limit", "dispatch")}), flush=True)

    # measure the collect separately from training: this is the
    # footprint DRIVER_SYMBOL_LIMIT bounds
    rss0 = _rss_mb()
    t0 = time.time()
    rows = words.select(F.expr(bpe._SYMS_EXPR).alias("sl"), "cnt").collect()
    table = [(r["sl"], r["cnt"]) for r in rows]
    del rows
    collect_s = round(time.time() - t0, 2)
    rss1 = _rss_mb()
    report["collect"] = {
        "sec": collect_s,
        "rss_mb_before": rss0,
        "rss_mb_after": rss1,
        "word_table_mb": round(rss1 - rss0, 1),
        "bytes_per_symbol": round((rss1 - rss0) * 1024 * 1024 / n_syms, 1),
    }
    print(json.dumps({"collect": report["collect"]}), flush=True)

    report["curve"] = []
    for n_merges in (256, 1024, 4096):
        r0 = _rss_mb()
        t0 = time.time()
        merges = bpe.train_merges_local(table, n_merges)
        dt = time.time() - t0
        row = {
            "trainer": "local",
            "n_merges": n_merges,
            "learned": len(merges),
            "sec": round(dt, 2),
            "sec_per_merge": round(dt / max(1, len(merges)), 4),
            "rss_mb_after": _rss_mb(),
            "trainer_delta_mb": round(_rss_mb() - r0, 1),
        }
        report["curve"].append(row)
        print(json.dumps(row), flush=True)

    # spot-check the distributed trainer agrees at the envelope's base
    # point (bit-equality at 1M words would take the incremental path
    # ~an hour for 4096 merges; 64 merges pins the algorithms agree on
    # THIS vocabulary, the r11 suite pins full equality on smaller ones)
    t0 = time.time()
    inc = bpe.train_merges_incremental(words, 64)
    report["incremental_64"] = {"sec": round(time.time() - t0, 2)}
    loc = bpe.train_merges_local(table, 64)
    assert [(m.left, m.right, m.count) for m in inc] == [
        (m.left, m.right, m.count) for m in loc
    ], "incremental != local at n=64 on the envelope vocabulary"
    report["bit_equality"] = "incremental@64 == local@64"
    report["rss_mb_peak"] = _peak_mb()

    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {out_path}", flush=True)


if __name__ == "__main__":
    main()
