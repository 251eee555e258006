"""Per-merge cost curve: naive vs incremental vs local BPE training.

The round-10 verdict flagged train_merges (operators/bpe.py) as the one
remaining O(n_merges)-sequential-driver-loop scale envelope: each step
re-counted ALL pairs over a replace chain one withColumn deeper than the
last, so total cost grows superlinearly in n_merges. This script
measures the fix on a synthetic vocabulary large enough for the curve
to mean something (the sf0.01 documents table has only 31 distinct
words):

- naive      train_merges             full recount per step, growing chain
- incremental train_merges_incremental affected-word deltas + checkpoints
- local      train_merges_local        collected word table, in-memory

Output: one JSON line per (trainer, n_merges) with wall seconds, plus a
bit-equality assertion across all three at the largest common n.

Usage: python scripts/bpe_scale_curve.py [vocab_size] [out_json]
"""

from __future__ import annotations

import json
import random
import sys
import time

sys.path.insert(0, ".")


from flink_tank_spark.operators import bpe  # noqa: E402
from flink_tank_spark.session import get_spark  # noqa: E402


def synth_vocab(n_words: int, seed: int = 11) -> list[tuple[str, int]]:
    """Deterministic Zipf-ish vocabulary: words drawn from letter
    bigram chains so pair statistics are natural-language-shaped."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen: dict[str, int] = {}
    while len(seen) < n_words:
        ln = rng.choices(range(2, 13), weights=[6, 9, 10, 9, 7, 5, 4, 3, 2, 1, 1], k=1)[0]
        w = "".join(rng.choice(letters) for _ in range(ln))
        if w not in seen:
            # Zipf-ish count by arrival rank
            seen[w] = max(1, int(100000 / (len(seen) + 1) ** 0.9))
    return list(seen.items())


def synth_vocab_multiscript(n_words: int, seed: int = 11) -> list[tuple[str, int]]:
    """Deterministic Zipf-ish vocabulary over a MULTI-SCRIPT alphabet
    (~2k distinct characters: Latin + Cyrillic + Greek + Devanagari +
    a CJK slice + a Hangul slice) — the corpus shape whose seeded pair
    dict actually reaches >=1e6 distinct adjacent pairs (a 26-letter
    alphabet caps it near 26² ≈ 700 seed pairs no matter the corpus
    size), i.e. the regime the batched incremental trainer exists for
    (r13 verdict #5). Each word is drawn within ONE script, like real
    multilingual text; Zipf-ish counts by arrival rank as in
    synth_vocab."""
    rng = random.Random(seed)
    scripts = [
        "abcdefghijklmnopqrstuvwxyz",
        "".join(chr(c) for c in range(0x0410, 0x0450)),   # Cyrillic
        "".join(chr(c) for c in range(0x03B1, 0x03CA)),   # Greek lower
        "".join(chr(c) for c in range(0x0905, 0x0940)),   # Devanagari
        "".join(chr(c) for c in range(0x4E00, 0x4E00 + 1024)),  # CJK
        "".join(chr(c) for c in range(0xAC00, 0xAC00 + 768)),   # Hangul
    ]
    seen: dict[str, int] = {}
    while len(seen) < n_words:
        script = rng.choices(scripts, weights=[4, 2, 1, 1, 6, 3], k=1)[0]
        # CJK-like scripts use shorter words, alphabetic ones longer
        ln = (rng.choices(range(1, 6), weights=[4, 10, 6, 2, 1], k=1)[0]
              if len(script) > 200 else
              rng.choices(range(2, 13),
                          weights=[6, 9, 10, 9, 7, 5, 4, 3, 2, 1, 1], k=1)[0])
        w = "".join(rng.choice(script) for _ in range(ln))
        if w not in seen:
            seen[w] = max(1, int(100000 / (len(seen) + 1) ** 0.9))
    return list(seen.items())


def main() -> None:
    n_vocab = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BPE_SCALE_r11.json"
    spark = get_spark("bpe-scale-curve", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    vocab = synth_vocab(n_vocab)
    words = bpe.seed_symbols(
        spark.createDataFrame(vocab, "word string, cnt long")
    ).persist()
    words.count()

    results: list[dict] = []

    def run(label, fn, ns):
        for n in ns:
            t0 = time.time()
            merges = fn(words, n)
            dt = time.time() - t0
            row = {
                "trainer": label,
                "n_merges": n,
                "learned": len(merges),
                "sec": round(dt, 2),
                "sec_per_merge": round(dt / max(1, len(merges)), 4),
            }
            results.append(row)
            print(json.dumps(row), flush=True)
        return merges

    # naive gets slow fast — cap where the curve is already clear
    run("naive", bpe.train_merges, [8, 32, 64])
    inc = run(
        "incremental", bpe.train_merges_incremental, [8, 32, 64, 128, 256]
    )
    loc = run("local", lambda w, n: bpe.train_merges_auto(w, n), [256])

    naive64 = bpe.train_merges(words, 64)
    assert [(m.left, m.right, m.count) for m in inc[:64]] == [
        (m.left, m.right, m.count) for m in naive64
    ], "incremental != naive at n=64"
    assert [(m.left, m.right, m.count) for m in loc] == [
        (m.left, m.right, m.count) for m in inc
    ], "local != incremental at n=256"
    print("bit-equality: OK (naive@64 == incremental@64; local@256 == incremental@256)")

    with open(out_path, "w") as f:
        json.dump({"vocab_size": n_vocab, "curve": results}, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
