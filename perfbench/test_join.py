"""The latency join on a tiny synthetic chain of checkpoint files.

    python3 -m pytest perfbench/test_join.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import join  # noqa: E402


def _write(path: str, lines: list[str], mtime: float | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _source_log(chk: str, name: str, entries: list[tuple[str, int]]) -> None:
    _write(os.path.join(chk, "sources", "0", name), ["v1"] + [
        json.dumps({"path": f"file:///x/{f}", "timestamp": 0, "batchId": b})
        for f, b in entries
    ])


def _batch(chk: str, b: int, log_offset: int, started_ms: int, committed: float | None) -> None:
    _write(os.path.join(chk, "offsets", str(b)), [
        "v1", json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": started_ms}),
        json.dumps({"logOffset": log_offset}),
    ])
    if committed is not None:
        _write(os.path.join(chk, "commits", str(b)), ["v1", "{}"], mtime=committed)


def _chain(tmp_path, job2_last_commit: float | None):
    """Job 1 reads in-0 and in-1 in batch 0, in-2 in batch 1 and in-3
    (errors only) in batch 2. Job 2 reads batch 0's output in its batch
    0, runs a timer-only batch 1, and reads both of Job-1 batch 1's
    output files in its batch 2; the second of them is listed by a
    compacted source log."""
    chk1, chk2 = str(tmp_path / "chk1"), str(tmp_path / "chk2")
    _source_log(chk1, "0", [("in-0.jsonl", 0), ("in-1.jsonl", 0)])
    _source_log(chk1, "1", [("in-2.jsonl", 1)])
    _source_log(chk1, "2", [("in-3.jsonl", 2)])
    _batch(chk1, 0, 0, 100_000, 101.0)
    _batch(chk1, 1, 1, 102_000, 103.0)
    _batch(chk1, 2, 2, 104_000, 105.0)
    outputs = ["batch-00000000.txt", "batch-00000001-0000.txt", "batch-00000001-0001.txt"]
    _source_log(chk2, "0", [(outputs[0], 0)])
    _source_log(chk2, "2.compact", [(outputs[0], 0), (outputs[1], 1), (outputs[2], 2)])
    _batch(chk2, 0, 0, 101_500, 102.0)
    _batch(chk2, 1, 0, 102_500, 102.9)
    _batch(chk2, 2, 2, 103_500, job2_last_commit)
    w1, w2 = join.CheckpointWatcher(chk1), join.CheckpointWatcher(chk2)
    w1.poll()
    w2.poll()
    return w1, w2, outputs


INPUTS = ["in-0.jsonl", "in-1.jsonl", "in-2.jsonl", "in-3.jsonl", "in-4.jsonl"]


def test_each_file_maps_to_the_job2_commit_that_absorbed_it(tmp_path):
    w1, w2, outputs = _chain(tmp_path, job2_last_commit=106.0)
    assert join.absorb_times(w1, w2, outputs, INPUTS) == {
        "in-0.jsonl": 102.0,
        "in-1.jsonl": 102.0,
        # both output files of Job-1 batch 1, read past a timer-only batch
        "in-2.jsonl": 106.0,
        # in-3: its batch wrote no output, so it has no Job-2 absorption
        "in-4.jsonl": None,  # not read by Job 1 yet
    }


def test_output_read_but_not_committed_is_pending(tmp_path):
    w1, w2, outputs = _chain(tmp_path, job2_last_commit=None)
    times = join.absorb_times(w1, w2, outputs, INPUTS[:3])
    assert times == {"in-0.jsonl": 102.0, "in-1.jsonl": 102.0, "in-2.jsonl": None}


def test_watcher_keeps_entries_spark_has_purged(tmp_path):
    w1, w2, outputs = _chain(tmp_path, job2_last_commit=106.0)
    for sub in ("offsets", "commits"):
        os.remove(os.path.join(w2.chk, sub, "0"))
    w2.poll()
    assert join.absorb_times(w1, w2, outputs, ["in-0.jsonl"]) == {"in-0.jsonl": 102.0}


def test_backlog_counts_files_waiting_at_batch_start(tmp_path):
    w1, _, _ = _chain(tmp_path, job2_last_commit=106.0)
    created = {"in-0.jsonl": 99.0, "in-1.jsonl": 99.5, "in-2.jsonl": 100.5, "in-3.jsonl": 101.5}
    # at 100 s (batch 0) in-0 and in-1 wait; at 102 s (batch 1) in-2 and in-3
    assert join.backlog_max(w1, created) == 2
