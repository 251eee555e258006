"""Per-event latency join, read from outside the program.

Two checkpointed queries are chained through files: Job 1 reads wire
files, and each of its micro-batches writes ``batch-<id>[-<part>].txt``
(``jobs.pipeline.idempotent_wire_sink``); Job 2 reads those files. An
input file's events reach Job 2's aggregation state when the Job-2
micro-batch that read the file's Job-1 output commits. This module
rebuilds that chain from the two checkpoint directories alone:

- ``sources/0/<n>[.compact]``: the file-source log, one JSON entry per
  file with the source-log batch ``n`` that listed it;
- ``offsets/<b>``: micro-batch ``b``'s end offset, ``{"logOffset": n}``,
  and its start time ``batchTimestampMs``;
- ``commits/<b>``: written when micro-batch ``b`` is done; its mtime is
  the commit time.

Micro-batch ids and source-log ids differ once a query runs batches
without new files (timer-only batches), so a file is mapped to the
micro-batch whose ``logOffset`` range covers its source-log id.

Spark purges offsets and commits older than the last 100 batches, so
:class:`CheckpointWatcher` is polled while the queries run and keeps
every entry it has seen.
"""

from __future__ import annotations

import bisect
import json
import os
import urllib.parse


class CheckpointWatcher:
    def __init__(self, chk: str):
        self.chk = chk
        self.file_log: dict[str, int] = {}  # file name -> source-log id
        self.end_offset: dict[int, int] = {}  # micro-batch -> logOffset
        self.started_ms: dict[int, int] = {}  # micro-batch -> start time
        self.committed: dict[int, float] = {}  # micro-batch -> commit time
        self._seen: set[str] = set()

    def _new(self, sub: str) -> list[tuple[str, str]]:
        d = os.path.join(self.chk, sub)
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            key = f"{sub}/{n}"
            if key in self._seen or not n.split(".")[0].isdigit():
                continue
            if n.endswith(".tmp") or n.startswith("."):
                continue
            out.append((n, os.path.join(d, n)))
        return out

    def poll(self) -> None:
        for n, path in self._new("commits"):
            try:
                self.committed[int(n)] = os.stat(path).st_mtime
            except FileNotFoundError:
                continue
            self._seen.add(f"commits/{n}")
        for n, path in self._new("offsets"):
            lines = read_lines(path)
            if len(lines) < 3:
                continue  # not yet complete
            meta = json.loads(lines[1])
            off = json.loads(lines[2])
            self.started_ms[int(n)] = int(meta.get("batchTimestampMs", 0))
            self.end_offset[int(n)] = int(off["logOffset"])
            self._seen.add(f"offsets/{n}")
        for n, path in self._new("sources/0"):
            lines = read_lines(path)
            if not lines:
                continue
            for line in lines[1:]:
                e = json.loads(line)
                name = os.path.basename(urllib.parse.unquote(e["path"]))
                self.file_log[name] = int(e["batchId"])
            self._seen.add(f"sources/0/{n}")

    def batch_of_file(self) -> dict[str, int]:
        """File name -> the micro-batch that read it (planned batches only)."""
        batches = sorted(self.end_offset)
        ends = [self.end_offset[b] for b in batches]
        out = {}
        for name, log_id in self.file_log.items():
            i = bisect.bisect_left(ends, log_id)
            if i < len(batches):
                out[name] = batches[i]
        return out


def read_lines(path: str) -> list[str]:
    try:
        with open(path) as f:
            return [ln for ln in f.read().split("\n") if ln.strip()]
    except FileNotFoundError:
        return []


def job1_batch_of_output(name: str) -> int:
    """``batch-00000007.txt`` / ``batch-00000007-0003.txt`` -> 7."""
    return int(name[len("batch-"):len("batch-") + 8])


def absorb_times(
    job1: CheckpointWatcher, job2: CheckpointWatcher, outputs: list[str],
    inputs: list[str],
) -> dict[str, float | None]:
    """Input file name -> commit time of the Job-2 micro-batch that
    absorbed the file's Job-1 output.

    ``outputs`` lists the Job-1 output file names on disk. The value is
    None until the Job-1 batch that read the file has committed and Job 2
    has committed every output file of that batch. A file whose Job-1
    batch committed without output (every event went to the error wire)
    is left out.
    """
    read_by1 = job1.batch_of_file()
    read_by2 = job2.batch_of_file()
    by_b1: dict[int, float | None] = {}
    for name in outputs:
        b1 = job1_batch_of_output(name)
        b2 = read_by2.get(name)
        t = job2.committed.get(b2) if b2 is not None else None
        if t is None or by_b1.get(b1, 0.0) is None:
            by_b1[b1] = None
        else:
            by_b1[b1] = max(by_b1.get(b1, 0.0), t)
    out: dict[str, float | None] = {}
    for name in inputs:
        b1 = read_by1.get(name)
        if b1 is None or b1 not in job1.committed:
            out[name] = None
        elif b1 in by_b1:
            out[name] = by_b1[b1]
    return out


def backlog_max(watcher: CheckpointWatcher, created: dict[str, float]) -> int:
    """Most files present but not yet read when any micro-batch started.

    ``created`` maps each source file to the epoch time it appeared.
    """
    read_in = watcher.batch_of_file()
    best = 0
    for b, ms in watcher.started_ms.items():
        t = ms / 1000.0
        n = sum(
            1 for f, c in created.items()
            if c <= t and read_in.get(f, 1 << 62) >= b
        )
        best = max(best, n)
    return best
