"""Crash-safe partition-swap protocol for the streaming index compacts.

The incremental sinks (streaming/sketches.py, matview.py, scd.py,
topk.py, wsample.py) accumulate per-micro-batch ``ingest_batch=<b>``
parquet partitions, each written with mode=overwrite so a foreachBatch
replay after a crash is idempotent, and periodically fold them into one
merged ``ingest_batch=-1`` partition. A compact runs only while the
stream is STOPPED: compacting a partition whose batch could still
replay would let the replayed delta double-count on top of the merged
row it was folded into. The naive swap (write tmp → delete
originals → rename tmp) has a silent-corruption window: a crash after
the deletes but before the rename leaves ZERO visible partitions (the
underscore-prefixed tmp dir is hidden from Spark reads), so the next
stream start would treat the accumulated corpus as FRESH and silently
miss every batch-vs-prior-corpus pair.

Protocol (per table base dir), with ``_compact_tmp`` already fully
written by the caller:

1. rename every ``ingest_batch=K`` → ``_old_ingest_batch=K``  (hide)
2. rename ``_compact_tmp``        → ``ingest_batch=-1``       (COMMIT)
3. delete the ``_old_*`` dirs                                 (clean)

Every step is a directory rename/delete; the single atomic rename in
step 2 is the commit point. Any crash leaves a DETECTABLE state:

- tmp present, no ``_old_*``    → interrupted before hiding (or a stale
  partial tmp write): originals intact, reads safe, recovery deletes
  the tmp.
- tmp present, ``_old_*`` exist → interrupted mid-hide or pre-commit:
  recovery ROLLS BACK (renames the olds back, deletes the tmp).
- no tmp, ``_old_*`` exist      → commit happened (step 2's atomic
  rename either left tmp or created ``ingest_batch=-1``): recovery
  ROLLS FORWARD (deletes the leftover olds).

``check_readable`` raises on any state where a Spark read of the base
dir would silently return partial or empty data — the index readers
call it before trusting "no partitions = fresh index".
"""

from __future__ import annotations

import os
import shutil

TMP_NAME = "_compact_tmp"
OLD_PREFIX = "_old_"
MERGED_PART = "ingest_batch=-1"


def _entries(base: str) -> list[str]:
    return os.listdir(base) if os.path.isdir(base) else []


def parts(base: str) -> list[str]:
    """Visible ``ingest_batch=`` partition dir names under ``base``."""
    return [e for e in _entries(base) if e.startswith("ingest_batch=")]


def _olds(base: str) -> list[str]:
    return [
        e for e in _entries(base)
        if e.startswith(OLD_PREFIX + "ingest_batch=")
    ]


def check_readable(base: str) -> None:
    """Raise if ``base`` is in an interrupted-compact state a plain
    Spark read would misinterpret (partial index, or 'fresh' when an
    accumulated corpus exists). Consistent states — including a stale
    tmp next to intact originals — pass."""
    olds = _olds(base)
    if olds:
        raise RuntimeError(
            f"interrupted compact under {base!r}: {len(olds)} hidden "
            f"{OLD_PREFIX}ingest_batch= partition(s) present — run "
            "recover()/compact() before reading or streaming"
        )
    if os.path.isdir(os.path.join(base, TMP_NAME)) and not parts(base):
        raise RuntimeError(
            f"interrupted compact under {base!r}: {TMP_NAME} exists with "
            "zero visible ingest_batch= partitions — run "
            "recover()/compact() before reading or streaming"
        )


def recover(base: str) -> None:
    """Resolve any interrupted swap under ``base`` (see module
    docstring): roll forward a committed swap, roll back an uncommitted
    one, drop a stale tmp. No-op on a consistent dir."""
    olds = _olds(base)
    tmp = os.path.join(base, TMP_NAME)
    if olds and not os.path.isdir(tmp):
        # commit point passed — finish the cleanup
        for e in olds:
            shutil.rmtree(os.path.join(base, e))
        return
    if olds:
        # pre-commit — restore the originals, discard the merged tmp
        for e in olds:
            orig = e[len(OLD_PREFIX):]
            target = os.path.join(base, orig)
            if os.path.exists(target):
                raise RuntimeError(
                    f"cannot roll back {e!r} under {base!r}: {orig!r} "
                    "already exists"
                )
            os.rename(os.path.join(base, e), target)
        shutil.rmtree(tmp)
        return
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # stale partial write, originals intact


def commit_swap(base: str, original_parts: list[str]) -> None:
    """Swap a fully-written ``_compact_tmp`` in as ``ingest_batch=-1``,
    replacing ``original_parts``, via the hide → commit → clean
    protocol. The caller must have finished writing the tmp dir."""
    for e in original_parts:
        os.rename(os.path.join(base, e), os.path.join(base, OLD_PREFIX + e))
    os.rename(os.path.join(base, TMP_NAME), os.path.join(base, MERGED_PART))
    for e in original_parts:
        shutil.rmtree(os.path.join(base, OLD_PREFIX + e))
