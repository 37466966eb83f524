"""Crash-safe writes to a parquet sink directory: replace and append.

Parquet has no transactional MERGE (that is Delta's job at production
scale); this is the no-Delta stand-in shared by the batch scrape ingest
(sources.scrape_pipeline), the streaming upsert (streaming.pipeline) and
the near-dup admission store (streaming.dedup_lsh). Every write first
goes to ``<sink>.staging``; then one of two moves publishes it.

**Replace** (:func:`promote_staging`)::

    rename live aside to ``<sink>.old`` → promote staging → drop ``.old``

Crash contract: CRASH-RECOVERABILITY, not continuous read availability.
Between the two renames the live path briefly does not exist (a
concurrent reader can see FileNotFoundError for that instant), but a
crash at ANY point leaves a state from which :func:`recover_sink`
restores a complete sink — previously written rows are never lost. The
old rmtree-then-rename approach had a window where a crash lost the
entire sink and a replayed batch would rebuild from itself alone.

**Append** (:func:`append_staging`): move staging's non-empty data
files into the live sink one ``os.rename`` at a time, O(Δ) — the live
files are never rewritten; the first write of a sink promotes instead.

Crash contract: the per-file renames are not atomic as a group. A crash
mid-move leaves the live sink complete with a PREFIX of the append's
files visible, and :func:`recover_sink` discards the rest with the
staging dir. Callers therefore append rows whose keys are absent from
the live sink and re-derive the remainder on rerun or replay by
anti-joining against it: rows already moved are skipped, the rest are
written again, and the sink converges to the uninterrupted result.
"""

from __future__ import annotations

import os
import shutil


def promote_staging(sink_path: str) -> None:
    """Promote a fully-written ``<sink>.staging`` dir to the live sink:
    rename live aside to ``.old`` (never rmtree it first), promote
    staging, then drop ``.old``."""
    old = sink_path + ".old"
    if os.path.exists(sink_path):
        os.rename(sink_path, old)
    os.rename(sink_path + ".staging", sink_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def append_staging(sink_path: str, prefix: str) -> None:
    """Append a fully-written ``<sink>.staging`` dir to the live sink:
    move each non-empty data file in as ``<prefix><file name>``, then
    drop staging — so an append of zero rows adds no file. When the sink
    does not exist yet, promote staging instead (its schema-only file
    then creates an empty sink). Crash contract: module docstring."""
    import pyarrow.parquet as pq

    staging = sink_path + ".staging"
    if not os.path.exists(sink_path):
        promote_staging(sink_path)
        return
    for f in sorted(os.listdir(staging)):
        src = os.path.join(staging, f)
        if f.endswith(".parquet") and pq.read_metadata(src).num_rows:
            os.rename(src, os.path.join(sink_path, prefix + f))
    shutil.rmtree(staging)


def recover_sink(sink_path: str) -> None:
    """Restore the newest complete sink from whatever combination of
    ``.staging``/``.old`` a crash left behind.

    Invariant the protocol maintains: the live dir is only renamed to
    ``.old`` AFTER the staging write completed — so if the live dir is
    missing and ``.old`` exists, staging is complete and can be promoted;
    a ``.staging`` left while the live dir exists is an unfinished write
    and is discarded.
    """
    tmp, old = sink_path + ".staging", sink_path + ".old"
    if not os.path.exists(sink_path):
        if os.path.exists(tmp) and os.path.exists(old):
            # crashed between the two renames: staging was complete.
            os.rename(tmp, sink_path)
            shutil.rmtree(old)
        elif os.path.exists(old):
            os.rename(old, sink_path)
    elif os.path.exists(old):
        # crashed before cleanup; the live dir is the newer state.
        shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
