"""Atomic multi-table snapshots: ONE commit covering N tables.

Versioned, manifest-published time travel for ONE table is not
enough: the unit of consistency in a training-data pipeline is usually
a GROUP of tables: documents + their embeddings + the ANN index built
from them, or a mart + its dimension. Publishing
them with N independent commits leaves windows where a reader sees
documents@v7 joined to embeddings@v6 — the cross-table skew that
poisons a training run silently.

This module widens the snapshot manifest to a table GROUP:

    <root>/
      <table>/data/v<k>/part-*.parquet   per-table immutable data
      _snapshots/v<k>.json               THE commit: per-table file
                                         lists + schemas + counts

One version number spans all tables; visibility is still exactly one
atomic manifest rename, so every reader observes a CONSISTENT version
of the whole group or none of it (the Iceberg/Delta multi-table
transaction question, answered the same way both answer single-table:
the manifest IS the transaction log entry).

Contracts: manifest file lists (no directory LISTs —
object-store-safe), paths stored relative to the root, single-writer
(concurrent committers race the version and the loser raises), vacuum removes unreferenced data dirs including orphans from
pre-publish crashes. ``mode='append'`` appends per table — a table
absent from the batch carries forward unchanged, so an O(Δ)
incremental publish touches only the tables that changed.
"""

from __future__ import annotations

import errno
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_group_snapshot",
    "read_group_table",
    "list_group_snapshots",
    "vacuum_group_snapshots",
]

_MANIFEST_DIR = "_snapshots"


def _mdir(root: str) -> str:
    return os.path.join(root, _MANIFEST_DIR)


def _versions(root: str) -> list[int]:
    d = _mdir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load(root: str, version: int) -> dict:
    p = os.path.join(_mdir(root), f"v{version}.json")
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"group snapshot v{version} does not exist at {root} "
            f"(have: {_versions(root)})"
        )
    with open(p) as fh:
        return json.load(fh)


def _footer_count(data_dir: str, spark: SparkSession) -> int:
    """Exact row count of a parquet dir from file footers — metadata
    bytes only, zero Spark jobs (a count() job per committed table was
    a measurable slice of the mart slot's 28-job lifecycle). pyarrow is
    an OPTIONAL pyspark dependency, so a cluster without it falls back
    to the pre-round-10 Spark count rather than failing a commit whose
    data is already written."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return spark.read.parquet(data_dir).count()
    return sum(
        pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )


def _adopt_parquet_dir(
    src: str, data_dir: str, spark, written_dirs: list[str]
) -> tuple[str, int]:
    """Commit-by-reference leg of :func:`write_group_snapshot`: link the
    parquet data files of ``src`` into ``data_dir`` and return
    ``(schema_ddl, row_count)`` — the count summed from parquet footers
    (metadata-only) and the schema read lazily off the footer, so the
    whole adoption runs zero Spark jobs. ``errorifexists`` semantics
    via the makedirs failure, matching the DataFrame write path.

    Ordering contract: the source is validated BEFORE the version dir
    exists, and ``data_dir`` is registered in ``written_dirs`` the
    moment it is created — so a failure at ANY later point (a copy
    error, an unreadable footer) is cleaned up by the caller's
    written-dirs sweep instead of leaving an orphan v-dir that would
    make the retry of the same version die on FileExistsError."""
    files = [f for f in sorted(os.listdir(src)) if f.endswith(".parquet")]
    if not files:
        raise ValueError(f"no parquet data files to adopt under {src!r}")
    os.makedirs(data_dir)  # raises FileExistsError like errorifexists
    written_dirs.append(data_dir)
    for f in files:
        sp = os.path.join(src, f)
        dst = os.path.join(data_dir, f)
        try:
            os.link(sp, dst)
        except OSError:
            shutil.copy2(sp, dst)
    schema_ddl = spark.read.parquet(data_dir).schema.simpleString()
    return schema_ddl, _footer_count(data_dir, spark)


def write_group_snapshot(
    tables: dict[str, DataFrame | str],
    root: str,
    *,
    mode: str = "overwrite",
    spark: SparkSession | None = None,
) -> int:
    """Commit ``tables`` as ONE new version of the group; returns the
    version number. All tables' data is fully written BEFORE the single
    manifest rename makes any of it visible — a crash mid-write leaves
    only invisible garbage (vacuum's job).

    A table value may be a DataFrame (materialized by a Spark write) or
    a PATH STRING to an existing parquet directory, which is ADOPTED:
    its data files are hard-linked (copied where the filesystem refuses
    links) into the versioned layout and the row count comes from the
    parquet footers — commit-by-reference, the way Delta/Iceberg commit
    an already-written OPTIMIZE result without rewriting it. Zero Spark
    jobs on the adopt path (round 10; the mart slot's v2 commit was a
    full rewrite of files that already existed on disk). Pass ``spark``
    when EVERY value is a path (otherwise the session comes from any
    DataFrame in the group).

    ADOPTED FILES MUST BE IMMUTABLE: a hard link shares the inode, so
    mutating an adopted source file IN PLACE afterwards silently
    corrupts every committed version that references it. Deleting the
    source path or rewriting it via rename-swap (what every writer in
    this repo does — a new file replaces the directory entry, the
    linked inode survives untouched) is always safe; only in-place
    writes (open('r+'), truncate, append) violate the contract. Callers
    who cannot guarantee that must copy instead of passing a path.

    ``mode='overwrite'``: the version contains exactly the given
    tables. ``mode='append'``: given tables append to their previous
    file lists; tables NOT in ``tables`` carry forward unchanged —
    the incremental multi-table publish.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if not tables:
        raise ValueError("empty table group")
    vs = _versions(root)
    version = (vs[-1] + 1) if vs else 1
    prev = _load(root, vs[-1]) if (mode == "append" and vs) else {"tables": {}}

    # every data dir THIS commit successfully wrote — removed together
    # on ANY failure (a mid-commit error on table 3 must not leave
    # tables 1-2's v<k> dirs as orphans-until-vacuum). Appended only
    # AFTER the errorifexists write succeeds, so a dir that already
    # existed (a racing writer's data) is never in the list and never
    # deleted here.
    written_dirs: list[str] = []
    try:
        entries: dict[str, dict] = {}
        for v in tables.values():
            if isinstance(v, DataFrame):
                spark = v.sparkSession
                break
        if spark is None:
            raise ValueError(
                "all table values are paths — pass spark= explicitly"
            )
        for name, df in tables.items():
            data_dir = os.path.join(root, name, "data", f"v{version}")
            if isinstance(df, str):
                schema_ddl, count = _adopt_parquet_dir(
                    df, data_dir, spark, written_dirs
                )
            else:
                df.write.mode("errorifexists").parquet(data_dir)
                written_dirs.append(data_dir)
                schema_ddl = df.schema.simpleString()
                count = _footer_count(data_dir, spark)
            files = sorted(
                os.path.join(name, "data", f"v{version}", f)
                for f in os.listdir(data_dir)
                if f.endswith(".parquet")
            )
            prev_entry = prev["tables"].get(name)
            if prev_entry is not None:
                if prev_entry["schema_ddl"] != schema_ddl:
                    raise ValueError(
                        f"append schema mismatch for table {name!r}: "
                        f"{prev_entry['schema_ddl']} vs {schema_ddl}"
                    )
                files = prev_entry["files"] + files
                count += prev_entry["count"]
            entries[name] = {
                "files": files,
                "schema_ddl": schema_ddl,
                "count": count,
            }
        # untouched tables carry forward (append mode only)
        for name, entry in prev["tables"].items():
            entries.setdefault(name, entry)

        manifest = {"version": version, "mode": mode, "tables": entries}
        os.makedirs(_mdir(root), exist_ok=True)
        tmp = os.path.join(_mdir(root), f".v{version}.json.tmp.{os.getpid()}")
        final = os.path.join(_mdir(root), f"v{version}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            # THE commit: one atomic link — all tables become visible at
            # once, and a concurrent committer racing the same version
            # LOSES ATOMICALLY (link raises FileExistsError; no
            # check-then-rename window where both could "win")
            os.link(tmp, final)
        except FileExistsError:
            os.remove(tmp)
            raise FileExistsError(
                f"group snapshot v{version} already committed by a "
                "concurrent writer"
            ) from None
        except OSError as exc:
            # Filesystems without hard links (some FUSE / object-store
            # mounts) refuse os.link with EPERM/ENOTSUP/EOPNOTSUPP.
            # Fall back to exists-check + rename: still a single-syscall
            # publish, but with a check-then-rename window in which two
            # concurrent committers of the SAME version could both
            # "win" (last rename prevails). Single-writer deployments —
            # the documented contract for this operator — are unaffected.
            _no_link = {errno.EPERM, errno.ENOTSUP, errno.EOPNOTSUPP}
            if exc.errno not in _no_link:
                # unrelated failure: don't leak the tmp manifest
                # (_versions ignores dotfiles and vacuum scans only
                # data dirs, so nothing else would ever clean it)
                try:
                    os.remove(tmp)
                except OSError:
                    pass
                raise
            if os.path.exists(final):
                os.remove(tmp)
                raise FileExistsError(
                    f"group snapshot v{version} already committed by a "
                    "concurrent writer"
                ) from None
            os.rename(tmp, final)
        # COMMITTED from here: nothing below may reach the written-dirs
        # cleanup — an rmtree now would delete data a durable manifest
        # references. A tmp file that refuses to unlink is inert
        # garbage, never worth failing (or un-publishing) a commit for.
        try:
            os.remove(tmp)
        except OSError:
            pass
        return version
    except Exception:
        for d in written_dirs:
            shutil.rmtree(d, ignore_errors=True)
        raise


def read_group_table(
    spark: SparkSession, root: str, table: str, version: int | None = None
) -> DataFrame:
    """Read one table of a committed group version (default: latest).
    Every table read at the same ``version`` is guaranteed to come from
    the same atomic commit — the cross-table consistency contract."""
    vs = _versions(root)
    if not vs:
        raise FileNotFoundError(f"no group snapshots at {root}")
    v = vs[-1] if version is None else version
    m = _load(root, v)
    if table not in m["tables"]:
        raise KeyError(
            f"table {table!r} not in group v{v} "
            f"(has: {sorted(m['tables'])})"
        )
    return spark.read.parquet(
        *(os.path.join(root, f) for f in m["tables"][table]["files"])
    )


def list_group_snapshots(root: str) -> list[dict]:
    return [
        {
            "version": v,
            "mode": (m := _load(root, v))["mode"],
            "tables": {
                name: {"count": e["count"], "n_files": len(e["files"])}
                for name, e in m["tables"].items()
            },
        }
        for v in _versions(root)
    ]


def vacuum_group_snapshots(root: str, *, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` versions; delete every
    data directory no retained manifest references (incl. orphans from
    crashes before manifest publish)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = _versions(root)
    keep, drop = vs[-keep_last:], vs[:-keep_last]
    referenced: set[str] = set()
    for v in keep:
        for e in _load(root, v)["tables"].values():
            for f in e["files"]:
                referenced.add(
                    os.path.dirname(os.path.abspath(os.path.join(root, f)))
                )
    removed = []
    for entry in sorted(os.listdir(root)):
        data_root = os.path.join(root, entry, "data")
        if entry == _MANIFEST_DIR or not os.path.isdir(data_root):
            continue
        for d in sorted(os.listdir(data_root)):
            full = os.path.abspath(os.path.join(data_root, d))
            if full not in referenced:
                shutil.rmtree(full)
                removed.append(os.path.join(entry, "data", d))
    for v in drop:
        os.remove(os.path.join(_mdir(root), f"v{v}.json"))
    return {"dropped_versions": drop, "removed_dirs": removed}
