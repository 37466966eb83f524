"""Table-maintenance operators: small-file compaction.

A long-running incremental pipeline (foreachBatch appends, streaming
sinks) accretes many small files; scan cost and memory pressure grow
with file count, not bytes. Compaction rewrites a table to
``target_partitions`` right-sized files. Parquet has no transactional
rewrite (Delta's OPTIMIZE does this natively at production scale), so
the write goes to a staging directory and replaces the original only
after success — crash-safe: a failed compaction leaves the original
untouched.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: a file under half the target size counts as "small"; compaction is
#: recommended when more than this fraction (basis points) of a table's
#: files are small.
SMALL_FRACTION_GATE_BP = 2_500


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_partitions: int,
    *,
    zorder_cols: Sequence[str] | None = None,
    zorder_bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Rewrite a parquet directory into ``target_partitions`` files.

    ``zorder_cols`` pipelines the cluster-on-write into the SAME staged
    rewrite (Delta's ``OPTIMIZE ... ZORDER BY``): the small files are
    read once and land z-ordered — one pass instead of compact-then-
    re-read-then-re-write (round-10 fusion of the mart slot's two
    rewrites). Pass ``zorder_bounds`` when the caller already knows the
    per-column min/max (e.g. from the publish scan's observe metrics)
    to skip the bounds aggregate entirely. The crash contract is
    unchanged either way: staging dir first, live dir replaced only
    after a successful write.
    """
    df = spark.read.parquet(path)
    staging = path + ".compacting"
    if zorder_cols:
        from .zorder import write_zordered

        write_zordered(
            df,
            staging,
            zorder_cols,
            n_files=target_partitions,
            bounds=zorder_bounds,
        )
    else:
        # coalesce, not repartition: no shuffle — just fewer write tasks.
        df.coalesce(target_partitions).write.mode("overwrite").parquet(
            staging
        )
    old = path + ".old"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return spark.read.parquet(path)


def parquet_file_count(path: str) -> int:
    return sum(
        1
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def small_file_report_df(
    files: DataFrame,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    size_col: str = "bytes",
) -> DataFrame:
    """Small-file report: the compaction decision logic over a ``(file,
    bytes)`` RELATION instead of a local directory walk — the form the
    advisor takes at 100 TB, where the inventory is itself a table
    (S3 Inventory exports, Iceberg/Delta manifests, the snapshots
    module's file lists) rather than something the driver can os.walk.

    One row: ``n_files, total_bytes, p50_bytes, max_bytes, n_small,
    small_fraction_bp, recommend_compaction`` (all BIGINT; the
    recommendation as 0/1). ``p50_bytes`` is the lower median
    (``sizes[(n-1)//2]``)
    — rank-based, so it needs one sort of the INVENTORY (metadata
    scale: ~1 row per data file, KBs per million files), never of the
    data. Empty inventory -> empty relation (callers branch on it).
    """
    half = target_bytes // 2
    sizes = files.select(F.col(size_col).cast("long").alias("b"))
    stats = sizes.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("b").alias("total_bytes"),
        F.max("b").alias("max_bytes"),
        F.sum((F.col("b") < half).cast("long")).alias("n_small"),
    )
    ranked = sizes.select(
        "b",
        F.row_number().over(Window.orderBy("b")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    p50 = ranked.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select(F.col("b").alias("p50_bytes"))
    # exact integer floor-division ((x - x%n)/n — the division is of an
    # exact multiple), matching Python's `//` bit-for-bit;
    # floor(double division) drifts at ulp-adjacent quotients
    bp_num = F.lit(10_000) * F.col("n_small")
    frac_bp = (
        (bp_num - bp_num % F.col("n_files")) / F.col("n_files")
    ).cast("long")
    return (
        stats.crossJoin(F.broadcast(p50))
        .withColumn("small_fraction_bp", frac_bp)
        .withColumn(
            "recommend_compaction",
            (
                (F.col("small_fraction_bp") > SMALL_FRACTION_GATE_BP)
                & (F.col("n_files") > 1)
            ).cast("long"),
        )
        .select(
            "n_files",
            "total_bytes",
            "p50_bytes",
            "max_bytes",
            "n_small",
            "small_fraction_bp",
            "recommend_compaction",
        )
    )
