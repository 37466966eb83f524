"""Correctness gate: order-insensitive digests of query results.

A result is reduced to the sorted multiset of its canonical rows (the
cell canonicalisation of ``tests/_compare.py``, the one the oracle-parity
tests use) and hashed; a Spark result passes when its digest equals the
digest of its registered DuckDB oracle over the same inputs.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tests._compare import _canon_cell

from sports_stats_data_pipeline_spark.sources.tables import TABLE_NAMES


def digest(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    canon = [[_canon_cell(v) for v in pdf[c].tolist()] for c in cols]
    h = hashlib.sha256("\x1f".join(cols).encode())
    for row in sorted(zip(*canon)):
        h.update("\x1e".join(row).encode())
        h.update(b"\x1d")
    return f"{len(pdf)}:{h.hexdigest()}"


def duckdb_connection(sf_dir: str, work_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def oracle_digests(
    sf_dir: str, work_dir: str, oracles: dict[str, str], threads: int
) -> dict[str, str]:
    """Digest of every oracle's result over the tables in ``sf_dir``."""
    con = duckdb_connection(sf_dir, work_dir, threads)
    try:
        return {name: digest(con.execute(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()


def corrupt(expected: str) -> str:
    """A digest no result can have: the self-test's deliberately wrong
    oracle, proving the gate can fail."""
    return expected + ":corrupted"
