"""What the engine's own Spark-vs-DuckDB compare
(``tests/oracle_utils.compare``) needs: a DuckDB connection sized for a
host the Spark JVM shares, and query results collected while the
session runs, to be compared after it has stopped."""

from __future__ import annotations

import os

import duckdb

from datagen import TABLES


def connect(fixture_dir: str, spill_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # The Spark JVM and its Python workers share the host: keep DuckDB's
    # buffer pool small and spill inside the run's work directory.
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


class Collected:
    """A DataFrame's schema and rows, collected while the session runs
    and compared with the oracle after it has stopped."""

    def __init__(self, df):
        self.schema = df.schema
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self) -> list:
        return self._rows
