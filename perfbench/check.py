"""Output checks: each query's result against its DuckDB oracle.

The oracle SQL comes from ``__spark_entry__.oracle_sql()`` and runs over the
generated files before the Spark session starts, so checking never competes
with the timed work.  Rows are compared the way the repository's own gate
compares them: row count, column names, the engine type classes, and an
order-insensitive hash of normalized cells (``value_hash`` and
``dtype_mismatches`` from ``tools/check_correctness.py``).
"""

from __future__ import annotations

import math
import os

from tools.check_correctness import dtype_mismatches, value_hash


class Expected:
    """One query's oracle result, reduced to what the comparison needs."""

    def __init__(self, columns, n_rows, digest, arrow_schema):
        self.columns = columns
        self.n_rows = n_rows
        self.digest = digest
        self.arrow_schema = arrow_schema


def oracle_results(data_dir: str, tables: list[str],
                   queries: list[str]) -> dict[str, Expected]:
    import duckdb

    import __spark_entry__ as entry
    sqls = entry.oracle_sql()
    missing = [q for q in queries if q not in sqls]
    if missing:
        raise SystemExit(f"no oracle for {missing}")
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for q in queries:
            schema = con.execute(sqls[q]).fetch_arrow_table().schema
            frame = con.execute(sqls[q]).fetchdf()
            rows = frame.to_dict("records")
            # fetchdf turns NULL floats into NaN; the gate hashes them as NULL
            for r in rows:
                for k, v in r.items():
                    if isinstance(v, float) and math.isnan(v):
                        r[k] = None
            cols = list(frame.columns)
            out[q] = Expected(cols, len(rows), value_hash(rows, cols), schema)
        return out
    finally:
        con.close()


def compare(expected: Expected, dtypes: list[tuple[str, str]],
            rows: list[dict]) -> list[str]:
    """Problems found comparing a result with its oracle; empty when equal."""
    cols = [c for c, _ in dtypes]
    problems = []
    if len(rows) != expected.n_rows:
        problems.append(f"rowcount {len(rows)} != {expected.n_rows}")
    problems += dtype_mismatches(dtypes, expected.arrow_schema)
    if sorted(cols) != sorted(expected.columns):
        problems.append(f"schema {sorted(cols)} != {sorted(expected.columns)}")
    elif value_hash(rows, cols) != expected.digest:
        problems.append("value-hash mismatch")
    return problems


def read_sink(path: str) -> list[dict]:
    """Rows of a parquet sink directory written by ``Hfs``."""
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pylist()
