"""Output checks: Spark results against DuckDB on the same inputs.

Rows are canonicalized by the repository's correctness gate
(``scripts/check_correctness.py``) — columns sorted by name, rows
sorted, doubles rounded to 1e-9, and int vs float kept apart — so a
mismatch here is a mismatch there.
"""

from __future__ import annotations

import duckdb

# bind the package beside perfbench/ before the gate module runs its own
# sys.path set-up on import
import selium_spark  # noqa: F401
from scripts.check_correctness import canon_rows


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    return cols, canon_rows([r.asDict() for r in df.collect()], cols)


class Oracle:
    """DuckDB connection with each input registered as a view:
    ``views`` maps a table name to a parquet path or glob."""

    def __init__(self, views: dict[str, str]):
        self.con = duckdb.connect()
        for name, path in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        df = self.con.sql(sql).df()
        cols = sorted(df.columns.tolist())
        return cols, canon_rows(
            [dict(zip(df.columns, row)) for row in df.itertuples(index=False)], cols
        )

    def close(self) -> None:
        self.con.close()


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"row count {len(g_rows)} != {len(w_rows)}"
    for i, (a, b) in enumerate(zip(g_rows, w_rows)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None
