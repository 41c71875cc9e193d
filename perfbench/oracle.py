"""Result checks against the registry's DuckDB oracles.

Both sides are canonicalised the way the engine's parity tests do it:
columns sorted by name, datetimes as epoch milliseconds, rows sorted,
then compared value by value. The engine's queries are bit-exact against
their oracles, so floats compare exactly.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from table_demo_spark.sources.batch import TABLES


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[ms]").astype("int64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a short reason."""
    g, w = _canonical(got), _canonical(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    for c in g.columns:
        a, b = g[c].astype(object), w[c].astype(object)
        bad = (a != b) & ~(g[c].isna() & w[c].isna())
        if bad.any():
            i = int(bad.idxmax())
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


class Oracle:
    """A DuckDB connection with one view per engine table of a
    directory."""

    def __init__(self, data_dir: str, tables: tuple[str, ...] = tuple(TABLES)):
        self._con = duckdb.connect()
        for t in tables:
            self._con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def query(self, sql: str) -> pd.DataFrame:
        return self._con.sql(sql).df()

    def close(self) -> None:
        self._con.close()
