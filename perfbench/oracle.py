"""DuckDB oracle: the reference answer for every benchmark output.

Results are compared the way the repo's correctness tests compare them:
columns sorted by name, rows sorted by every column, timestamps without a
zone, whole numbers as int64, floats to a relative tolerance of 1e-9.
The oracle runs after the timed loop, so it never costs measured time.
"""

from __future__ import annotations

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir: str | None) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with a view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    if sf_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns, key=str.lower), axis=1)
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            if getattr(col.dt, "tz", None) is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            pdf[c] = col.astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(col):
            pdf[c] = col.astype("int64")
        elif pd.api.types.is_float_dtype(col):
            pdf[c] = col.astype("float64")
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort",
                              na_position="last")
    return pdf.reset_index(drop=True)


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``exp`` as a multiset of rows, else a
    one-line reason."""
    g, e = _normalize(got), _normalize(exp)
    if [c.lower() for c in g.columns] != [c.lower() for c in e.columns]:
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows != {len(e)}"
    e.columns = g.columns
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                      check_exact=False, rtol=1e-9,
                                      atol=1e-9)
    except AssertionError as ex:
        return " ".join(str(ex).split())[:200]
    return None
