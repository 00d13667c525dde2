"""Output checks: catalog entries against their DuckDB oracle (the repo's
``tests/oracle.py`` compare: row count, columns, order-insensitive values),
and the live jobs' sinks against DuckDB over the generated source files.

Checks run outside every timed region. A corrupt hook (``corrupt``) lets
the benchmark's own tests prove that a wrong row is caught.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.oracle import compare_frames, run_oracle


def corrupt_first_row(pdf: pd.DataFrame) -> pd.DataFrame:
    """Return ``pdf`` with one value of its first row changed."""
    out = pdf.copy()
    if len(out):
        col = out.columns[0]
        v = out.iloc[0, 0]
        out[col] = out[col].astype(object)
        out.iloc[0, 0] = f"{v}~corrupt"
    else:
        out.loc[0] = ["corrupt"] * len(out.columns)
    return out


def check_entry(entry, pdf: pd.DataFrame, data_dir: str, corrupt: bool = False) -> list[str]:
    """Problems of one catalog entry's output ``pdf`` (empty ⇒ correct)."""
    if corrupt:
        pdf = corrupt_first_row(pdf)
    if entry.oracle is None:
        return []
    return compare_frames(pdf, run_oracle(entry.oracle, data_dir))


def duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        return con.execute(sql).df()
    finally:
        con.close()
