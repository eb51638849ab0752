"""The project's single definition of 'hash parity' between a Spark
result and its DuckDB oracle, and of the oracle's table views, shared
by verify_driver.py and parity_sf.py so the two checkers can never
silently diverge.

Semantics: canonicalize both frames (columns sorted by name upstream by
the caller's SELECT contract; rows sorted by all columns), then compare
column-wise — numeric columns as float with a -9e99 NULL sentinel and
EXACT equality (both engines must produce identical doubles after the
queries' own rounding), everything else as objects with a '~' NULL
sentinel.
"""

from __future__ import annotations

import pandas as pd

# Opt into pandas' future fillna behavior (no silent downcasting):
# silences the FutureWarning the object-dtype fillna below would
# emit on every NULL-bearing comparison, and pins the semantics so
# a pandas upgrade can't change them under us (round-5 advice).
try:
    pd.set_option("future.no_silent_downcasting", True)
except Exception:
    pass  # option removed once the behavior becomes default


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by every column."""
    df = df[sorted(df.columns)].copy()
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df) else df


def frames_match(sp: pd.DataFrame, oc: pd.DataFrame) -> bool:
    """True iff the two canonicalized frames are value-identical."""
    if sp.shape != oc.shape or list(sp.columns) != list(oc.columns):
        return False
    for c in sp.columns:
        a, b = sp[c], oc[c]
        if pd.api.types.is_numeric_dtype(a) or pd.api.types.is_numeric_dtype(b):
            same = (
                a.astype(float).fillna(-9e99).to_numpy()
                == b.astype(float).fillna(-9e99).to_numpy()
            ).all()
        else:
            same = (a.astype(object).fillna("~") == b.astype(object).fillna("~")).all()
        if not same:
            return False
    return True


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per corpus table under ``sf_dir``,
    named as the registry's oracle SQL reads them."""
    import duckdb

    from etl_project_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
