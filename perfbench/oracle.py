"""Output check of registry queries against their DuckDB oracles.

The same comparison tests/test_oracle_parity.py makes: column names, row count, and values
compared order-insensitively after sorting columns by name, rounding
floats to 6 dp and sorting rows; floats must agree to 1e-9 and in the
sign of zero.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            def conv(v):
                if isinstance(v, (list, tuple, np.ndarray)):
                    return tuple(
                        round(float(x), 6) if isinstance(x, (int, float, np.floating)) else x
                        for x in v
                    )
                return v

            df[c] = s.map(conv)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), ignore_index=True)


def compare_frames(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return [f"{name}: columns {list(got.columns)} != oracle {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{name}: {len(got)} rows, oracle has {len(exp)}"]
    errs = []
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) and pd.api.types.is_float_dtype(e):
            ga, ea = np.asarray(g, dtype=float), np.asarray(e, dtype=float)
            if not np.allclose(ga, ea, rtol=1e-9, atol=1e-9, equal_nan=True):
                errs.append(f"{name}.{c}: max abs diff {np.nanmax(np.abs(ga - ea))}")
            elif ((ga == 0) & (ea == 0) & (np.signbit(ga) != np.signbit(ea))).any():
                errs.append(f"{name}.{c}: -0.0 vs +0.0")
        else:
            mism = int((g.astype(str) != e.astype(str)).sum())
            if mism:
                errs.append(f"{name}.{c}: {mism} mismatched cells")
    return errs


class Oracle:
    """DuckDB with one view per table of a frame directory."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def compare(self, name: str, got: pd.DataFrame, sql: str) -> list[str]:
        return compare_frames(name, got, self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()
