"""Correctness check: each query's output against its DuckDB oracle.

The comparator has the semantics of tools/compare_oracle.py, the
repository's correctness gate: columns sorted by name, rows sorted by every
column, then the same column names, dtypes and row count, and equal values
with NaN/NULL equal to each other. It is kept here rather than imported so
that both sides of a paired run use identical benchmark code.

Oracle answers are cached, keyed by the oracle SQL and the content hashes
of the input files, so each dataset pays for each oracle once.
"""
import hashlib
import json
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

from gen_data import TABLES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if (pd.api.types.is_datetime64_any_dtype(df[c])
                and not isinstance(df[c].dtype, pd.DatetimeTZDtype)):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def mismatch(got, want):
    """None when the canonical frames agree, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"SCHEMA got={list(got.columns)} want={list(want.columns)}"
    dt_bad = [(c, str(got[c].dtype), str(want[c].dtype))
              for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
    if dt_bad:
        return f"SCHEMA_DTYPE {dt_bad}"
    if len(got) != len(want):
        return f"ROWS got={len(got)} want={len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                eq = (a.isna() & b.isna()) | (a == b)
            else:
                eq = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            return f"CMP_ERR col={c} {e}"
        if not eq.all():
            i = int(np.argmin(eq.values))
            return f"VAL col={c} row={i} got={a.iloc[i]!r} want={b.iloc[i]!r}"
    return None


def _is_null(x):
    return x is None or x is pd.NaT or x is pd.NA or (
        isinstance(x, float) and x != x)


def digest(df):
    """Order-insensitive content hash of a canonical frame: equal under
    `mismatch` implies equal digests for the scalar types queries return."""
    h = hashlib.sha256()
    for c in df.columns:
        h.update(f"{c}:{df[c].dtype};{len(df)};".encode())
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            v = col.to_numpy(dtype="float64", copy=True)
            nan = np.isnan(v)
            v[nan] = 0.0
            h.update((v + 0.0).tobytes())
            h.update(nan.tobytes())
        else:
            for x in col.astype(object):
                h.update(("\0" if _is_null(x) else repr(x)).encode())
                h.update(b"\x1f")
    return h.hexdigest()


class Oracle:
    def __init__(self, data_dir, input_hashes, cache_dir):
        self.data_dir = data_dir
        self.inputs = json.dumps(input_hashes, sort_keys=True)
        self.cache_dir = cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connection(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET enable_progress_bar = false")
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self._con

    def answer(self, sql):
        """The oracle's canonical frame for `sql` (cached)."""
        key = hashlib.sha256((sql + "\0" + self.inputs).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        want = canon(self._connection().execute(sql).df())
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(want, f)
        os.replace(tmp, path)
        return want

    def close(self):
        if self._con is not None:
            self._con.close()
            self._con = None


def check(result_dir, sql, oracle):
    """Compares one query's dumped output with its oracle. Returns
    (error or None, digest of the output or None)."""
    try:
        got = canon(pd.read_parquet(result_dir))
    except Exception as e:  # noqa: BLE001 - an unreadable dump is a failure
        return f"SORT_OR_READ_FAIL {type(e).__name__}: {e}", None
    d = digest(got)
    if sql is None:
        return (None if len(got) > 0 else "ROWS_ONLY_EMPTY"), d
    try:
        want = oracle.answer(sql)
    except Exception as e:  # noqa: BLE001
        return f"ORACLE_FAIL {str(e)[:160]}", d
    return mismatch(got, want), d
