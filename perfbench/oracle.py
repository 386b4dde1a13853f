"""DuckDB oracle check for benchmark jobs.

Results are normalized the way ``tests/test_oracle_parity.py`` does it:
columns ordered by name, floats rounded to 9 places, rows sorted by
``repr``. Spark results arrive as pandas frames (the benchmark times
``toPandas()``), so NumPy scalars, pandas timestamps and NaN-for-NULL are
mapped back to plain Python values first; NULL and NaN compare equal.

Each oracle answer is reduced to a digest and cached next to the data,
keyed by the oracle SQL, so a dataset pays for its oracle queries once.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import numpy as np

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        v = round(v, 9)
        return int(v) if v.is_integer() else v
    if isinstance(v, int):  # bool included
        return v
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        if v != v:  # NaT
            return None
        v = v.to_pydatetime()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return v


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


def normalize_pandas(pdf) -> tuple[list[str], list[tuple]]:
    cols = [str(c) for c in pdf.columns]
    return normalize(cols, pdf.itertuples(index=False, name=None))


def digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return f"{len(rows)}:{h.hexdigest()}"


class Oracle:
    """Expected digests for one dataset, computed by DuckDB on demand."""

    def __init__(self, data_dir: str, threads: int) -> None:
        self.data_dir = data_dir
        self.threads = threads
        self.cache_path = os.path.join(data_dir, "oracle_digests.json")
        self._con = None
        try:
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}

    def _connect(self):
        if self._con is None:
            import duckdb

            con = duckdb.connect()
            con.execute(f"SET threads TO {self.threads}")
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self._con = con
        return self._con

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self._connect().sql(sql)
        return normalize(list(rel.columns), rel.fetchall())

    def expected(self, name: str, sql: str) -> str:
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in self.cache:
            self.cache[key] = digest(*self.rows(sql))
            tmp = f"{self.cache_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.cache, f, indent=0, sort_keys=True)
            os.replace(tmp, self.cache_path)
        return self.cache[key]

    def check(self, name: str, sql: str, pdf) -> str | None:
        """None when the Spark result matches the oracle, else a reason."""
        got_cols, got = normalize_pandas(pdf)
        if digest(got_cols, got) == self.expected(name, sql):
            return None
        want_cols, want = self.rows(sql)
        if sorted(got_cols) != sorted(want_cols):
            return f"columns {got_cols} vs oracle {want_cols}"
        if len(got) != len(want):
            return f"{len(got)} rows vs oracle {len(want)}"
        diff = [(a, b) for a, b in zip(got, want) if repr(a) != repr(b)]
        return f"{len(diff)} rows differ, first: spark {diff[0][0]} oracle {diff[0][1]}"

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
