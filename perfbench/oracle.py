"""DuckDB oracle check for the benchmark's batch workloads.

Each query's oracle SQL (`SparkEntry.oracleSql`) runs in DuckDB over the
same generated parquet tables; Spark's rows, as the benchmark wrote them,
must match. Both sides are normalised the way `tools/check_oracle.py`
does it: columns sorted by name, floats rounded to 6 places, temporal
values as ISO strings, rows sorted; then the per-column dtype kinds must
agree. The oracle side's canonical form is cached per fixture, because
some oracle queries take tens of seconds.
"""
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "tolist"):
        return norm_cell(v.tolist())
    return v


def canon(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    kinds = [df[c].dtype.kind for c in cols]
    return json.dumps([cols, kinds, rows], default=str)


def digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


class Oracle:
    def __init__(self, fixture_dir: str, cache_dir: str):
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet/*.parquet')")

    def expected(self, name: str, sql: str) -> str:
        """Canonical-form digest of the oracle's rows, cached per query text."""
        path = os.path.join(self.cache_dir, f"{name}.{digest(sql)[:16]}")
        if os.path.exists(path):
            with open(path) as f:
                return f.read()
        h = digest(canon(self.con.execute(sql).fetchdf()))
        with open(path + ".tmp", "w") as f:
            f.write(h)
        os.replace(path + ".tmp", path)
        return h

    def check(self, name: str, sql: str, result_dir: str):
        """None when Spark's rows match the oracle, else a reason."""
        got = digest(canon(pd.read_parquet(result_dir)))
        want = self.expected(name, sql)
        return None if got == want else f"{name}: rows differ from the DuckDB oracle"
