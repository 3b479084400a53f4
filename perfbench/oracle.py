"""Reference answers for the query workloads: each query's ``oracle_sql()``
run on DuckDB over the same generated parquet files, normalized the way the
repository's oracle check normalizes them. Results are cached on disk under
a digest of the input files plus the SQL text, since the slowest oracle
queries take far longer than the Spark side."""

from __future__ import annotations

import hashlib
import json
import os

from tools.check_oracle import normalize

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canonical(rows: list[tuple], cols: list[str]) -> list:
    """Normalized rows in JSON form, so cached and fresh answers compare
    equal (tuples → lists, non-JSON scalars → str)."""
    return json.loads(json.dumps(normalize(rows, cols), default=str))


def input_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Oracle:
    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir, self.cache_dir = sf_dir, cache_dir
        self.digest = input_digest(sf_dir)
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.sf_dir, t + '.parquet')}'"
            )
        return con

    def answer(self, sql: str) -> dict:
        """{cols: sorted column names, rows: normalized rows}."""
        key = hashlib.sha256((self.digest + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        if self._con is None:
            self._con = self._connect()
        res = self._con.execute(sql)
        cols = [d[0] for d in res.description]
        out = {"cols": sorted(cols), "rows": canonical(res.fetchall(), cols)}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, path)
        return out

    def close(self):
        if self._con is not None:
            self._con.close()
            self._con = None
