"""Engine-independent output checks.

Reference answers come from DuckDB over the same generated files, using
the engine's registered oracle SQL (`hogflare_spark.plans.ORACLES`), and
are compared with `scripts/driver_sim.py`'s exact normalization: floats by
`repr` (equal strings iff equal bits), columns in name order, rows sorted.
They are computed untimed and cached per input directory, so repeated
passes and repeated runs on one seed pay for them once.
"""

from __future__ import annotations

import hashlib
import json
import os

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(rows, cols: list[str]) -> list[list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = repr(v)
            vals.append(str(v))
        out.append(vals)
    return sorted(out)


class Reference:
    """Normalized expected result of one check: columns and rows."""

    def __init__(self, cols: list[str], rows: list[list[str]]):
        self.cols = sorted(cols)
        self.rows = rows

    def mismatch(self, rows, cols: list[str]) -> str | None:
        """None when the engine's result equals this reference, else why not."""
        if sorted(cols) != self.cols:
            return f"columns {sorted(cols)} != {self.cols}"
        if len(rows) != len(self.rows):
            return f"{len(rows)} rows != {len(self.rows)}"
        got = normalize(rows, cols)
        for g, e in zip(got, self.rows):
            if g != e:
                return f"row {g} != {e}"
        return None


class Oracles:
    """DuckDB answers for a data dir, cached as JSON beside the inputs."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def reference(self, sql: str) -> Reference:
        key = hashlib.sha256(sql.encode()).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.isfile(path):
            with open(path) as fh:
                doc = json.load(fh)
            return Reference(doc["cols"], doc["rows"])
        res = self._duck().execute(sql)
        cols = [d[0] for d in res.description]
        rows = normalize(res.fetchall(), cols)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"cols": cols, "rows": rows}, fh)
        os.replace(tmp, path)
        return Reference(cols, rows)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
