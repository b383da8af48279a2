"""Shape statistics of a lake directory, the ones `gen.py` is set from.

    python3 perfbench/lake_shape.py <lake_dir>

Prints one JSON object: row counts, and per table the distribution
parameters the generator reproduces (events per user, the event clock,
document lengths and duplicate share, embedding cluster structure, fact
fan-outs). Run it on the engine's test lake to re-derive `gen.py`'s
constants, and on a generated input directory to compare the two.
"""

from __future__ import annotations

import json
import os
import sys

TABLES = (
    "customer supplier part orders lineitem events documents embeddings"
).split()


def shape(lake: str) -> dict:
    import duckdb
    import numpy as np

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(lake, t + '.parquet')}'")

    def one(sql):
        return con.execute(sql).fetchone()

    out: dict = {"rows": {t: one(f"SELECT count(*) FROM {t}")[0] for t in TABLES}}

    users, per_user_sd = one(
        "SELECT count(*), stddev_samp(n) FROM "
        "(SELECT user_id, count(*) n FROM events GROUP BY 1)"
    )
    span_days, gap_med, gap_mean = one(
        "SELECT (epoch(max(ts)) - epoch(min(ts))) / 86400.0, median(g), avg(g) FROM "
        "(SELECT ts, epoch(ts) - epoch(lag(ts) OVER (ORDER BY ts, event_id)) g FROM events)"
    )
    types = con.execute("SELECT count(*) FROM events GROUP BY event_type").fetchall()
    k_lo, k_hi, k_n, v_mean, v_min = one(
        "SELECT min(k), max(k), count(DISTINCT k), avg(value), min(value) FROM "
        "(SELECT CAST(json_extract(props, '$.k') AS BIGINT) k, value FROM events)"
    )
    out["events"] = {
        "users": users,
        "events_per_user": out["rows"]["events"] / users,
        "events_per_user_sd": per_user_sd,
        "event_types": len(types),
        "event_type_share_max": max(n for (n,) in types) / out["rows"]["events"],
        "k_min": k_lo,
        "k_max": k_hi,
        "k_distinct": k_n,
        "value_mean": v_mean,
        "value_min": v_min,
        "ts_span_days": span_days,
        # exponential gaps (a Poisson clock) have median / mean = ln 2
        "ts_gap_median_over_mean": gap_med / gap_mean,
    }

    texts = [t for (t,) in con.execute("SELECT text FROM documents").fetchall()]
    words = [len(t.split()) for t in texts]
    base = [n - 1 if t.endswith(" dup") else n for t, n in zip(texts, words)]
    vocab = {w for t in texts for w in t.split()} - {"dup"}
    langs = con.execute(
        "SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1"
    ).fetchall()
    out["documents"] = {
        "words_min": min(base),
        "words_max": max(base),
        "words_mean": sum(base) / len(base),
        "vocabulary": len(vocab),
        "dup_share": sum(t.endswith(" dup") for t in texts) / len(texts),
        "lang_share": {lang: n / len(texts) for lang, n in langs},
        "sources": one("SELECT count(DISTINCT source) FROM documents")[0],
    }

    rows = con.execute("SELECT embedding, label FROM embeddings").fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    lab = np.array([r[1] for r in rows])
    # a label's centroid norm times sqrt(its size) is about 1 for
    # isotropic unit vectors and much larger for real clusters
    cen = [np.linalg.norm(x[lab == v].mean(0)) * np.sqrt((lab == v).sum())
           for v in np.unique(lab)]
    out["embeddings"] = {
        "dim": int(x.shape[1]),
        "labels": int(len(cen)),
        "norm_mean": float(np.linalg.norm(x, axis=1).mean()),
        "centroid_norm_x_sqrt_n": float(np.mean(cen)),
    }

    out["facts"] = {
        "orders_per_customer": out["rows"]["orders"] / out["rows"]["customer"],
        "lines_per_order": out["rows"]["lineitem"] / out["rows"]["orders"],
        "orders_without_lines": one(
            "SELECT count(*) FROM orders WHERE o_orderkey NOT IN "
            "(SELECT l_orderkey FROM lineitem)"
        )[0] / out["rows"]["orders"],
        "linenumber_max": one("SELECT max(l_linenumber) FROM lineitem")[0],
        "discounts": one("SELECT count(DISTINCT l_discount) FROM lineitem")[0],
        "taxes": one("SELECT count(DISTINCT l_tax) FROM lineitem")[0],
    }
    con.close()
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(shape(sys.argv[1]), indent=1, default=float))
