"""Seeded input generator.

The base tables have the engine's test lake's schema (TPC-H-ish star
schema plus `events`, `documents` and `embeddings`) and its shape: every
table is the same fraction of its sf0.1 size, and each distribution
parameter (events per user, the event clock, document lengths and
duplicate share, language mix, embedding structure, fact fan-outs) is the
value `lake_shape.py` measured on the test lake. They are drawn from one
fixed generator seed, so their content never changes. The workload seed
then rewrites them with DuckDB: every table's row order is permuted by a
seeded hash, and keys are shifted by seed-chosen multiples of the strides
`scripts/make_scaled_sf.py` uses, so each seed lays the same content out
differently (hash partitions, scan order, id ranges) while every
operation does the same amount of work.

Part keys are never shifted: `q_recursive_ancestors` derives its forest
from `p_partkey >> 3`, so a shift would change the query's recursion
depth, not just its layout. Customer keys stay below 200_000, the domain
of `fixtures/flag_buckets.parquet`.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 20241017

# key strides, as in scripts/make_scaled_sf.py
STRIDES = {
    "customer": {"c_custkey": 20_000},
    "supplier": {"s_suppkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 20_000},
    "lineitem": {"l_orderkey": 10_000_000, "l_suppkey": 1_000_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}
# largest multiple of each table's stride a seed may pick; customer keys
# (and the o_custkey that follows them) must stay below 200_000
MAX_SHIFT = {"customer": 8}
DEFAULT_MAX_SHIFT = 9

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The test lake's sf0.1 row counts. The benchmark's inputs are one common
# fraction of every table (an sf0.002 lake): a run's time budget allows
# no more.
LAKE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
FRACTION = 1 / 50
SIZES = {t: round(n * FRACTION) for t, n in LAKE_ROWS.items()}

# Shape of the test lake at sf0.1, measured with lake_shape.py (the
# numbers are in README.md). Every distribution below is uniform unless
# a constant here says otherwise.
EVENTS_PER_USER = 100_000 / 1_500
EVENT_SPAN_DAYS = 30  # a Poisson clock: exponential gaps between events
EVENT_VALUE_MEAN = 49.87  # exponential, rounded to cents
K_VALUES = 100  # props {"k": 0..99}
DOC_WORDS = (10, 99)  # words per document, inclusive
DUP_SHARE = 0.05  # another document's text plus " dup"
LANG_SHARE = {"de": 0.1404, "en": 0.4118, "es": 0.1488, "fr": 0.1484, "zh": 0.1506}
SOURCES = 20  # src0..src19, round robin by doc_id
EMBED_DIM = 64  # unit vectors with no cluster structure
EMBED_LABELS = 10  # independent of the vector
LINENUMBERS = 7  # l_linenumber uniform 1..7, independent of the order

_WORDS = (
    "row the query stream value hash batch sort data big filter key agg scan "
    "slow table part a merge window order column join vector fast spark line "
    "small customer group"
).split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_A = ["blue", "old", "hot", "large", "cold", "small", "new", "red"]
_PART_B = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _days(rng, n, first: str, last: str) -> np.ndarray:
    """n dates drawn uniformly from first..last, both included."""
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def base_tables() -> dict[str, pa.Table]:
    """The fixed-content base tables (generator seed only)."""
    rng = np.random.default_rng(GENERATOR_SEED)
    s = SIZES
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = s["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99), f64),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    ns = s["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99), f64),
        }
    )
    np_ = s["part"]
    partkeys = np.arange(np_)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(partkeys, i64),
            "p_name": [
                f"{_PART_A[a]} {_PART_B[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, np_)],
            "p_type": [_PTYPES[j] for j in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": pa.array(900.0 + (partkeys % 1000) / 10.0, f64),
        }
    )
    no = s["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0), f64),
            "o_orderdate": pa.array(
                _days(rng, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")
            ),
            "o_orderpriority": [_PRIOS[j] for j in rng.integers(0, 5, no)],
        }
    )
    nl = s["lineitem"]
    flags = rng.integers(0, 6, nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, LINENUMBERS + 1, nl), i32),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0), f64),
            "l_discount": pa.array(_money(rng, nl, 0.0, 0.10), f64),
            "l_tax": pa.array(_money(rng, nl, 0.0, 0.08), f64),
            "l_returnflag": [("A", "N", "R")[j // 2] for j in flags],
            "l_linestatus": [("O", "F")[j % 2] for j in flags],
            "l_shipdate": pa.array(
                _days(rng, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")
            ),
        }
    )
    ne = s["events"]
    span_us = EVENT_SPAN_DAYS * 86_400_000_000
    # distinct, so event time strictly increases with event_id, as in the lake
    offsets = np.sort(rng.choice(span_us, ne, replace=False))
    ts = np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, round(ne / EVENTS_PER_USER), ne), i64),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, ne), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, K_VALUES, ne)],
        }
    )
    nd = s["documents"]
    lo, hi = DOC_WORDS
    texts = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n))
        for n in rng.integers(lo, hi + 1, nd)
    ]
    dups = rng.choice(nd, round(DUP_SHARE * nd), replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    # each language's share exactly, in a shuffled order
    langs = [x for x in sorted(LANG_SHARE) for _ in range(round(LANG_SHARE[x] * nd))]
    langs = (langs + ["en"] * nd)[:nd]
    rng.shuffle(langs)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": langs,
            "source": [f"src{d % SOURCES}" for d in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    nv = s["embeddings"]
    vecs = rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, EMBED_LABELS, nv), i32),
        }
    )
    return out


def version() -> str:
    """Digest of this generator, so cached inputs follow its changes."""
    import hashlib

    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def shifts(seed: int) -> dict[str, int]:
    """Per-table key-shift multiple chosen by the workload seed."""
    rng = np.random.default_rng([seed, 1])
    return {
        t: int(rng.integers(0, MAX_SHIFT.get(t, DEFAULT_MAX_SHIFT) + 1))
        for t in STRIDES
    }


def rewrite_sql(table: str, cols: list[str], seed: int, mults: dict[str, int]) -> str:
    """DuckDB SELECT over view `base` that shifts keys and permutes rows."""
    # o_custkey must move with c_custkey and l_orderkey/l_suppkey with
    # the tables they reference, so foreign keys follow their target's
    # multiple, not their own table's
    owner = {
        "o_custkey": "customer",
        "l_orderkey": "orders",
        "l_suppkey": "supplier",
    }
    strides = STRIDES.get(table, {})
    sel = []
    for c in cols:
        if c in strides:
            mult = mults[owner.get(c, table)]
            sel.append(f"({c} + {mult * strides[c]})::BIGINT AS {c}")
        else:
            sel.append(c)
    first = cols[0]
    return (
        f"SELECT {', '.join(sel)} FROM base "
        f"ORDER BY hash({first}, {int(seed)}), {first}"
    )


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seed's tables as `<out_dir>/<table>.parquet`; return row counts.

    Writes into a sibling temp dir and renames it into place, so a run that
    dies mid-way never leaves a half-written input set behind.
    """
    import duckdb

    if os.path.isfile(os.path.join(out_dir, "_DONE")):
        return {
            t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    mults = shifts(seed)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    counts = {}
    try:
        for table, data in base_tables().items():
            con.register("base", data)
            sql = rewrite_sql(table, data.column_names, seed, mults)
            path = os.path.join(tmp, f"{table}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            con.unregister("base")
            counts[table] = data.num_rows
    finally:
        con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return counts
