"""Property-based test: the distributed person fold (CC co-partitioning +
applyInPandas replay) must produce byte-identical person state to a
single-threaded sequential replay of the same op stream through the
kernel, for ARBITRARY interleavings of set/set_once/unset/alias ops over
a small id space. This is the guard against partitioning and ordering
bugs the example-based tests can't systematically cover."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

IDS = ["a", "b", "c", "d", "e"]
KEYS = ["k1", "k2"]

_op = st.one_of(
    st.fixed_dictionaries(
        {
            "kind": st.just("capture"),
            "distinct_id": st.sampled_from(IDS),
            "set": st.dictionaries(st.sampled_from(KEYS), st.integers(0, 9), max_size=2),
            "set_once": st.dictionaries(st.sampled_from(KEYS), st.integers(0, 9), max_size=1),
            "unset": st.lists(st.sampled_from(KEYS), max_size=1),
        }
    ),
    st.fixed_dictionaries(
        {
            "kind": st.just("alias"),
            "distinct_id": st.sampled_from(IDS),
            "alias": st.sampled_from(IDS),
        }
    ),
)


def _sequential_replay(ops):
    """The whole stream through ONE kernel instance — arrival order, no
    partitioning. The distributed fold must match this exactly."""
    from hogflare_spark.operators.person_store import PersonStoreReplay, synthetic_time

    store = PersonStoreReplay("seq", None)
    for i, op in enumerate(ops):
        seq = (i, 0, 1)
        t = synthetic_time(i * 1_000_000 + 1)
        if op["kind"] == "alias":
            store.apply_alias(op["distinct_id"], op["alias"], t, seq)
        else:
            update = {
                "distinct_id": op["distinct_id"],
                "set": {k: v for k, v in op["set"].items()},
                "set_once": {k: v for k, v in op["set_once"].items()},
                "unset": list(op["unset"]),
            }
            if op["set"] or op["set_once"] or op["unset"]:
                store.apply_update(update, t, seq)
            else:
                store.ensure_person(op["distinct_id"], t, seq)
    out = {}
    for canonical, rec in store.records.items():
        out[canonical] = {
            "distinct_ids": sorted(rec.distinct_ids),
            "properties": rec.properties,
            "properties_set_once": rec.properties_set_once,
            "version": rec.version,
        }
    return out


def _raw_rows(ops):
    rows = []
    for i, op in enumerate(ops):
        if op["kind"] == "alias":
            body = {"distinct_id": op["distinct_id"], "alias": op["alias"]}
            rows.append(Row(request_seq=i, endpoint="alias", body=json.dumps(body)))
        else:
            props = {}
            if op["set"]:
                props["$set"] = op["set"]
            if op["set_once"]:
                props["$set_once"] = op["set_once"]
            if op["unset"]:
                props["$unset"] = op["unset"]
            body = {"event": "ev", "distinct_id": op["distinct_id"], "properties": props}
            rows.append(Row(request_seq=i, endpoint="capture", body=json.dumps(body)))
    return rows


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=14))
def test_distributed_fold_equals_sequential_replay(spark, ops):
    from hogflare_spark.operators.ingest import ingest_raw_requests

    want = _sequential_replay(ops)

    raw = spark.createDataFrame(_raw_rows(ops))
    persons = ingest_raw_requests(raw)["persons"].collect()
    got = {
        r["canonical_id"]: {
            "distinct_ids": sorted(r["distinct_ids"]),
            "properties": {k: json.loads(v) for k, v in r["properties"].items()},
            "properties_set_once": {
                k: json.loads(v) for k, v in r["properties_set_once"].items()
            },
            "version": r["version"],
        }
        for r in persons
    }
    assert got == want, f"\nops={ops}\ngot={got}\nwant={want}"
