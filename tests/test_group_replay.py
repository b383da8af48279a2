"""The group fold (fold_group_state: one sorted mapInPandas LWW replay per
partition) against a single-threaded reference: the derived group ops
walked in (request_seq, item_index, sub) order through one dict of
last-write-wins records (groups.rs:36-41). Hydration results and the
final groups table must match it byte for byte."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from hogflare_spark.operators.group_state import derive_group_ops, fold_group_state
from hogflare_spark.operators.normalize import decode_normalize_requests


def _raw(bodies, endpoint="capture"):
    rows = []
    for i, b in enumerate(bodies):
        ep = b.pop("__endpoint", endpoint)
        rows.append(Row(request_seq=i, endpoint=ep, body=json.dumps(b)))
    return rows


def _gi(gtype, gkey, props):
    return {
        "__endpoint": "groupidentify",
        "group_type": gtype,
        "group_key": gkey,
        "properties": props,
    }


def _cap(did, groups=None, gset=None):
    props = {}
    if groups:
        props["$groups"] = groups
    if gset:
        props["$group_set"] = gset
    return {"event": "ev", "distinct_id": did, "properties": props}


def _dumps(v):
    return json.dumps(v, separators=(",", ":"))


def _kernel(commands):
    """Sequential LWW reference over the derived op stream. Returns
    (results, groups) in the comparable shape of _fold."""
    ops = sorted(
        derive_group_ops(commands).collect(),
        key=lambda r: (r["request_seq"], r["item_index"], r["sub"]),
    )
    records: dict = {}
    results = []
    for r in ops:
        cell = (r["group_type"], r["group_key"])
        if r["kind"] in ("update", "gi_update"):
            rec = records.setdefault(cell, {"version": 0, "props": {}})
            rec["version"] += 1
            rec["props"].update(json.loads(r["props"]))
        if r["kind"] in ("lookup", "gi_lookup", "gi_update"):
            rec = records.get(cell)
            results.append(
                (
                    r["request_seq"],
                    r["item_index"],
                    *cell,
                    _dumps(rec["props"]) if rec is not None else None,
                    rec is not None,
                    r["kind"].startswith("gi_"),
                )
            )
    groups = [
        (*cell, rec["version"], {k: _dumps(v) for k, v in rec["props"].items()})
        for cell, rec in records.items()
    ]
    return sorted(results, key=repr), sorted(groups, key=repr)


def _fold(commands):
    results, groups = fold_group_state(commands)
    res = sorted((tuple(r) for r in results.collect()), key=repr)
    grp = sorted(
        (
            (r["group_type"], r["group_key"], r["version"], dict(r["properties"]))
            for r in groups.collect()
        ),
        key=repr,
    )
    return res, grp


def _assert_matches_kernel(spark, bodies):
    cmds = decode_normalize_requests(spark.createDataFrame(_raw(bodies)))
    got = _fold(cmds)
    assert got == _kernel(cmds)
    return got


def test_lww_hydration_and_echo_match_kernel(spark):
    results, groups = _assert_matches_kernel(
        spark,
        [
            _gi("org", "acme", {"plan": "free", "seats": 1}),
            _cap("u1", groups={"org": "acme"}),  # hydrates current state
            _gi("org", "acme", {"plan": "pro"}),  # LWW overwrite
            _cap("u2", groups={"org": "acme"}, gset={"org": {"seats": 9}}),
            _gi("org", "other", None),  # gi_lookup on absent record
            _cap("u3", groups={"org": "ghost"}),  # lookup, absent
            _gi("team", "t1", {}),  # empty-object update: creates, version 1
            _cap("u4", groups={"team": "t1"}),  # hydrates '{}'
        ],
    )
    by_seq = {r[0]: r for r in results}
    assert by_seq[1][4] == '{"plan":"free","seats":1}'
    # the event's own $group_set precedes its read
    assert by_seq[3][4] == '{"plan":"pro","seats":9}'
    assert by_seq[5][5] is False and by_seq[7][4] == "{}"
    assert ("org", "acme", 3, {"plan": '"pro"', "seats": "9"}) in groups


def test_float_nested_and_escaped_payloads_match_kernel(spark):
    _assert_matches_kernel(
        spark,
        [
            _gi("org", "a", {"rate": 1.5}),
            _gi("org", "b", {"cfg": {"deep": 1}}),
            _gi("org", "c", {"name": 'quo"ted'}),
            _gi("org", "d", {"n": 12345678901234567890}),
            _gi("org", "e", {"ok": 1}),
            _cap("u", groups={"org": "a"}),
        ],
    )


_GTYPES = ["org", "team"]
_GKEYS = ["a", "b"]
_PKEYS = ["k1", "k2"]

_group_op = st.one_of(
    st.fixed_dictionaries(
        {
            "op": st.just("gi"),
            "gtype": st.sampled_from(_GTYPES),
            "gkey": st.sampled_from(_GKEYS),
            "props": st.one_of(
                st.none(),
                st.dictionaries(
                    st.sampled_from(_PKEYS), st.integers(0, 9), max_size=2
                ),
            ),
        }
    ),
    st.fixed_dictionaries(
        {
            "op": st.just("cap"),
            "gtype": st.sampled_from(_GTYPES),
            "gkey": st.sampled_from(_GKEYS),
            "gset": st.one_of(
                st.none(),
                st.dictionaries(
                    st.sampled_from(_PKEYS), st.integers(0, 9), min_size=1, max_size=2
                ),
            ),
        }
    ),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_group_op, min_size=1, max_size=10))
def test_group_fold_property_matches_sequential_lww(spark, ops):
    """Randomized differential: for arbitrary gi/capture interleavings the
    distributed group fold must equal the sequential LWW reference on
    both hydration results and the final groups table."""
    bodies = []
    for o in ops:
        if o["op"] == "gi":
            bodies.append(_gi(o["gtype"], o["gkey"], o["props"]))
        else:
            gset = {o["gtype"]: o["gset"]} if o["gset"] is not None else None
            bodies.append(_cap("u", groups={o["gtype"]: o["gkey"]}, gset=gset))
    cmds = decode_normalize_requests(spark.createDataFrame(_raw(bodies)))
    assert _fold(cmds) == _kernel(cmds), f"diverged for ops={ops}"
