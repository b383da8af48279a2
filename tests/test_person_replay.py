"""The person fold (fold_person_state: one sorted mapInPandas replay per
partition) against a single-threaded reference: the same derived op
stream walked through ONE PersonStoreReplay in (request_seq, item_index,
sub) order on the driver. Partitioning, sorting, Arrow batch boundaries
and serialization must not change a byte of the snapshots (exact JSON
strings, key order included) or of the final person records."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from hogflare_spark.operators.normalize import decode_normalize_requests
from hogflare_spark.operators.person_state import derive_person_ops, fold_person_state


def _raw(bodies):
    return [
        Row(request_seq=i, endpoint="capture", body=json.dumps(b))
        for i, b in enumerate(bodies)
    ]


def _capture(did, props=None, ts=None):
    b = {"event": "ev", "distinct_id": did}
    if props is not None:
        b["properties"] = props
    if ts is not None:
        b["timestamp"] = ts
    return b


def _ts(dt):
    # collected TimestampType values are naive local datetimes, the
    # kernel's are UTC-aware: compare instants
    return None if dt is None else dt.timestamp()


def _kernel(commands):
    """Sequential reference: every derived op through one kernel
    instance. Returns (snapshots, persons) in the comparable shape of
    _fold — person uuids are omitted (they are keyed on the component
    label, which the reference does not compute)."""
    from hogflare_spark.operators.person_store import (
        PersonStoreReplay,
        snapshot_fields,
    )

    ops = sorted(
        derive_person_ops(commands).collect(),
        key=lambda r: (r["request_seq"], r["item_index"], r["sub"]),
    )
    store = PersonStoreReplay("seq", 7)
    snaps = []
    for r in ops:
        rseq, item, sub = r["request_seq"], r["item_index"], r["sub"]
        op_time = (r["timestamp"], rseq * 1_000_000 + item * 100 + sub)
        seq = (rseq, item, sub)
        if r["kind"] == "alias":
            _, record = store.apply_alias(r["distinct_id"], r["alias_id"], op_time, seq)
        elif r["kind"] == "update":
            _, record = store.apply_update(json.loads(r["update"]), op_time, seq)
        else:
            _, record = store.ensure_person(r["distinct_id"], op_time, seq)
        if r["emit"]:
            _, created, props = snapshot_fields(record)
            snaps.append((rseq, item, _ts(created), props))
    persons = [
        (
            canonical,
            _ts(rec.created_at),
            rec.version,
            sorted(rec.distinct_ids),
            {k: json.dumps(v, separators=(",", ":")) for k, v in rec.properties.items()},
            {
                k: json.dumps(v, separators=(",", ":"))
                for k, v in rec.properties_set_once.items()
            },
        )
        for canonical, rec in store.records.items()
    ]
    return sorted(snaps), sorted(persons, key=lambda p: p[0])


def _fold(commands):
    snapshots, persons = fold_person_state(commands, team_id=7)
    snaps = sorted(
        (
            r["request_seq"],
            r["item_index"],
            _ts(r["person_created_at"]),
            r["person_properties"],
        )
        for r in snapshots.collect()
    )
    recs = sorted(
        (
            (
                r["canonical_id"],
                _ts(r["created_at"]),
                r["version"],
                sorted(r["distinct_ids"]),
                dict(r["properties"]),
                dict(r["properties_set_once"]),
            )
            for r in persons.collect()
        ),
        key=lambda p: p[0],
    )
    return snaps, recs


def _assert_matches_kernel(spark, raw_rows):
    cmds = decode_normalize_requests(spark.createDataFrame(raw_rows))
    got = _fold(cmds)
    assert got == _kernel(cmds)
    return got


def test_scalar_interleavings_match_kernel(spark):
    _assert_matches_kernel(
        spark,
        _raw(
            [
                _capture("u1", {"$set": {"a": 1, "b": "x"}}),
                _capture("u1", {"$set_once": {"a": 9, "c": True}}),
                _capture("u1", {"$unset": ["a"]}),
                _capture("u1", {"$set": {"a": 2}}),  # re-set after unset → end of dict
                _capture("u1", {"$set_once": {"d": None}}),
                _capture("u2", {"$set": {"z": "last"}, "$unset": ["z"]}),  # same-op unset wins
                _capture("u2", {"$set_once": {"z": 5}}),  # sticks: segment is empty
                _capture("u3", {}),  # ensure only: version 0, empty maps
                _capture("u1", {"$set": {"b": "y"}}),
            ]
        ),
    )


def test_set_once_blocked_by_earlier_set(spark):
    snaps, persons = _assert_matches_kernel(
        spark,
        _raw(
            [
                _capture("u", {"$set": {"k": 1}}),
                _capture("u", {"$set_once": {"k": 99}}),  # blocked: k in properties
                _capture("u", {"$unset": ["k"]}),
                _capture("u", {"$set_once": {"k": 42}}),  # sticks after unset
                _capture("u", {"$set": {"k": 7}}),  # set wins on read; once survives in map
            ]
        ),
    )
    assert [s[3] for s in snaps] == ['{"k":1}', '{"k":1}', "{}", '{"k":42}', '{"k":7}']
    (_, _, version, _, props, set_once), = persons
    assert (version, props, set_once) == (5, {"k": "7"}, {"k": "42"})


def test_timestamps_and_string_values(spark):
    _assert_matches_kernel(
        spark,
        _raw(
            [
                _capture("u", {"$set": {"s": "hello world", "n": 0}}, ts="2024-03-01T10:00:00Z"),
                _capture("u", {"$set": {"s": "with, commas:and colons"}}, ts="2024-03-01 11:30:00"),
                _capture("u", {"$set_once": {"t": "x"}}, ts="2024-03-01T12:00:00+02:00"),
            ]
        ),
    )


def test_float_nested_and_escaped_payloads_match_kernel(spark):
    # floats, nested containers, unicode, quotes/backslashes and >int64
    # integers all round-trip through the replay's JSON columns unchanged
    _assert_matches_kernel(
        spark,
        _raw(
            [
                _capture("u1", {"$set": {"f": 1.5}}),
                _capture("u2", {"$set": {"o": {"nested": 1}}}),
                _capture("u3", {"$set": {"a": [1, 2]}}),
                _capture("u4", {"$set": {"q": 'quo"te'}}),
                _capture("u5", {"$set": {"u": "ünïcode"}}),
                _capture("u6", {"$set": {"big": 12345678901234567890}}),
            ]
        ),
    )


def test_quoted_distinct_id_round_trips(spark):
    # a literal '"' in distinct_id survives JSON decoding as a plain char;
    # the persons table must carry the real id, not corrupted JSON
    _assert_matches_kernel(
        spark,
        _raw(
            [
                _capture('a"b'),  # ensure-only: update is null
                _capture('a"b', {"$set": {"k": 1}}),
                _capture("plain", {"$set": {"k": 2}}),
            ]
        ),
    )
    cmds = decode_normalize_requests(spark.createDataFrame(_raw([_capture('a"b')])))
    _, persons = fold_person_state(cmds)
    (row,) = persons.collect()
    assert list(row["distinct_ids"]) == ['a"b']


def test_alias_components_match_kernel(spark):
    raw = _raw(
        [
            _capture("a", {"$set": {"k": 1}}),
            _capture("b", {"$set": {"k": 2}}),
        ]
    ) + [
        Row(
            request_seq=2,
            endpoint="alias",
            body=json.dumps({"distinct_id": "a", "alias": "b"}),
        ),
        Row(
            request_seq=3,
            endpoint="capture",
            body=json.dumps(_capture("c", {"$set": {"k": 3}})),
        ),
    ]
    _, persons = _assert_matches_kernel(spark, raw)
    assert [p[0] for p in persons] == ["a", "c"]


def test_key_ordering_matches_dict_semantics(spark):
    # dict order: re-set after unset moves the key to the end
    bodies = []
    for u in range(5):
        d = f"user{u}"
        bodies += [
            _capture(d, {"$set": {"k1": 1, "k2": 2}}),
            _capture(d, {"$unset": ["k1"]}),
            _capture(d, {"$set": {"k1": 3}}),
        ]
    snaps, _ = _assert_matches_kernel(spark, _raw(bodies))
    # serialized order is k2 then k1 (kernel: pop + reinsert appends)
    assert snaps[-1][3] == '{"k2":2,"k1":3}'


def test_hot_key_million_ops_default_settings(spark):
    """The streaming replay folds a 1M-op component: one distinct_id with
    1M ops among normal traffic, folded with default settings. The
    replay keeps its kernel state across Arrow batches, so the hot
    component streams through one task without buffering its op list."""
    n_hot = 1_000_000
    hot = spark.range(n_hot).select(
        F.col("id").alias("request_seq"),
        F.lit(0).cast("long").alias("item_index"),
        F.lit(None).cast("string").alias("alias"),
        F.lit("0").alias("skip_person"),
        F.lit(None).cast("string").alias("anon_distinct_id"),
        F.lit("hot").alias("distinct_id"),
        F.concat(
            F.lit('{"distinct_id": "hot", "set": {"k": '),
            (F.col("id") % 1000).cast("string"),
            F.lit('}, "set_once": {}, "unset": []}'),
        ).alias("person_update"),
        F.lit(None).cast("string").alias("timestamp"),
    )
    normal = spark.range(n_hot, n_hot + 50).select(
        F.col("id").alias("request_seq"),
        F.lit(0).cast("long").alias("item_index"),
        F.lit(None).cast("string").alias("alias"),
        F.lit("0").alias("skip_person"),
        F.lit(None).cast("string").alias("anon_distinct_id"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("distinct_id"),
        F.concat(
            F.lit('{"distinct_id": "u'),
            F.col("id").cast("string"),
            F.lit('", "set": {"a": 1}, "set_once": {}, "unset": []}'),
        ).alias("person_update"),
        F.lit(None).cast("string").alias("timestamp"),
    )
    cmds = hot.unionByName(normal)
    snapshots, persons = fold_person_state(cmds, team_id=1)
    by_id = {r["canonical_id"]: r for r in persons.collect()}
    assert len(by_id) == 51
    hot_rec = by_id["hot"]
    assert hot_rec["version"] == n_hot
    # last write wins: k = (n_hot-1) % 1000, JSON-encoded map value
    assert json.loads(hot_rec["properties"]["k"]) == (n_hot - 1) % 1000
    assert snapshots.count() == n_hot + 50
