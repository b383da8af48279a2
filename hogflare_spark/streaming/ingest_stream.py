"""Structured Streaming ingest (SURVEY.md §7 M6).

The reference processes requests synchronously per HTTP call with per-key
Durable-Object state (/root/reference/src/lib.rs:406-475,
src/persons.rs:488-541). The Spark realization is micro-batch:

- `read_request_stream`: readStream over a landing directory of JSON
  request rows (a thin HTTP receiver writes these; Kafka would slot in
  identically via format("kafka")).
- `StreamingIngestJob`: foreachBatch incremental fold. Each micro-batch
  decodes + normalizes its requests, seeds the person/group folds with
  the prior state version, appends enriched events (partitioned by event
  date), and writes a new state version. State versions are directories
  `persons/v=<n>` plus (hybrid mode) delta directories `persons/d=<n>`,
  with a single `_STATE` JSON pointer committed last, so a crashed batch
  never corrupts readable state and replays (same batch id) simply
  rewrite the same version/delta — idempotent with the stream
  checkpoint. `hybrid=True` routes alias-free micro-batches through a
  fast lane that seeds only the touched persons and writes O(batch)
  deltas (see the class docstring).
- `stateful_person_snapshots`: a true per-key stateful operator
  (`applyInPandasWithState`, state store-backed) folding $set/$set_once/
  $unset per distinct_id and emitting post-update snapshots — the direct
  analogue of the reference's per-key DO serialization. Cross-key alias
  merges are NOT expressible inside a keyed state op (they need cross-
  partition coordination); the foreachBatch path above is the complete-
  semantics mode, this operator is the low-latency alias-free mode.
- `windowed_event_counts`: event-time tumbling-window aggregation with a
  watermark — the late-data policy the reference never had (SURVEY.md
  §2.6 "Streaming" row documents the divergence).

Arrival-order parity: within a micro-batch, ops replay in (request_seq,
item_index) order exactly like the batch path; across batches, order is
micro-batch arrival order. This matches the reference's per-request
sequencing as long as the receiver assigns monotone request_seq.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hogflare_spark.operators.person_store import apply_update, merged_properties
from hogflare_spark.schemas import GROUP_SCHEMA, PERSON_SCHEMA
from hogflare_spark.functions.caching import cached, unpersist_all

RAW_STREAM_SCHEMA = StructType(
    [
        StructField("request_seq", LongType(), False),
        StructField("endpoint", StringType(), False),
        StructField("body", StringType(), False),
        StructField("content_encoding", StringType(), True),
        StructField("header_api_key", StringType(), True),
        StructField("header_sent_at", StringType(), True),
    ]
)


def read_request_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source request stream; one JSON object per line."""
    reader = spark.readStream.schema(RAW_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)


class StreamingIngestJob:
    """Incremental ingest: micro-batches fold into versioned state tables
    plus a date-partitioned events log.

    ``hybrid=True`` enables the alias-aware routing the reference's DO
    model gets for free (persons.rs:281-326 merges are per-key there):
    micro-batches that contain NO cross-key identity ops (no `/alias`,
    no identify-with-$anon_distinct_id) take a fast lane that seeds the
    fold with only the persons their distinct_ids touch and writes a
    per-batch DELTA of changed rows — O(batch), not O(all persons) — so
    steady capture traffic never rewrites or replays the full persons
    table. Batches that DO carry alias ops (plus every
    ``max_person_deltas``-th batch, bounding read amplification) take
    the complete-semantics full fold, which doubles as delta compaction.
    Groups get the same delta lane unconditionally — group ops are
    always per-(type,key) LWW upserts (groups.rs), there is no group
    analogue of an alias merge to route around. Both lanes produce
    byte-identical state to the one-shot batch fold
    (tests/test_streaming.py hybrid convergence tests).

    At 100 TB the affected-person lookup is a join against a
    distinct_id→canonical_id index (here: explode over the persons scan
    + two broadcast semi/anti joins — no shuffle of the persons table,
    but a linear scan; a bucketed index table turns it into a pruned
    bucket join).
    """

    def __init__(
        self,
        warehouse_dir: str,
        team_id: int | None = None,
        group_types: tuple[str | None, ...] = (None, None, None, None, None),
        hybrid: bool = False,
        max_person_deltas: int = 16,
        run_id: str | None = None,
    ):
        self.warehouse_dir = warehouse_dir
        self.team_id = team_id
        self.group_types = group_types
        self.hybrid = hybrid
        self.max_person_deltas = max_person_deltas
        self.events_dir = os.path.join(warehouse_dir, "events")
        # Identifies one logical stream (one checkpoint dir). Spark batch
        # ids restart at 0 with a fresh checkpoint, so batch ids alone
        # cannot distinguish "checkpoint replay of MY batch N" from "a
        # NEW stream's batch N over an existing warehouse" — the latter
        # must apply, not roll back. start() defaults this to the
        # checkpoint path; _commit_id folds it into every on-disk id.
        self.run_id = run_id
        self._epoch: int | None = None

    # ---- run epochs ------------------------------------------------------

    _EPOCH_STRIDE = 1_000_000_000

    def _resolve_epoch(self) -> int:
        """The warehouse-scoped epoch of this run, claimed ATOMICALLY
        and PER-RUN via O_EXCL files under `_epochs/<n>` (content: the
        claiming run_id). A run's epoch is the one it claimed, forever:
        a checkpoint resume re-reads its own claim file, so interleaved
        writers can never move a run onto a fresh epoch (the old
        last-writer `_RUN` scheme did exactly that, making a resumed
        run's replayed batches miss their `committed_batch` markers and
        double-apply), and two fresh runs racing resolve via O_EXCL —
        the loser observes FileExistsError and claims the next number.
        `_RUN` is still written (non-authoritative) for older tooling;
        legacy warehouses with only `_RUN` are adopted by materializing
        a claim file for the recorded (run_id, epoch)."""
        if self._epoch is not None:
            return self._epoch
        os.makedirs(self.warehouse_dir, exist_ok=True)
        epochs_dir = os.path.join(self.warehouse_dir, "_epochs")
        os.makedirs(epochs_dir, exist_ok=True)
        run_key = str(self.run_id)

        def scan() -> dict[int, str]:
            out = {}
            for name in os.listdir(epochs_dir):
                if name.isdigit():
                    with open(os.path.join(epochs_dir, name)) as fh:
                        out[int(name)] = fh.read()
            return out

        def claim(epoch: int) -> bool:
            try:
                fd = os.open(
                    os.path.join(epochs_dir, str(epoch)),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                return False
            with os.fdopen(fd, "w") as fh:
                fh.write(run_key)
            return True

        claimed = scan()
        mine = [e for e, rid in claimed.items() if rid == run_key]
        if mine:
            self._epoch = min(mine)
            return self._epoch

        legacy_path = os.path.join(self.warehouse_dir, "_RUN")
        legacy = None
        if os.path.exists(legacy_path):
            with open(legacy_path) as fh:
                legacy = json.load(fh)
        if (
            legacy is not None
            and legacy.get("run_id") == self.run_id
            and claim(int(legacy["epoch"]))
        ):
            # Adopted a pre-claim-dir warehouse where this run was the
            # last writer: its on-disk commit ids carry this epoch.
            self._epoch = int(legacy["epoch"])
            return self._epoch

        floor = max(claimed, default=-1)
        if legacy is not None:
            floor = max(floor, int(legacy["epoch"]))
        if floor < 0:
            # Pre-_RUN warehouses already hold epoch-0-style ids; a new
            # run over one must not reuse them.
            has_state = any(
                os.path.exists(os.path.join(self._state_root(t), f))
                for t in ("persons", "groups")
                for f in ("_STATE", "_LATEST")
            )
            floor = 0 if has_state else -1
        while self._epoch is None:
            candidate = floor + 1
            if claim(candidate):
                self._epoch = candidate
                break
            claimed = scan()
            mine = [e for e, rid in claimed.items() if rid == run_key]
            if mine:  # a concurrent attempt of THIS run won the race
                self._epoch = min(mine)
                break
            floor = max(max(claimed, default=floor), floor)
        tmp = legacy_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"run_id": self.run_id, "epoch": self._epoch}, fh)
        os.replace(tmp, legacy_path)
        return self._epoch

    def _commit_id(self, batch_id: int) -> int:
        """Warehouse-unique, replay-stable id for one (run, batch):
        deterministic within a run (a checkpoint replay regenerates the
        SAME id and overwrites the same directories — a true rewrite)
        and disjoint across runs (a fresh-checkpoint stream's batch 0
        can never be mistaken for, or clobber, another run's batch 0)."""
        return self._resolve_epoch() * self._EPOCH_STRIDE + int(batch_id)

    # ---- state versioning ------------------------------------------------
    #
    # Pointer protocol: `_STATE` is one JSON object
    # {"base": <version|null>, "deltas": [<batch ids>], "max_id": <long>}
    # swung atomically via os.replace, so base and delta list can never
    # be observed out of sync (a two-file scheme could apply pre-
    # compaction deltas on top of a post-compaction base — lost-update).
    # `_LATEST` (legacy, base version only) is still written for older
    # warehouses/readers and used as a fallback when `_STATE` is absent.

    def _state_root(self, table: str) -> str:
        return os.path.join(self.warehouse_dir, table)

    def _read_pointer(self, table: str) -> dict | None:
        root = self._state_root(table)
        state_path = os.path.join(root, "_STATE")
        if os.path.exists(state_path):
            with open(state_path) as fh:
                return json.load(fh)
        legacy = os.path.join(root, "_LATEST")
        if os.path.exists(legacy):
            with open(legacy) as fh:
                return {"base": int(fh.read().strip()), "deltas": [], "max_id": None}
        return None

    def _commit_pointer(self, table: str, pointer: dict) -> None:
        # `committed_by_epoch` (epoch → last commit id) merges from the
        # LIVE pointer, not the caller's (possibly replay_base-derived)
        # one: every run's latest committed batch stays remembered even
        # after other runs' commits, which is what lets a replay that
        # arrives AFTER an interleaved writer be recognized as already
        # applied (see process_batch) instead of double-applying. One
        # entry per run — bounded by run count, not batch count.
        live = self._read_pointer(table) or {}
        by_epoch = dict(live.get("committed_by_epoch") or {})
        cb = pointer.get("committed_batch")
        if cb is not None:
            by_epoch[str(int(cb) // self._EPOCH_STRIDE)] = int(cb)
        pointer = {**pointer, "committed_by_epoch": by_epoch}
        root = self._state_root(table)
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, "_STATE.tmp")
        with open(tmp, "w") as fh:
            json.dump(pointer, fh)
        os.replace(tmp, os.path.join(root, "_STATE"))
        if pointer.get("base") is not None:
            tmp = os.path.join(root, "_LATEST.tmp")
            with open(tmp, "w") as fh:
                fh.write(str(pointer["base"]))
            os.replace(tmp, os.path.join(root, "_LATEST"))

    def _latest_version(self, table: str) -> int | None:
        pointer = self._read_pointer(table)
        return None if pointer is None else pointer.get("base")

    def _read_state(self, spark: SparkSession, table: str, schema) -> DataFrame | None:
        version = self._latest_version(table)
        if version is None:
            return None
        path = os.path.join(self._state_root(table), f"v={version}")
        return spark.read.schema(schema).parquet(path)

    @staticmethod
    def _replay_base_of(pointer: dict | None) -> dict | None:
        """The pointer as stored for crash-replay seeding: one level only
        (nested replay_base stripped so pointers stay O(1))."""
        if pointer is None:
            return None
        return {k: v for k, v in pointer.items() if k != "replay_base"}

    def _write_state(
        self,
        df: DataFrame,
        table: str,
        version: int,
        committed_batch: int | None = None,
        replay_base: dict | None = None,
        max_id: int | None = None,
    ) -> None:
        root = self._state_root(table)
        path = os.path.join(root, f"v={version}")
        df.write.mode("overwrite").parquet(path)
        self._commit_pointer(
            table,
            {
                "base": int(version),
                "deltas": [],
                "max_id": max_id,
                "committed_batch": committed_batch,
                "replay_base": replay_base,
            },
        )

    def read_persons(self, spark: SparkSession) -> DataFrame | None:
        """The current persons view: base version ∪ deltas, last writer
        wins per canonical_id (fast-lane batches never merge persons, so
        canonical_id is a stable upsert key across deltas)."""
        return self._table_view(
            spark, "persons", self._read_pointer("persons"), PERSON_SCHEMA,
            ["canonical_id"],
        )

    def read_groups(self, spark: SparkSession) -> DataFrame | None:
        return self._table_view(
            spark, "groups", self._read_pointer("groups"), GROUP_SCHEMA,
            ["group_type", "group_key"],
        )

    def _table_view(
        self,
        spark: SparkSession,
        table: str,
        pointer: dict | None,
        schema,
        key_cols: list[str],
    ) -> DataFrame | None:
        """base version ∪ deltas, last writer wins per key."""
        if pointer is None:
            return None
        root = self._state_root(table)
        frames = []
        if pointer.get("base") is not None:
            base = spark.read.schema(schema).parquet(
                os.path.join(root, f"v={pointer['base']}")
            )
            frames.append(base.withColumn("_delta_rank", F.lit(0)))
        for rank, delta_id in enumerate(pointer.get("deltas", []), start=1):
            delta = spark.read.schema(schema).parquet(
                os.path.join(root, f"d={delta_id}")
            )
            frames.append(delta.withColumn("_delta_rank", F.lit(rank)))
        if not frames:
            return None
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f)
        if len(frames) == 1:
            return merged.drop("_delta_rank")
        from pyspark.sql.window import Window

        w = Window.partitionBy(*key_cols).orderBy(F.desc("_delta_rank"))
        out = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_delta_rank")
        )
        if "uuid" in out.columns:
            # a winning tombstone (uuid NULL, written by the delta lane
            # when a batch merge absorbs a canonical_id) retires the key
            out = out.where(F.col("uuid").isNotNull())
        return out

    # ---- the micro-batch body -------------------------------------------

    def _batch_pointer(self, table: str, batch_id: int) -> tuple[dict, list[int]]:
        """The table's pointer with checkpoint-replay normalization, so a
        batch that committed state but crashed before the STREAM
        checkpoint recorded it replays as a deterministic rewrite rather
        than double-applying on top of its own output:

        Every commit (both lanes) records which COMMIT ID produced it
        (`committed_batch` — base VERSION NUMBERS share the id space, so
        matching on the version alone would misfire on seeded
        warehouses) plus the exact pre-batch pointer (`replay_base`).
        Spark's checkpoint contract means only the LATEST batch can ever
        replay, so one level of replay info suffices. The delta-list
        rollback below remains as the fallback for pointers written
        before replay_base existed.

        `batch_id` here is the run-epoched commit id (_commit_id), NOT
        Spark's raw batch id: a fresh-checkpoint stream restarts raw
        batch ids at 0, and matching on those would misread a NEW
        stream's batch 0 over an existing warehouse as a replay of the
        PREVIOUS stream's batch 0 — rolling the pointer back and
        silently discarding committed state. Epoched ids are disjoint
        across runs, so only a genuine same-run replay can ever match.
        """
        pointer = self._read_pointer(table) or {"base": None, "deltas": []}
        if pointer.get("committed_batch") == int(batch_id):
            pointer = pointer.get("replay_base") or {"base": None, "deltas": []}
        deltas = list(pointer.get("deltas", []))
        if int(batch_id) in deltas:
            deltas = deltas[: deltas.index(int(batch_id))]
            pointer = {**pointer, "deltas": deltas, "max_id": None}
        return pointer, deltas

    def _max_person_id(self, spark: SparkSession, pointer: dict) -> int:
        if pointer.get("max_id") is not None:
            return int(pointer["max_id"])
        prior = self._table_view(
            spark, "persons", pointer, PERSON_SCHEMA, ["canonical_id"]
        )
        if prior is None:
            return 0
        row = prior.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m")).collect()[0]
        return int(row["m"] or 0)

    @staticmethod
    def _touched_distinct_ids(commands: DataFrame) -> DataFrame:
        """Every distinct_id a batch's person ops can reference —
        including BOTH endpoints of alias/auto-alias edges (mirrors
        derive_person_ops' gates). Components of the prior table not
        intersecting this set are provably untouched by the batch: a
        batch can only merge records along its own alias edges, and both
        edge endpoints appear here, so seeding the intersected records
        (already-merged components) closes the batch's alias closure."""
        skip0 = F.col("skip_person") == "0"
        return (
            commands.select(
                F.explode(
                    F.array_compact(
                        F.array(
                            F.when(skip0, F.col("distinct_id")),
                            F.when(skip0, F.col("anon_distinct_id")),
                            F.get_json_object("alias", "$.distinct_id"),
                            F.get_json_object("alias", "$.alias"),
                        )
                    )
                ).alias("_did")
            )
            .distinct()
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # release every operator cache this batch registered (commands,
        # fold pins, id-allocation intermediates) on BOTH paths — a
        # long-lived stream must not accumulate JVM cache blocks across
        # micro-batches, and (r7 ADVICE) an exception mid-batch (write
        # failure, CommitConflict) must not leak that batch's caches
        # until the next successful batch happens to drain them.
        try:
            self._process_batch_inner(batch_df, batch_id)
        finally:
            unpersist_all()

    def _process_batch_inner(self, batch_df: DataFrame, batch_id: int) -> None:
        from hogflare_spark.operators.ingest import ingest_commands
        from hogflare_spark.operators.normalize import decode_normalize_requests

        spark = batch_df.sparkSession
        cid = self._commit_id(batch_id)

        # Replay-after-interleave detection: if THIS cid is recorded as
        # its epoch's last committed batch but some OTHER run has
        # committed since (committed_batch moved on), the batch's
        # effects are already folded into state that later writers built
        # on. Re-applying would double-apply; "rewriting" would clobber
        # the interleaved commits. The only exactly-once behavior is a
        # full no-op (the batch's events dir already holds its committed
        # rows). Checked per table — a crash between the groups and
        # persons commits legitimately leaves one table applied and the
        # other not.
        def _already_applied(table: str) -> bool:
            live = self._read_pointer(table) or {}
            by_epoch = live.get("committed_by_epoch") or {}
            return (
                by_epoch.get(str(cid // self._EPOCH_STRIDE)) == cid
                and live.get("committed_batch") != cid
            )

        p_applied = _already_applied("persons")
        g_applied = _already_applied("groups")
        if p_applied and g_applied:
            return

        commands = cached(decode_normalize_requests(batch_df))
        p_pointer, p_deltas = self._batch_pointer("persons", cid)
        g_pointer, g_deltas = self._batch_pointer("groups", cid)
        # The delta lane now takes EVERY batch once a base exists (up to
        # the delta-compaction cap) — including alias batches: the seed
        # below is the prior components the batch's ids touch, and both
        # endpoints of every alias edge are in the touched set, so a
        # cross-key merge folds correctly against its restricted seed.
        # Records absorbed by a merge get tombstone rows in the delta
        # (uuid NULL) so the read view drops their stale base rows —
        # without them, a merged-away canonical_id would resurrect from
        # the base at read time. Pre-r5 the lane refused alias batches
        # outright, so a 1%-alias stream paid a full-corpus fold on
        # every alias-carrying batch (reference semantics pinned by
        # /root/reference/src/persons.rs:281-326).
        person_delta = (
            self.hybrid
            and p_pointer.get("base") is not None
            and len(p_deltas) < self.max_person_deltas
        )
        # group ops are ALWAYS per-(type,key) — no cross-key merges exist
        # in the model (groups.rs LWW upserts) — so the delta lane needs
        # only the bootstrap base and the read-amplification cap.
        group_delta = (
            self.hybrid
            and g_pointer.get("base") is not None
            and len(g_deltas) < self.max_person_deltas
        )
        prior_persons = self._table_view(
            spark, "persons", p_pointer, PERSON_SCHEMA, ["canonical_id"]
        )
        prior_groups = self._table_view(
            spark, "groups", g_pointer, GROUP_SCHEMA, ["group_type", "group_key"]
        )
        seed_persons, floor = prior_persons, None
        if person_delta:
            # seed only the persons whose distinct_ids this batch touches
            # (alias endpoints included); untouched rows stay in
            # base/deltas and are never replayed.
            touched = self._touched_distinct_ids(commands)
            affected_ids = (
                prior_persons.select(
                    "canonical_id", F.explode("distinct_ids").alias("_pdid")
                )
                .join(F.broadcast(touched), F.col("_pdid") == F.col("_did"), "semi")
                .select("canonical_id")
                .distinct()
                .localCheckpoint(eager=True)
            )
            seed_persons = prior_persons.join(
                F.broadcast(affected_ids), "canonical_id", "semi"
            )
            floor = self._max_person_id(spark, p_pointer)
            p_pointer["max_id"] = floor  # pin: commit below reuses it
        seed_groups = prior_groups
        if group_delta:
            from hogflare_spark.operators.group_state import derive_group_ops

            touched_keys = (
                derive_group_ops(commands)
                .select("group_type", "group_key")
                .distinct()
            )
            seed_groups = prior_groups.join(
                F.broadcast(touched_keys), ["group_type", "group_key"], "semi"
            )
        out = ingest_commands(
            commands,
            team_id=self.team_id,
            group_types=self.group_types,
            prior_persons=seed_persons,
            prior_groups=seed_groups,
            person_id_floor=floor,
        )
        events = out["events"].withColumn("event_date", F.to_date("created_at"))
        # events first: if we crash between events and state, the stream
        # checkpoint replays this batch id — the batch-scoped OVERWRITE
        # makes the replay a true rewrite (an append here would duplicate
        # the batch's rows on every replay; deterministic uuids make the
        # rewrite byte-identical). `batch` (the run-epoched commit id)
        # becomes a partition column of the warehouse events table;
        # lake.read_events drops it and lake.compact_events bin-packs the
        # event_date leaves under it.
        events.write.mode("overwrite").partitionBy("event_date").parquet(
            os.path.join(self.events_dir, f"batch={cid}")
        )
        # state folds must materialize BEFORE the new version overwrites
        # the directory the fold is lazily reading from
        new_persons = out["persons"].localCheckpoint(eager=True)
        new_groups = out["groups"].localCheckpoint(eager=True)
        groups_root = self._state_root("groups")
        if g_applied:
            pass  # already committed before an interleaved writer — no-op
        elif group_delta:
            # new_groups holds ONLY touched ∪ newly-created keys here
            new_groups.write.mode("overwrite").parquet(
                os.path.join(groups_root, f"d={cid}")
            )
            self._commit_pointer(
                "groups",
                {
                    "base": g_pointer["base"],
                    "deltas": g_deltas + [cid],
                    "committed_batch": cid,
                    "replay_base": self._replay_base_of(g_pointer),
                },
            )
        else:
            self._write_state(
                new_groups,
                "groups",
                cid,
                committed_batch=cid,
                replay_base=self._replay_base_of(g_pointer),
            )
        row = new_persons.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m")).collect()[0]
        batch_max = int(row["m"] or 0)
        persons_root = self._state_root("persons")
        if p_applied:
            pass  # already committed before an interleaved writer — no-op
        elif person_delta:
            # new_persons holds ONLY affected ∪ newly-created rows here.
            # A seeded canonical_id missing from the fold output was
            # absorbed by a batch merge — write a tombstone (uuid NULL)
            # so the LWW read view retires its stale base/delta row.
            gone = affected_ids.join(
                new_persons.select("canonical_id"), "canonical_id", "left_anti"
            )
            tombstones = gone.select(
                "canonical_id",
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in PERSON_SCHEMA.fields
                    if f.name != "canonical_id"
                ],
            )
            new_persons.unionByName(tombstones).write.mode("overwrite").parquet(
                os.path.join(persons_root, f"d={cid}")
            )
            self._commit_pointer(
                "persons",
                {
                    "base": p_pointer["base"],
                    "deltas": p_deltas + [cid],
                    "max_id": max(int(p_pointer["max_id"]), batch_max),
                    "committed_batch": cid,
                    "replay_base": self._replay_base_of(p_pointer),
                },
            )
        else:
            new_persons.write.mode("overwrite").parquet(
                os.path.join(persons_root, f"v={cid}")
            )
            self._commit_pointer(
                "persons",
                {
                    "base": cid,
                    "deltas": [],
                    "max_id": batch_max,
                    "committed_batch": cid,
                    "replay_base": self._replay_base_of(p_pointer),
                },
            )
    def start(
        self,
        raw_stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        if self.run_id is None:
            # One checkpoint dir == one logical stream: restarting from
            # the same checkpoint resumes the same run (so replays are
            # recognized); a fresh checkpoint is a new run (so its batch
            # ids live in a fresh epoch and apply instead of rolling
            # back prior state).
            self.run_id = os.path.abspath(checkpoint_dir)
        writer = (
            raw_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available_now(self, raw_stream: DataFrame, checkpoint_dir: str) -> None:
        q = self.start(raw_stream, checkpoint_dir, available_now=True)
        q.awaitTermination()


# ---------------------------------------------------------------------------
# per-key stateful operator (alias-free low-latency mode)
# ---------------------------------------------------------------------------

SNAPSHOT_SCHEMA = StructType(
    [
        StructField("request_seq", LongType(), False),
        StructField("item_index", LongType(), False),
        StructField("distinct_id", StringType(), False),
        StructField("person_version", LongType(), False),
        StructField("person_properties", StringType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("properties", StringType(), True),
        StructField("properties_set_once", StringType(), True),
        StructField("version", LongType(), True),
    ]
)


def _load_person_seed_map(persons_dir: str) -> dict:
    """Worker-side seed index: distinct_id → (props, set_once, version).

    Reads the versioned persons state (same layout StreamingIngestJob
    writes: `_STATE` JSON pointer or legacy `_LATEST`, `v=<n>` parquet)
    once per executor via a module-level cache and explodes each
    record's distinct_ids so absorbed ids resolve too. Property values
    are stored JSON-encoded in the table (FIXTURES.md §3) and decoded
    back to plain values here to match the operator's state shape.

    At cluster scale the persons table would be bucketed by
    hash(distinct_id) and each worker would load only its buckets; the
    full-table load is the single-node realization of the same seed.
    """
    import pyarrow.parquet as pq

    # The cache key includes the POINTER CONTENTS, not just the path: a
    # long-lived Python worker that served an earlier stream must not
    # seed a new stream from the table as it stood back then (the batch
    # job may have committed versions in between). Re-reading the tiny
    # pointer file per group call is microseconds; only the parquet load
    # is cached. One entry per dir — superseded snapshots are dropped.
    base = None
    state_path = os.path.join(persons_dir, "_STATE")
    legacy = os.path.join(persons_dir, "_LATEST")
    deltas: list[int] = []
    pointer_text = ""
    if os.path.exists(state_path):
        with open(state_path) as fh:
            pointer_text = fh.read()
        pointer = json.loads(pointer_text)
        base, deltas = pointer.get("base"), list(pointer.get("deltas", []))
    elif os.path.exists(legacy):
        with open(legacy) as fh:
            pointer_text = fh.read()
        base = int(pointer_text.strip())
    cache = _load_person_seed_map.__dict__.setdefault("_cache", {})
    cached = cache.get(persons_dir)
    if cached is not None and cached[0] == pointer_text:
        return cached[1]
    index: dict = {}
    if base is not None:
        paths = [os.path.join(persons_dir, f"v={base}")]
        paths += [os.path.join(persons_dir, f"d={d}") for d in deltas]
        by_canonical: dict = {}
        for path in paths:  # later deltas overwrite earlier rows (LWW)
            tbl = pq.read_table(
                path,
                columns=[
                    "canonical_id", "distinct_ids", "properties",
                    "properties_set_once", "version",
                ],
            ).to_pylist()
            for rec in tbl:
                by_canonical[rec["canonical_id"]] = rec
        for rec in by_canonical.values():
            # pyarrow maps arrive as [(k, v), ...] pairs
            props_kv = rec["properties"] or []
            so_kv = rec["properties_set_once"] or []
            entry = (
                {k: json.loads(v) for k, v in props_kv},
                {k: json.loads(v) for k, v in so_kv},
                int(rec["version"] or 0),
            )
            for did in rec["distinct_ids"] or []:
                index[did] = entry
    cache[persons_dir] = (pointer_text, index)
    return index


def stateful_person_snapshots(
    commands: DataFrame, seed_persons_dir: str | None = None
) -> DataFrame:
    """Streaming per-distinct_id $set/$set_once/$unset fold emitting
    post-update snapshots (U5+U12 for the alias-free stream).

    Input: streaming frame with (request_seq, item_index, distinct_id,
    person_update JSON). State lives in the Spark state store keyed by
    distinct_id — per-key serial processing, the reference's DO model
    (persons.rs:488-541). Updates within a batch apply in (request_seq,
    item_index) order.

    ``seed_persons_dir``: path to a versioned persons state directory
    (the batch/hybrid job's output). A key seen for the FIRST time
    initializes its state from the stored person record — including
    records reachable through an absorbed distinct_id — so the
    low-latency lane continues version counters and property bags from
    the authoritative table instead of restarting at zero. The seed map
    is cached per (dir, pointer-contents) on each worker: reused workers
    re-read the tiny pointer file and reload only when the table has
    advanced, so a NEW stream always seeds from the current snapshot —
    and within a stream the state store, once a key is live, always
    wins over the seed.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key: tuple, pdfs: Iterator[Any], state: GroupState) -> Iterator[Any]:
        import pandas as pd

        (distinct_id,) = key
        if state.exists:
            props_json, set_once_json, version = state.get
            props = json.loads(props_json or "{}")
            set_once = json.loads(set_once_json or "{}")
            version = int(version or 0)
        else:
            props, set_once, version = {}, {}, 0
            if seed_persons_dir is not None:
                seeded = _load_person_seed_map(seed_persons_dir).get(distinct_id)
                if seeded is not None:
                    props, set_once, version = (
                        dict(seeded[0]), dict(seeded[1]), seeded[2]
                    )

        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["request_seq", "item_index"], kind="mergesort")
            for r in pdf.itertuples(index=False):
                update = json.loads(r.person_update) if r.person_update else {}
                version += 1
                apply_update(props, set_once, update)
                merged = merged_properties(props, set_once)
                rows.append(
                    {
                        "request_seq": int(r.request_seq),
                        "item_index": int(r.item_index),
                        "distinct_id": distinct_id,
                        "person_version": version,
                        "person_properties": json.dumps(
                            merged, separators=(",", ":")
                        ),
                    }
                )
        state.update(
            (
                json.dumps(props, separators=(",", ":")),
                json.dumps(set_once, separators=(",", ":")),
                version,
            )
        )
        yield pd.DataFrame(rows, columns=[f.name for f in SNAPSHOT_SCHEMA.fields])

    return commands.groupBy("distinct_id").applyInPandasWithState(
        fold,
        SNAPSHOT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# event-time windowed aggregation with watermark
# ---------------------------------------------------------------------------


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    time_col: str = "created_at",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization via native session windows.

    `session_window` grows a per-key window whose end is always
    last-event-time + gap; overlapping windows MERGE in the state store
    (a session spanning micro-batches is stitched before it closes), and
    a session is emitted exactly once when the watermark passes its end.
    Boundary semantics (verified by test_streaming_sessions_gap_boundary
    _and_merge): an event at precisely prev + gap DOES merge — windows
    touch and touching windows coalesce — so the batch mirror must split
    sessions on `diff > gap`, not `>=`.

    This is the streaming twin of the batch `ev_sessionization` plan
    (plans/events_analytics.py): same gap rule, but with late-data
    eviction the reference's in-order executor never needed.
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(
            F.session_window(F.col(time_col), gap).alias("win"), F.col(key_col)
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_exact_dedup(
    events: DataFrame,
    id_cols: list[str],
    watermark: str = "1 hour",
    time_col: str = "created_at",
) -> DataFrame:
    """At-least-once → effectively-once: drop re-deliveries of the same
    key arriving within the watermark horizon.

    `dropDuplicatesWithinWatermark` keeps the FIRST arrival per key and
    evicts key state once the watermark passes its event time — bounded
    state where a plain `dropDuplicates` on a stream would grow forever.
    This is the streaming twin of operators/dedup.exact_dedup and the
    idempotency layer an at-least-once delivery pipeline (the
    reference's R2 batching, pipeline.rs:57-143) needs in front of the
    lake append.
    """
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    time_col: str = "created_at",
) -> DataFrame:
    """Tumbling-window per-event-name counts with late-data bound.

    The watermark drops events later than `watermark` behind the max seen
    event time and lets the state store evict closed windows — the policy
    knob the reference lacks (it processes strictly in arrival order).
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("win"), F.col("event"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event",
            "n",
        )
    )
