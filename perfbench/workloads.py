"""The closed-loop workloads, as lists of operations.

`query` (the analytics control plus the LLM-data and graph operators)
and `ingest` (the PostHog write path) are the benchmark's workloads;
`analytics` and `llm` run the two halves of `query` on their own.

An operation is one query (plan build + collect), one batch call, or one
streaming micro-batch. Each `Op.run` makes the benchmark's own calls into
the engine's public functions, wrapped in spans named after the module
that implements them, and returns its results as (rows, columns) pairs;
`Op.oracles` gives the DuckDB SQL each one is checked against, so the
runner can compute every reference before timing. A micro-batch has no
result of its own: the ops after it read what it wrote and check it, and
a failed check there fails the micro-batch too.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable


@dataclass
class Op:
    name: str
    # input tables whose rows count toward rows_per_s
    inputs: tuple[str, ...]
    run: Callable
    # oracle SQL for each check `run` returns, in the same order
    oracles: Callable
    # earlier ops of the pass whose output this op's checks read, so a
    # failed check fails them too
    covers: tuple[str, ...] = ()
    # untimed client-side step before the op (landing a stream chunk)
    prepare: Callable | None = None


@dataclass
class Ctx:
    spark: object
    data_dir: str
    scratch: str
    tracer: object

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def _build_collect(ctx: Ctx, build: Callable):
    with ctx.span("build"):
        df = build()
    with ctx.span("collect"):
        rows = df.collect()
    return rows, df.columns


# ---- analytics: read-only queries of the plan layer ------------------------


def _registered(name: str, layer: str, inputs: tuple[str, ...]) -> Op:
    def run(ctx: Ctx):
        from hogflare_spark import plans

        with ctx.span(layer, op=name):
            rows, cols = _build_collect(
                ctx, lambda: plans.QUERIES[name](ctx.spark, ctx.data_dir)
            )
        return [(rows, cols)]

    def oracles():
        from hogflare_spark import plans

        return [plans.ORACLES[name]]

    return Op(name, inputs, run, oracles)


_REL, _EV = "plans.relational", "plans.events_analytics"
_LI, _E = ("lineitem",), ("events",)

ANALYTICS = [
    _registered("q1_pricing_summary", _REL, _LI),
    _registered("ev_sessionization", _EV, _E),
]


# ---- llm: LLM-data and graph operators -------------------------------------
#
# The iterated trainers are called through the operators' own entry points
# with fewer iterations than their registered gates (each iteration is a
# fixed run of sequential jobs, and the gates' counts do not fit the run's
# time budget), and checked against the operators' SQL mirrors, or the
# gate's oracle, at the same count.

_KMEANS_ITERS = 2
_BPE_MERGES = 2
_PAGERANK_ROUNDS = 2


def _own(
    name: str, layer: str, inputs: tuple[str, ...], build: Callable, oracle: Callable
) -> Op:
    def run(ctx: Ctx):
        with ctx.span(layer, op=name):
            rows, cols = _build_collect(ctx, lambda: build(ctx))
        return [(rows, cols)]

    return Op(name, inputs, run, lambda: [oracle()])


def _table(ctx: Ctx, name: str):
    from hogflare_spark.sources.readers import load_table

    return load_table(ctx.spark, ctx.data_dir, name)


def _kmeans(ctx: Ctx):
    from hogflare_spark.operators.similarity import distributed_kmeans

    return distributed_kmeans(_table(ctx, "embeddings"), k=8, iters=_KMEANS_ITERS)


def _kmeans_sql() -> str:
    from hogflare_spark.operators.similarity import distributed_kmeans_sql

    return distributed_kmeans_sql("embeddings", k=8, iters=_KMEANS_ITERS, dim=64)


def _bpe(ctx: Ctx):
    from hogflare_spark.operators.bpe import bpe_train_merges

    return bpe_train_merges(_table(ctx, "documents"), "text", "doc_id", n_merges=_BPE_MERGES)


def _bpe_sql() -> str:
    from hogflare_spark.operators.bpe import bpe_train_merges_sql

    return bpe_train_merges_sql("documents", "text", "doc_id", n_merges=_BPE_MERGES)


def _pagerank(ctx: Ctx):
    """q_pagerank_parts' co-purchase part graph and top-20 hubs."""
    from pyspark.sql import functions as F

    from hogflare_spark.operators.graph import pagerank_fixed_point

    nodes = _table(ctx, "lineitem").where(F.col("l_partkey") % 4 == 0)
    nodes = nodes.select("l_orderkey", "l_partkey")
    a, b = nodes.alias("a"), nodes.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    return (
        pagerank_fixed_point(edges, iterations=_PAGERANK_ROUNDS)
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


def _pagerank_sql() -> str:
    """q_pagerank_parts' registered oracle at the benchmark's round count."""
    from hogflare_spark import plans

    sql = plans.ORACLES["q_pagerank_parts"]
    for gate, ours in (("pr.it < 8", "pr.it < {n}"), ("it = 8", "it = {n}")):
        if gate not in sql:
            raise ValueError(f"q_pagerank_parts' oracle no longer has {gate!r}")
        sql = sql.replace(gate, ours.format(n=_PAGERANK_ROUNDS))
    return sql


_D, _V = ("documents",), ("embeddings",)

LLM = [
    _registered("llm_exact_dedup", "operators.dedup", _D),
    _own("kmeans_clusters", "operators.similarity", _V, _kmeans, _kmeans_sql),
    _own("bpe_merges", "operators.bpe", _D, _bpe, _bpe_sql),
    _registered("llm_bm25_topk", "operators.retrieval", _D),
    _own("pagerank_parts", "operators.graph", ("lineitem",), _pagerank, _pagerank_sql),
    _registered("q_recursive_ancestors", "operators.recursion", ("part",)),
]


# ---- ingest: the PostHog write path ------------------------------------------
#
# One capture request per event carries three independent updates, each
# checked by the oracle an hf_* gate registers for it: a $set / $set_once
# / $unset of the event's k (hf_event_snapshots, and for the folded
# persons table hf_person_fold_state and hf_flags_on_streaming_state), a
# $group_set of k on the event_type group (hf_event_group_props), and the
# event's own timestamp, which decides its lake partition
# (hf_lake_roundtrip).
#
# In a traced run decode, the person and group folds, ingest_commands and
# the lake append are spanned wherever they are called from
# (tracing.layer_spans), which includes inside the micro-batch.


def _capture_requests(ctx: Ctx):
    from pyspark.sql import functions as F

    ev = _table(ctx, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    even = (k % 2) == 0
    set_map = F.when(even, F.to_json(F.struct(k.alias("k"), k.alias("temp")))).otherwise(
        F.to_json(F.struct(k.alias("k")))
    )
    body = F.concat(
        F.lit('{"event":"ev","distinct_id":"'),
        F.col("user_id").cast("string"),
        F.lit('","timestamp":"'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        F.lit('","properties":{"$set":'),
        set_map,
        F.lit(',"$set_once":{"first_k":'),
        k.cast("string"),
        F.lit("}"),
        F.when(even, F.lit("")).otherwise(F.lit(',"$unset":["temp"]')),
        F.lit(',"$groups":{"segment":"'),
        F.col("event_type"),
        F.lit('"},"$group_set":{"segment":{"k":'),
        k.cast("string"),
        F.lit("}}}}"),
    )
    return ev.select(
        F.col("event_id").alias("request_seq"),
        F.lit("capture").alias("endpoint"),
        body.alias("body"),
    )


def _persons_projection(persons):
    from pyspark.sql import functions as F

    return persons.select(
        F.col("canonical_id").cast("long").alias("user_id"),
        F.element_at("properties", "k").cast("long").alias("k_last"),
        F.element_at("properties_set_once", "first_k").cast("long").alias("k_first"),
        F.element_at("properties", "temp").cast("long").alias("temp_last"),
        F.col("version").alias("version"),
    )


def _stream_dirs(ctx: Ctx) -> tuple[str, str, str]:
    work = os.path.join(ctx.scratch, "stream")
    return (
        os.path.join(work, "landing"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "warehouse"),
    )


def _land_requests(ctx: Ctx) -> None:
    """The client's side of the stream, untimed: land the capture
    requests as JSON files for the stream's file source."""
    landing, _, _ = _stream_dirs(ctx)
    _capture_requests(ctx).write.mode("append").json(landing)


def _stream_batch(ctx: Ctx):
    """One StreamingIngestJob micro-batch over the landed requests:
    decode → normalize → person/group folds → hydration → state and
    events commits. Its result is checked by the ops that read it."""
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    landing, ckpt, warehouse = _stream_dirs(ctx)
    job = StreamingIngestJob(warehouse, hybrid=True)
    with ctx.span("streaming.ingest_stream"):
        job.run_available_now(read_request_stream(ctx.spark, landing), ckpt)
    return []


def _lake_append(ctx: Ctx):
    """Batch sink: the micro-batch's events appended to a date-partitioned
    lake (partitioned by each event's own time, as hf_lake_roundtrip
    does), then read back and checked event by event."""
    from pyspark.sql import functions as F

    from hogflare_spark.sinks.lake import append_events, read_events
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    _, _, warehouse = _stream_dirs(ctx)
    lake_dir = os.path.join(ctx.scratch, "lake")
    with ctx.span("build"):
        events = read_events(ctx.spark, StreamingIngestJob(warehouse).events_dir)
        append_events(events.withColumn("created_at", F.col("timestamp")), lake_dir)
    with ctx.span("collect"):
        back = read_events(ctx.spark, lake_dir)
        pp, gp = F.col("person_properties"), F.col("group_properties")
        snapshots = back.select(
            F.col("request_seq").alias("event_id"),
            F.col("distinct_id").cast("long").alias("user_id"),
            F.get_json_object(pp, "$.k").cast("long").alias("k_now"),
            F.get_json_object(pp, "$.temp").cast("long").alias("temp_now"),
            F.get_json_object(pp, "$.first_k").cast("long").alias("first_k"),
        )
        group_props = back.select(
            F.col("request_seq").alias("event_id"),
            F.get_json_object(gp, "$.segment.k").cast("long").alias("k_asof"),
        )
        per_day = back.groupBy(F.col("event_date")).agg(
            F.count("*").alias("n"),
            F.count_distinct(F.col("distinct_id").cast("long")).alias("users"),
        )
        return [(df.collect(), df.columns) for df in (snapshots, group_props, per_day)]


_STREAM_FLAGS_CONFIG = """
{"flags": [
  {"key": "big-k",
   "conditions": [{"properties": [
     {"key": "k", "value": 50, "operator": "gte"}]}]},
  {"key": "temp-set",
   "conditions": [{"properties": [
     {"key": "temp", "value": 0, "operator": "gte"}]}]},
  {"key": "early-bird-or-big",
   "conditions": [
     {"properties": [{"key": "first_k", "value": 10, "operator": "lt"}]},
     {"properties": [{"key": "k", "value": 90, "operator": "gte"}]}]}
]}
"""


def _flags_on_live_state(ctx: Ctx):
    """/decide against the live persons table the micro-batch built. The
    flag set is hf_flags_on_streaming_state's, so its oracle applies; the
    persons table, read back in the same op, is checked against
    hf_person_fold_state's."""
    from pyspark.sql import functions as F

    from hogflare_spark.flags.compiler import evaluate_flags_df
    from hogflare_spark.flags.model import parse_flag_config
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    _, _, warehouse = _stream_dirs(ctx)
    with ctx.span("flags"):
        with ctx.span("build"):
            persons = StreamingIngestJob(warehouse, hybrid=True).read_persons(ctx.spark)
            contexts = persons.select(
                F.col("canonical_id").cast("long").alias("user_id"),
                F.col("canonical_id").alias("distinct_id"),
                F.to_json(
                    F.struct(
                        F.element_at("properties", "k").alias("k"),
                        F.element_at("properties", "temp").alias("temp"),
                        F.element_at("properties_set_once", "first_k").alias("first_k"),
                    )
                ).alias("person_properties"),
                F.create_map().cast("map<string,string>").alias("groups"),
                F.lit(None).cast("string").alias("group_properties"),
            )
            flags = sorted(parse_flag_config(_STREAM_FLAGS_CONFIG), key=lambda f: f.key)
            out = evaluate_flags_df(contexts, flags).select(
                "user_id", "flag_key", "value", "reason", "condition_index"
            )
        with ctx.span("collect"):
            rows = out.collect()
    state = _persons_projection(persons)
    return [(rows, out.columns), (state.collect(), state.columns)]


def _gate_oracles(*names: str) -> Callable:
    def oracles():
        from hogflare_spark import plans

        return [plans.ORACLES[n] for n in names]

    return oracles


INGEST = [
    Op("stream_batch", _E, _stream_batch, lambda: [], prepare=_land_requests),
    Op(
        "lake_append",
        (),
        _lake_append,
        _gate_oracles("hf_event_snapshots", "hf_event_group_props", "hf_lake_roundtrip"),
        covers=("stream_batch",),
    ),
    Op(
        "flags_on_live_state",
        (),
        _flags_on_live_state,
        _gate_oracles("hf_flags_on_streaming_state", "hf_person_fold_state"),
        covers=("stream_batch",),
    ),
]

# `query` is what the benchmark times: the analytics control plus the
# LLM-data operators. `analytics` and `llm` run each half on its own.
WORKLOADS = {
    "query": ANALYTICS + LLM,
    "ingest": INGEST,
    "analytics": ANALYTICS,
    "llm": LLM,
}
