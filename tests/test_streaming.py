"""Structured Streaming tests: decode pipeline over a stream, watermarked
windows with late-data drop, native session windows, and the custom
stateful operator.  File sources with ``maxFilesPerTrigger=1`` give
deterministic micro-batch boundaries (each fixture file = one batch);
batch queries over the same rows are the correctness oracle.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from byte_convert_avro_spark.avro import schemaless_encode
from byte_convert_avro_spark.engine import KAFKA_RECORD_SCHEMA, Engine, EngineConfig
from byte_convert_avro_spark.schema_store import LocalSchemaStore
from byte_convert_avro_spark.streaming import (
    decode_stream,
    drain_to_memory,
    hourly_tumbling_stream,
    run_stream_to_memory,
    sessionize_stateful,
    sessionize_stream,
    stream_records,
)
from byte_convert_avro_spark.wire import encode_wire

FULLNAME_SCHEMA = (
    '{"type":"record","name":"FullName",'
    '"namespace":"com.ing.eventbus.connect.schema.converters",'
    '"fields":[{"name":"first","type":"string"},{"name":"last","type":"string"}]}'
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch-ns, like the driver table
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

H = 3_600  # seconds
BASE = 30 * 86_400  # keep event times clear of the initial watermark (epoch 0)


def _ns(sec: int) -> int:
    return (BASE + sec) * 1_000_000_000


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _events_stream(spark, path: str):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
def test_stream_decode_matches_batch(spark, tmp_path):
    """O1→O17 over a stream produces byte-identical envelopes to batch."""
    store = LocalSchemaStore()
    store.register(FULLNAME_SCHEMA, 1)
    eng = Engine(EngineConfig(avro_topics="t:true"), store=store)

    rows = [
        (
            None,
            encode_wire(1, schemaless_encode({"first": f"f{i}", "last": f"l{i}"}, FULLNAME_SCHEMA)),
            "t",
            0,
            i,
            None,
            0,
        )
        for i in range(20)
    ] + [(None, None, "t", 0, 99, None, 0)]  # tombstone rides along
    src = os.path.join(tmp_path, "records")
    spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).write.parquet(src)

    batch = {
        r.offset: (bytes(r.value) if r.value is not None else None)
        for r in eng.transform(spark.read.parquet(src)).collect()
    }

    streamed = {
        r.offset: (bytes(r.value) if r.value is not None else None)
        for r in drain_to_memory(
            decode_stream(eng, stream_records(spark, src))
        ).collect()
    }
    assert streamed == batch
    assert streamed[99] is None  # tombstone passthrough (O7)


# ---------------------------------------------------------------------------
def test_tumbling_watermark_drops_late(spark, tmp_path):
    """Append-mode windowed agg: an event arriving behind the watermark is
    dropped; windows finalize once the watermark passes their end."""
    src = os.path.join(tmp_path, "ev")
    # batch 1: two events in hour 0, one in hour 1
    _write_events(
        spark,
        src,
        [
            (1, _ns(10 * 60), "view", 1.0),
            (2, _ns(40 * 60), "view", 2.0),
            (1, _ns(H + 10 * 60), "view", 4.0),
        ],
    )
    stream = hourly_tumbling_stream(_events_stream(spark, src), watermark="2 hours")
    q, table = run_stream_to_memory(stream, output_mode="append")
    try:
        # batch 2: advance event time to hour 5 → watermark = 5h-2h = 3h,
        # hour-0 and hour-1 windows close and emit...
        _write_events(spark, src, [(3, _ns(5 * H), "view", 8.0)])
        q.processAllAvailable()
        # batch 3: a straggler back in hour 0 — behind the watermark → dropped
        _write_events(spark, src, [(9, _ns(20 * 60), "view", 100.0)])
        q.processAllAvailable()
        out = {
            (r.hour_start.hour, r.event_type): (r.n_events, r.total_value)
            for r in spark.table(table).collect()
        }
    finally:
        q.stop()
    assert out[(0, "view")] == (2, 3.0)  # straggler's 100.0 NOT included
    assert out[(1, "view")] == (1, 4.0)


# ---------------------------------------------------------------------------
def _expected_sessions():
    """user 1: events at 0,10,20min (one session), then 120min (second,
    still open at end); user 2: single event at 15min."""
    return {
        (1, 0): (3, 6.0, 20 * 60),
        (2, 15 * 60): (1, 5.0, 15 * 60),
    }


SESSION_ROWS_B1 = [
    (1, _ns(0), "view", 1.0),
    (1, _ns(10 * 60), "view", 2.0),
    (1, _ns(20 * 60), "view", 3.0),
    (2, _ns(15 * 60), "view", 5.0),
]
# far-future event advances the watermark past every batch-1 session
SESSION_ROWS_B2 = [(7, _ns(10 * H), "view", 0.5)]


@pytest.mark.parametrize("impl", ["native", "stateful"])
def test_streaming_sessions_close_on_watermark(spark, tmp_path, impl):
    src = os.path.join(tmp_path, f"sess_{impl}")
    _write_events(spark, src, SESSION_ROWS_B1)
    fn = sessionize_stream if impl == "native" else sessionize_stateful
    q, table = run_stream_to_memory(fn(_events_stream(spark, src), watermark="1 hour"))
    try:
        _write_events(spark, src, SESSION_ROWS_B2)
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start_us // 1_000_000 - BASE): (
                r.n_events,
                r.session_value,
                r.session_end_us // 1_000_000 - BASE,
            )
            for r in spark.table(table).collect()
            if r.user_id != 7
        }
    finally:
        q.stop()
    assert got == _expected_sessions()


# ---------------------------------------------------------------------------
def test_stateful_sessions_split_on_gap(spark, tmp_path):
    """Events 31 min apart land in two distinct sessions (gap > 30 min),
    and the custom operator merges state across micro-batches."""
    src = os.path.join(tmp_path, "gap")
    _write_events(spark, src, [(1, _ns(0), "view", 1.0)])
    q, table = run_stream_to_memory(
        sessionize_stateful(_events_stream(spark, src), watermark="30 minutes")
    )
    try:
        # same-session continuation in a later micro-batch (20 min < gap)
        _write_events(spark, src, [(1, _ns(20 * 60), "view", 1.0)])
        q.processAllAvailable()
        # 31 min after that → new session
        _write_events(spark, src, [(1, _ns(51 * 60 + 60), "view", 7.0)])
        q.processAllAvailable()
        # watermark pusher closes everything
        _write_events(spark, src, [(7, _ns(10 * H), "view", 0.0)])
        q.processAllAvailable()
        got = sorted(
            ((r.session_start_us - BASE * 1_000_000) // 60_000_000, r.n_events, r.session_value)
            for r in spark.table(table).collect()
            if r.user_id == 1
        )
    finally:
        q.stop()
    assert got == [(0, 2, 2.0), (52, 1, 7.0)]


# ---------------------------------------------------------------------------
def test_stream_decode_to_partitioned_sink(spark, tmp_path):
    """O18 integration: decoded envelopes land in a topic-partitioned
    parquet lake via foreachBatch + write_partitioned (the batch writer is
    reused inside the micro-batch — idiomatic streaming sink for formats
    without a native streaming writer)."""
    from byte_convert_avro_spark.sources import write_partitioned

    store = LocalSchemaStore()
    store.register(FULLNAME_SCHEMA, 1)
    eng = Engine(EngineConfig(avro_topics="a:true,b:true"), store=store)
    rows = [
        (
            None,
            encode_wire(1, schemaless_encode({"first": "f", "last": str(i)}, FULLNAME_SCHEMA)),
            "a" if i % 2 == 0 else "b",
            0,
            i,
            None,
            0,
        )
        for i in range(10)
    ]
    src = os.path.join(tmp_path, "src")
    sink = os.path.join(tmp_path, "lake")
    spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).write.parquet(src)

    def sink_batch(bdf, batch_id):
        write_partitioned(bdf, sink, ["topic"], mode="append")

    q = (
        decode_stream(eng, stream_records(spark, src))
        .writeStream.foreachBatch(sink_batch)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(d for d in os.listdir(sink) if d.startswith("topic=")) == [
        "topic=a",
        "topic=b",
    ]
    back = spark.read.parquet(sink)
    assert back.count() == 10
    assert back.filter(back.topic == "a").count() == 5


# ---------------------------------------------------------------------------
def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time interval
    condition (purchase matched to views within the preceding hour).
    Both sides buffer in watermark-bounded state — the streaming twin of
    the batch as-of/interval join family."""
    vsrc = os.path.join(tmp_path, "views")
    psrc = os.path.join(tmp_path, "purch")
    _write_events(spark, vsrc, [
        (1, _ns(10 * 60), "view", 1.0),
        (1, _ns(50 * 60), "view", 2.0),
        (2, _ns(10 * 60), "view", 3.0),
    ])
    _write_events(spark, psrc, [
        (1, _ns(60 * 60), "purchase", 9.0),   # views at 10min (50min gap) & 50min (10min gap) qualify
        (2, _ns(3 * H), "purchase", 8.0),     # view at 10min is > 1h before -> no match
    ])

    def ev(path, prefix):
        df = (
            spark.readStream.schema(EVENT_SCHEMA).parquet(path)
            .withColumn("ts_ts", F.timestamp_micros(F.expr("ts DIV 1000")))
            .withWatermark("ts_ts", "2 hours")
        )
        return df.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts_ts").alias(f"{prefix}_ts"),
            F.col("value").alias(f"{prefix}_value"),
        )

    views, purchases = ev(vsrc, "v"), ev(psrc, "p")
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    got = sorted(
        (r.p_user, int(r.v_value)) for r in drain_to_memory(joined).collect()
    )
    assert got == [(1, 1), (1, 2)]  # both views within the hour; user 2 none


# ---------------------------------------------------------------------------
def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same event_id arriving again in
    a later micro-batch (within the horizon) is dropped."""
    from byte_convert_avro_spark.streaming.dedup import dedup_stream

    DEDUP_SCHEMA = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def write(rows):
        spark.createDataFrame(rows, DEDUP_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    src = os.path.join(tmp_path, "dup")
    write([
        (100, 1, _ns(0), "view", 1.0),
        (101, 1, _ns(60), "view", 2.0),
        (100, 1, _ns(0), "view", 1.0),  # dup within same batch
    ])
    stream = dedup_stream(
        spark.readStream.schema(DEDUP_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src),
        key_cols="event_id",
        watermark="1 hour",
    )
    q, table = run_stream_to_memory(stream)
    try:
        # later micro-batch replays event 100 and adds a new one
        write([(100, 1, _ns(0), "view", 1.0), (102, 2, _ns(120), "view", 3.0)])
        q.processAllAvailable()
        got = sorted(r.event_id for r in spark.table(table).collect())
    finally:
        q.stop()
    assert got == [100, 101, 102]


# ---------------------------------------------------------------------------
def test_restart_with_checkpoint_no_duplicates(spark, tmp_path):
    """Exactly-once file sink: stop a checkpointed query mid-stream, add
    input, restart with the same checkpoint — every input row appears in
    the sink exactly once."""
    src = os.path.join(tmp_path, "in")
    sink = os.path.join(tmp_path, "out")
    ckpt = os.path.join(tmp_path, "ckpt")
    _write_events(spark, src, [(1, _ns(i * 60), "view", float(i)) for i in range(5)])

    def start():
        return (
            _events_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    _write_events(spark, src, [(2, _ns(1000 + i * 60), "view", float(i)) for i in range(3)])
    q = start()
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(sink)
    assert out.count() == 8
    assert out.select("event_type").distinct().count() == 1
    # re-reading the same checkpoint with no new data adds nothing
    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).count() == 8


# ---------------------------------------------------------------------------
def test_watermarked_agg_checkpoint_recovery_equals_uninterrupted(spark, tmp_path):
    """Checkpoint recovery of a WATERMARKED WINDOWED AGGREGATION (round-7
    verdict #5 — the failure mode every production streaming job hits):
    kill an append-mode hourly aggregation after the first shards, restart
    from its checkpoint, feed the remaining shards, and the union of
    emitted rows must equal (a) the uninterrupted run over the same shards
    and (b) the batch aggregate — which is only possible if the restarted
    query recovered BOTH its window state and its watermark from the
    checkpoint instead of restarting from zero (a zero restart would
    re-open closed windows with partial counts, or drop the pre-restart
    events entirely)."""
    shards = []  # 4 shards, one file = one micro-batch each
    for h in range(4):
        shards.append(
            [(10 + u, _ns(h * H + u * 60), "view", float(h * 10 + u)) for u in range(5)]
        )
    # flush shard: far-future event moves the watermark past every hour
    # window so append mode emits them all; its own window never closes
    flush = [(99, _ns(100 * H), "flush", 0.0)]

    def run(tag: str, interrupt_after: int | None):
        src = os.path.join(tmp_path, tag, "in")
        ckpt = os.path.join(tmp_path, tag, "ckpt")
        emitted: list = []

        def start():
            agg = hourly_tumbling_stream(_events_stream(spark, src), watermark="30 minutes")
            return (
                agg.writeStream.foreachBatch(
                    lambda df, _eid: emitted.extend(df.collect())
                )
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        if interrupt_after is None:  # single uninterrupted query
            for s in shards:
                _write_events(spark, src, s)
            _write_events(spark, src, flush)
            q = start()
            q.processAllAvailable()
            q.stop()
        else:  # kill after the first shards, recover from the checkpoint
            for s in shards[:interrupt_after]:
                _write_events(spark, src, s)
            q = start()
            q.processAllAvailable()
            q.stop()
            for s in shards[interrupt_after:]:
                _write_events(spark, src, s)
            _write_events(spark, src, flush)
            q = start()  # SAME checkpoint: state + watermark must recover
            q.processAllAvailable()
            q.stop()
        # append mode emits each closed window at most once per clean run;
        # a replayed foreachBatch may duplicate rows, never contradict them
        rows = {(r.hour_start, r.event_type, r.n_events, r.total_value) for r in emitted}
        assert len({(h, e) for h, e, *_ in rows}) == len(rows), "conflicting re-emit"
        return rows

    uninterrupted = run("base", None)
    recovered = run("killed", interrupt_after=3)
    assert recovered == uninterrupted

    # batch oracle over the same rows: every hour window, exact values
    allrows = [r for s in shards for r in s]
    batch = spark.createDataFrame(allrows, EVENT_SCHEMA)
    want = {
        (r.hour_start, r.event_type, r.n_events, r.total_value)
        for r in hourly_tumbling_stream(batch, watermark="30 minutes").collect()
    }
    got = {(h, e, n, v) for h, e, n, v in recovered}
    assert got == want and len(want) == 4


# ---------------------------------------------------------------------------
def test_stream_failfast_aborts_query(spark, tmp_path):
    """O19 in streaming: FAILFAST mode turns a malformed payload into a
    StreamingQueryException (the job aborts, nothing silently drops);
    PERMISSIVE on the same input keeps the stream alive with _error set."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    store = LocalSchemaStore()
    store.register(FULLNAME_SCHEMA, 1)
    rows = [
        (None, encode_wire(1, schemaless_encode({"first": "a", "last": "b"}, FULLNAME_SCHEMA)), "t", 0, 0, None, 0),
        (None, b"\x00\x00", "t", 0, 1, None, 0),  # too short -> invalid
    ]
    src = os.path.join(tmp_path, "ff")
    spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).write.parquet(src)

    eng_ff = Engine(EngineConfig(avro_topics="t:true", mode="FAILFAST"), store=store)
    q = (
        decode_stream(eng_ff, stream_records(spark, src))
        .writeStream.format("memory")
        .queryName("ff_out")
        .start()
    )
    try:
        with pytest.raises(StreamingQueryException):
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
    finally:
        q.stop()

    eng_ok = Engine(EngineConfig(avro_topics="t:true"), store=store)
    decoded = drain_to_memory(decode_stream(eng_ok, stream_records(spark, src)))
    out = {r.offset: r._error for r in decoded.collect()}
    assert out[0] is None and out[1] is not None


# ---------------------------------------------------------------------------
def test_stateful_sessions_value_cap(spark, tmp_path):
    """Value-capped sessions (semantics session_window can't express):
    events of 1.0 every minute with cap=2.5 close a session at every
    third event, even with no time gap."""
    from byte_convert_avro_spark.streaming import sessionize_stateful

    src = os.path.join(tmp_path, "cap")
    _write_events(spark, src, [(1, _ns(i * 60), "view", 1.0) for i in range(7)])
    q, table = run_stream_to_memory(
        sessionize_stateful(
            _events_stream(spark, src), watermark="1 hour", value_cap=2.5
        )
    )
    try:
        # watermark pusher flushes the trailing open session
        _write_events(spark, src, [(9, _ns(10 * H), "view", 0.0)])
        q.processAllAvailable()
        got = sorted(
            (r.n_events, r.session_value)
            for r in spark.table(table).collect()
            if r.user_id == 1
        )
    finally:
        q.stop()
    # 7 events: [1,2,3]=3.0 capped, [4,5,6]=3.0 capped, [7]=1.0 flushed
    assert got == [(1, 1.0), (3, 3.0), (3, 3.0)]


# ---------------------------------------------------------------------------
def test_rocksdb_state_store_matches_default(spark, tmp_path):
    """The watermarked tumbling agg produces identical results under the
    RocksDB state store provider (the large-state posture on a real
    cluster: off-heap keys, incremental checkpoints) as under the default
    in-memory provider — same plan, different state backend."""
    from byte_convert_avro_spark.streaming import use_rocksdb_state
    from byte_convert_avro_spark.streaming.pipeline import ROCKSDB_PROVIDER

    rows_b1 = [
        (1, _ns(10 * 60), "view", 1.0),
        (2, _ns(40 * 60), "view", 2.0),
        (1, _ns(H + 10 * 60), "click", 4.0),
    ]
    rows_b2 = [(3, _ns(5 * H), "view", 8.0)]  # advances watermark, closes windows

    results = {}
    for backend in ("default", "rocksdb"):
        src = os.path.join(tmp_path, f"ev_{backend}")
        _write_events(spark, src, rows_b1)
        use_rocksdb_state(spark, enable=(backend == "rocksdb"))
        try:
            if backend == "rocksdb":
                assert (
                    spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                    == ROCKSDB_PROVIDER
                )
            stream = hourly_tumbling_stream(_events_stream(spark, src), watermark="2 hours")
            q, table = run_stream_to_memory(stream, output_mode="append")
            try:
                _write_events(spark, src, rows_b2)
                q.processAllAvailable()
                results[backend] = {
                    (r.hour_start.hour, r.event_type): (r.n_events, r.total_value)
                    for r in spark.table(table).collect()
                }
            finally:
                q.stop()
        finally:
            use_rocksdb_state(spark, enable=False)

    assert results["rocksdb"] == results["default"]
    assert results["rocksdb"][(0, "view")] == (2, 3.0)
    assert results["rocksdb"][(1, "click")] == (1, 4.0)


def test_late_data_query_excludes_named_late_rows(spark, sf_dir):
    """streaming_late_data_watermark end-to-end on the driver corpus: the
    append-mode result holds EXACTLY hour slots 27..34 at full per-slot
    counts — i.e. named rows in slots <= 26 (late past the 12h watermark
    when their shard arrived) were dropped by the engine, late-but-inside
    slots 27..31 all survived, and open windows 35..47 never emitted."""
    from byte_convert_avro_spark.queries.base import hash_bucket, t
    from byte_convert_avro_spark.queries.streaming_queries import (
        streaming_late_data_watermark,
    )

    out = {r.hour_slot: r.n_events for r in streaming_late_data_watermark(spark, sf_dir).collect()}
    assert set(out) == set(range(27, 35)), sorted(out)

    slots = (
        t(spark, sf_dir, "events")
        .select(hash_bucket("event_id", 48).cast("int").alias("slot"), "event_id")
    )
    per_slot = {r.slot: r.n for r in slots.groupBy("slot").agg(F.count("*").alias("n")).collect()}
    # late-but-inside-watermark slots arrive in the out-of-order shards and
    # must survive at FULL count; a specific late row provably exists and
    # is excluded wholesale with its slot
    for s in range(27, 35):
        assert out[s] == per_slot[s], (s, out[s], per_slot[s])
    late_row = slots.filter(F.col("slot") == 5).agg(F.min("event_id")).first()[0]
    assert late_row is not None  # the named late event exists in the corpus
    assert 5 not in out  # ...and its window was dropped by the watermark


def test_stateful_accumulator_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState state persists across a checkpointed
    RESTART: accumulate two shards, stop, add two more, restart with the
    same checkpoint — the final cumulative row per user must equal the
    one-shot batch aggregate over all four shards (only possible if the
    restarted query resumed from persisted state instead of starting
    from zero)."""
    from byte_convert_avro_spark.streaming import running_user_totals

    src = os.path.join(tmp_path, "in")
    ckpt = os.path.join(tmp_path, "ckpt")
    # user 1 spans BOTH runs (their final row requires state persisted
    # across the restart); user 2 exists only after the restart
    batch1 = [(1, _ns(i * 60), "view", float(i + 1)) for i in range(4)]
    batch2 = [(1, _ns(1000 + i * 60), "view", 10.0 + i) for i in range(3)]
    batch2 += [(2, _ns(2000), "view", 5.0)]
    _write_events(spark, src, batch1)

    emitted: list = []  # survives the restart (memory sink can't recover
    # from a checkpoint; foreachBatch can)

    def start():
        totals = running_user_totals(_events_stream(spark, src))
        return (
            totals.writeStream.foreachBatch(
                lambda df, _eid: emitted.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    _write_events(spark, src, batch2)
    q = start()
    q.processAllAvailable()
    q.stop()

    final = {}
    for r in emitted:
        cur = final.get(r.user_id)
        cand = (r.n_events, r.total_cents)
        final[r.user_id] = max(cur, cand) if cur else cand
    expect = {}
    for u, _, _, v in batch1 + batch2:
        n, c = expect.get(u, (0, 0))
        expect[u] = (n + 1, c + round(v * 100))
    assert final == expect  # user 1's totals span the restart boundary


def test_foreachbatch_ocf_sink_replay_is_idempotent(spark, tmp_path):
    """The exactly-once discipline of the foreachBatch OCF sink
    (streaming_ocf_sink_daily_totals): batches write into batch={id}
    directories and the read side compacts latest-wins by batch_id, so
    REPLAYING a batch after a simulated failure — same content, possibly
    different partitioning, Structured Streaming's replay contract —
    leaves the compacted result identical."""
    import os

    from pyspark.sql import functions as F

    from byte_convert_avro_spark.sources.avro_ocf import (
        read_avro_ocf,
        write_avro_ocf,
    )

    out = str(tmp_path / "sink")

    def sink_batch(batch_df, batch_id: int) -> None:
        write_avro_ocf(
            batch_df.withColumn("batch_id", F.lit(int(batch_id))),
            os.path.join(out, f"batch={batch_id:06d}"),
        )

    b0 = spark.createDataFrame([("a", 1, 10), ("b", 1, 5)], "k string, n long, v long")
    b1 = spark.createDataFrame([("a", 2, 17)], "k string, n long, v long")

    def compacted():
        allb = read_avro_ocf(spark, out + "/*/*.avro")
        return {
            r.k: (r.n, r.v)
            for r in allb.groupBy("k")
            .agg(F.max(F.struct("batch_id", "n", "v")).alias("_l"))
            .select("k", F.col("_l.n").alias("n"), F.col("_l.v").alias("v"))
            .collect()
        }

    sink_batch(b0, 0)
    sink_batch(b1, 1)
    want = compacted()
    assert want == {"a": (2, 17), "b": (1, 5)}
    # replay batch 1: same rows, different partitioning (the replay may
    # run on a different cluster layout)
    sink_batch(b1.repartition(4), 1)
    assert compacted() == want


# ---------------------------------------------------------------------------
SIDE_SCHEMA = "id long, user long, ts long"  # ts = epoch seconds


def _write_side(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(rows, SIDE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_full_outer_join_checkpoint_recovery_equals_uninterrupted(spark, tmp_path):
    """Checkpoint recovery of the FULL OUTER STREAM-STREAM JOIN (round-8
    verdict #4 — the most fragile state a restart can corrupt: BOTH
    sides' buffered rows and eviction clocks).  Kill the query after the
    first shards, restart from the checkpoint, feed the rest: the
    drained rows must equal the uninterrupted run AND the batch FULL
    JOIN.  The decisive pair is a pre-kill view matched by a
    post-restart purchase — impossible unless the restarted query
    recovered the view from join state; the outer rows prove both
    eviction clocks also resumed (a watermark restart from zero would
    never evict, a watermark jump would mis-drop)."""
    M = 60
    views1 = [(101, 1, BASE), (102, 2, BASE + 5 * M), (103, 3, BASE),
              (105, 5, BASE)]
    purch1 = [(201, 1, BASE + 10 * M)]
    # post-restart: p2 matches pre-kill v2 (state recovery), p4 has no
    # view (right outer), p5 is 40min after v5 (outside the 30min window
    # -> BOTH emit as outer rows)
    purch2 = [(202, 2, BASE + 20 * M), (204, 4, BASE + 15 * M),
              (205, 5, BASE + 40 * M)]
    v_sent = [[(-1 - i, -1, BASE + (100 + i) * 86_400)] for i in range(3)]
    p_sent = [[(-11 - i, -1, BASE + (150 + i) * 86_400)] for i in range(3)]

    def side(path, pfx):
        return (
            spark.readStream.schema(SIDE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .select(
                F.col("id").alias(f"{pfx}_id"),
                F.col("user").alias(f"{pfx}_user"),
                F.timestamp_seconds("ts").alias(f"{pfx}_time"),
            )
            .withWatermark(f"{pfx}_time", "1 minute")
        )

    def join_plan(views, purch):
        return views.join(
            purch,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_time") >= F.col("v_time"))
            & (F.col("p_time") <= F.col("v_time") + F.expr("INTERVAL 30 MINUTES")),
            "fullOuter",
        ).select("v_id", "v_user", "p_id", "p_user")

    def run(tag: str, interrupt: bool):
        vsrc = os.path.join(tmp_path, tag, "views")
        psrc = os.path.join(tmp_path, tag, "purch")
        ckpt = os.path.join(tmp_path, tag, "ckpt")
        emitted: list = []

        def start():
            j = join_plan(side(vsrc, "v"), side(psrc, "p"))
            return (
                j.writeStream.foreachBatch(
                    lambda df, _eid: emitted.extend(df.collect())
                )
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        def feed_rest():
            _write_side(spark, psrc, purch2)
            for s in v_sent:
                _write_side(spark, vsrc, s)
            for s in p_sent:
                _write_side(spark, psrc, s)

        _write_side(spark, vsrc, views1)
        _write_side(spark, psrc, purch1)
        if interrupt:
            q = start()
            q.processAllAvailable()
            q.stop()
            feed_rest()
            q = start()  # SAME checkpoint: join state + watermark recover
        else:
            feed_rest()
            q = start()
        q.processAllAvailable()
        q.stop()
        return {
            (r.v_id, r.v_user, r.p_id, r.p_user)
            for r in emitted
            if (r.v_user is None or r.v_user >= 0)
            and (r.p_user is None or r.p_user >= 0)
        }

    uninterrupted = run("base", False)
    recovered = run("killed", True)
    assert recovered == uninterrupted

    # batch FULL JOIN oracle over the same (non-sentinel) rows
    vb = spark.createDataFrame(views1, SIDE_SCHEMA).select(
        F.col("id").alias("v_id"), F.col("user").alias("v_user"),
        F.timestamp_seconds("ts").alias("v_time"))
    pb = spark.createDataFrame(purch1 + purch2, SIDE_SCHEMA).select(
        F.col("id").alias("p_id"), F.col("user").alias("p_user"),
        F.timestamp_seconds("ts").alias("p_time"))
    want = {
        (r.v_id, r.v_user, r.p_id, r.p_user)
        for r in vb.join(
            pb,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_time") >= F.col("v_time"))
            & (F.col("p_time") <= F.col("v_time") + F.expr("INTERVAL 30 MINUTES")),
            "fullOuter",
        ).select("v_id", "v_user", "p_id", "p_user").collect()
    }
    assert recovered == want
    # the spanning match really exists, and both outer shapes emitted
    assert (102, 2, 202, 2) in recovered
    assert (103, 3, None, None) in recovered and (105, 5, None, None) in recovered
    assert (None, None, 204, 4) in recovered and (None, None, 205, 5) in recovered


# ---------------------------------------------------------------------------
def test_chained_agg_checkpoint_recovery_equals_uninterrupted(spark, tmp_path):
    """Checkpoint recovery of CHAINED STREAMING AGGREGATIONS (two
    stateful operators: 15-min windows re-aggregated to hours).  Kill
    after 5 quarter-shards (mid second hour), restart from checkpoint,
    feed the rest + flush: drained hourly rows must equal the
    uninterrupted run and the batch rollup — which requires BOTH
    levels' window state to recover (a zero restart would emit a
    partial second hour with n_quarters_active < 4)."""
    shards = []
    for qtr in range(8):  # 2 full hours, 3 events per quarter
        shards.append(
            [(10 + j, _ns(qtr * 900 + j * 60), "view", 1.0) for j in range(3)]
        )
    flush = [(99, _ns(4000 * H), "flush", 0.0)]

    def plan(src):
        s = _events_stream(spark, src).withColumn(
            "ts_ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        ).withWatermark("ts_ts", "10 minutes")
        lvl1 = s.groupBy(
            F.window("ts_ts", "15 minutes").alias("w"), "event_type"
        ).agg(F.count("*").alias("n_q"))
        return (
            lvl1.groupBy(
                F.window(F.window_time("w"), "1 hour").alias("h"), "event_type"
            )
            .agg(
                F.sum("n_q").alias("n_events"),
                F.count("*").alias("n_quarters_active"),
            )
            .select(
                F.col("h.start").cast("long").alias("hour_start"),
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("n_quarters_active").cast("long").alias("n_quarters_active"),
            )
        )

    def run(tag: str, interrupt_after: int | None):
        src = os.path.join(tmp_path, tag, "in")
        ckpt = os.path.join(tmp_path, tag, "ckpt")
        emitted: list = []

        def start():
            return (
                plan(src).writeStream.foreachBatch(
                    lambda df, _eid: emitted.extend(df.collect())
                )
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        if interrupt_after is None:
            for s in shards:
                _write_events(spark, src, s)
            _write_events(spark, src, flush)
            q = start()
        else:
            for s in shards[:interrupt_after]:
                _write_events(spark, src, s)
            q = start()
            q.processAllAvailable()
            q.stop()
            for s in shards[interrupt_after:]:
                _write_events(spark, src, s)
            _write_events(spark, src, flush)
            q = start()
        q.processAllAvailable()
        q.stop()
        return {
            (r.hour_start, r.event_type, r.n_events, r.n_quarters_active)
            for r in emitted
            if r.event_type != "flush"
        }

    uninterrupted = run("base", None)
    recovered = run("killed", interrupt_after=5)
    assert recovered == uninterrupted
    # batch oracle: each hour has 12 events across 4 active quarters
    want = {
        (BASE + h * 3600, "view", 12, 4) for h in range(2)
    }
    assert recovered == want


def test_streaming_rank_sketch_matches_batch_any_sharding(spark, tmp_path):
    """The streaming sketch's final state must equal the batch
    rank_sketch_grouped sketch EXACTLY for any micro-batch slicing —
    the mergeability property driven through the real state store.  Two
    different shardings (round-robin by id, and a skewed 90/10 split)
    both converge to the batch answer."""
    import pandas as pd

    from byte_convert_avro_spark.operators.sketch import rank_sketch_grouped
    from byte_convert_avro_spark.queries.streaming_queries import replay_shards
    from byte_convert_avro_spark.streaming import streaming_rank_sketch
    from byte_convert_avro_spark.streaming.rank_sketch import SKETCH_K

    rows = [
        (i, 1_000_000 + i * 7, ["view", "click", "purchase"][i % 3],
         float((i * 131) % 997))
        for i in range(3000)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, event_type string, value double"
    )
    batch = {
        r.event_type: (r.k_used, tuple(r.smp))
        for r in rank_sketch_grouped(
            df, ["event_type"], "value", "event_id", k=SKETCH_K, chunks=4
        ).collect()
    }
    for label, shards in (
        ("round-robin", [df.filter(F.col("event_id") % 3 == i) for i in range(3)]),
        ("skewed", [df.filter(F.col("event_id") < 2700),
                    df.filter(F.col("event_id") >= 2700)]),
    ):
        with replay_shards(spark, shards, df.schema, f"rs_{label}_") as stream:
            emitted = drain_to_memory(streaming_rank_sketch(stream), "update")
            final = (
                emitted.groupBy("event_type")
                .agg(F.max(F.struct("n_seen", "k_used", "smp")).alias("f"))
                .select("event_type", "f.k_used", "f.smp")
            )
            got = {
                r.event_type: (r.k_used, tuple(r.smp))
                for r in final.collect()
            }
            assert got == batch, f"{label}: streaming != batch"


def test_events_stream_reads_spark_written_directory_layout(spark, tmp_path):
    """r13 sf1 audit pin: the file-stream source must read BOTH on-disk
    layouts of the events table — the driver's single literal file
    `sf/events.parquet`, and the Spark-written DIRECTORY of part files
    every real lake produces.  The pre-fix glob spelling
    (pathGlobFilter matches leaf names only) listed ZERO files on the
    directory layout, so every streaming gate computed over an empty
    stream — caught only because the oracle sat next to it at sf1."""
    from byte_convert_avro_spark.queries.base import t
    from byte_convert_avro_spark.queries.streaming_queries import _events_stream

    src = t(spark, "/root/testdata/sf0.001", "events")
    sf_dir = str(tmp_path / "sfdir")
    # directory layout: events.parquet/ with multiple part files
    src.repartition(3).write.parquet(f"{sf_dir}/events.parquet")

    stream = _events_stream(spark, sf_dir)
    got = drain_to_memory(stream.groupBy().count(), "complete").collect()[0][0]
    assert got == src.count()
