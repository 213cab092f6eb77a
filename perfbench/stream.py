"""stream_replicate: an open-loop file stream through decode and keyed
dedup into a ``noop`` sink.

One generator thread publishes fixed-size parquet files into the watched
directory by atomic rename, on a fixed schedule that does not wait for the
stream. With ``maxFilesPerTrigger=1`` the k-th data batch of a query
commits the k-th file, so a file's latency is the end of that batch minus
the time the file was due.
"""

from __future__ import annotations

import os
import random
import threading
import time
from datetime import datetime

import common
import inputs
import layers
from oracle import Expect

#: a batch's fixed costs (about 0.8 s of task hand-offs and small state
#: files) swing up to 2x with the load on a shared host, where CPU-bound
#: work swings less; 8000 records make the per-record work (decode,
#: envelope, shuffle) about 40% of the batch
RECORDS_PER_FILE = 8000
#: a batch takes ~1.3 s on a quiet 4-core host and up to ~2.7 s on a loaded
#: one; the interval leaves room for that, so a slowdown shows as slower
#: batches, not as files waiting behind each other
INTERVAL_S = 3.0
REDELIVERED = 0.01
WARMUP_FILES = 2
SETUPS = 3
DRAIN_TIMEOUT_S = 60


class Feed:
    """The seeded record stream: file k holds RECORDS_PER_FILE records of
    the decode_wide schema, ~1% of them redeliveries of earlier offsets.
    Only a redelivery repeats a payload."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed + 3)
        self.pool = inputs.wide_pool(seed)
        self.next_offset = 0
        self.seen: list[tuple[int, Expect]] = []

    def file(self) -> tuple[inputs.Rows, int]:
        """-> (rows, number of (topic, partition, offset) keys new in it)."""
        rows, keys, first_new = inputs.Rows(), set(), self.next_offset
        for _ in range(RECORDS_PER_FILE):
            if self.seen and self.rng.random() < REDELIVERED:
                offset, value = self.seen[self.rng.randrange(len(self.seen))]
            else:
                offset = self.next_offset
                value = inputs.wide_value(self.pool[self.rng.randrange(inputs.POOL)], offset)
                self.next_offset += 1
                self.seen.append((offset, value))
            rows.add(inputs.WIDE_TOPIC, 0, offset, Expect("same", None), value)
            keys.add(offset)
        return rows, sum(o >= first_new for o in keys)


def _publish(rows: inputs.Rows, src: str, stage: str, k: int) -> None:
    import pyarrow.parquet as pq

    name = f"f{k:06d}.parquet"
    pq.write_table(rows.table(), os.path.join(stage, name))
    os.rename(os.path.join(stage, name), os.path.join(src, name))


def _batch_end(progress: dict) -> float:
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + progress["durationMs"]["triggerExecution"] / 1e3


def _data_batches(query) -> list[dict]:
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def _data_after(query, batch_id: int) -> dict:
    """Wait until a data batch after ``batch_id`` has committed. It polls
    ``lastProgress``, one entry, because rebuilding all of
    ``recentProgress`` every poll costs the stream CPU."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        p = query.lastProgress
        if p is not None and p["batchId"] > batch_id and p["numInputRows"] > 0:
            return p
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"no data batch after batch {batch_id}")
        time.sleep(0.02)


def _data_plan(query, batch_id: int) -> str | None:
    """The executed plan of data batch ``batch_id`` if it is still the
    query's last execution."""
    ex = query._jsq.streamingQuery().lastExecution()
    if ex is None or ex.currentBatchId() != batch_id:
        return None
    return ex.executedPlan().toString()


def _output_rows(progress: dict) -> int:
    return progress["stateOperators"][0]["numRowsUpdated"]


def run(seed: int, seconds: float, tracer, workdir: str) -> dict:
    from pyspark.sql import functions as F

    from byte_convert_avro_spark import Engine, EngineConfig
    from byte_convert_avro_spark.schema_store import LocalSchemaStore
    from byte_convert_avro_spark.streaming import decode_stream, dedup_stream, stream_records

    spark = query = plan = None
    setups = []
    try:
        for s in range(SETUPS):
            t0 = time.perf_counter()
            with tracer.span("setup"):
                if query is not None:
                    query.stop()
                with tracer.span("session"):
                    spark = common.session()
                    # the watermark advances with every file, and by default
                    # each data batch is followed by a no-data batch that
                    # evicts nothing (the horizon is an hour, the stream's
                    # event time spans seconds) but takes half as long
                    # again; a file due during it would wait
                    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
                with tracer.span("generate"):
                    feed = Feed(seed)
                    src, stage = f"{workdir}/src{s}", f"{workdir}/stage{s}"
                    os.makedirs(src)
                    os.makedirs(stage)
                with tracer.span("construct"):
                    t_c = time.perf_counter()
                    engine = Engine(EngineConfig(avro_topics={inputs.WIDE_TOPIC: False}),
                                    store=LocalSchemaStore(inputs.wide_schemas()))
                    decoded = decode_stream(engine, stream_records(spark, src, max_files_per_trigger=1))
                    decoded = decoded.withColumn("ts", F.unix_micros("timestamp") * 1000)
                    out = dedup_stream(decoded, ["topic", "partition", "offset"], watermark="1 hour")
                    construct_s = time.perf_counter() - t_c
                with tracer.span("warmup"):
                    query = out.writeStream.format("noop") \
                        .option("checkpointLocation", f"{workdir}/chk{s}").start()
                    expected, last = [], -1
                    for k in range(WARMUP_FILES):
                        rows, new = feed.file()
                        _publish(rows, src, stage, k)
                        expected.append(new)
                        last = _data_after(query, last)["batchId"]
                        plan = _data_plan(query, last) or plan
            setups.append(time.perf_counter() - t0)
        if plan is None:
            raise AssertionError("no data micro-batch plan was seen during the warm-up")
        common.check_plan(plan)

        # -- open-loop publishing ----------------------------------------------
        files = max(1, int(seconds / INTERVAL_S))
        prepared = []
        for _ in range(files):
            prepared.append(feed.file())
        due, published = [], []

        def generator(t0: float) -> None:
            for k, (rows, _new) in enumerate(prepared):
                at = t0 + k * INTERVAL_S
                time.sleep(max(0.0, at - time.time()))
                _publish(rows, src, stage, WARMUP_FILES + k)
                due.append(at)
                published.append(time.time())

        t0 = time.time() + 0.05
        gen = threading.Thread(target=generator, args=(t0,))
        with tracer.span("timed"):
            gen.start()
            gen.join()
            query.processAllAvailable()
        query.stop()
        batches = _data_batches(query)
        timed = batches[WARMUP_FILES:]
        expected += [new for _rows, new in prepared]

        latencies = [(_batch_end(p) - d) * 1e3 for p, d in zip(timed, due)]
        batch_s = common.median([p["durationMs"]["triggerExecution"] for p in timed]) / 1e3
        wrong = [i for i, (p, e) in enumerate(zip(batches, expected))
                 if _output_rows(p) != e or p["numInputRows"] != RECORDS_PER_FILE]
        wrong += list(range(len(batches), len(expected)))
        lag = [(p - d) * 1e3 for p, d in zip(published, due)]
        try:
            tail_ms, tail_pct = common.tail(latencies)
        except ValueError:
            tail_ms, tail_pct = max(latencies), 100.0
        result = {
            "e2e": {
                "setup_s": common.median(setups),
                "throughput_per_s": RECORDS_PER_FILE / batch_s,
                "latency_ms": common.median(latencies),
            },
            "attempted": len(expected),
            "failed": len(wrong),
            "timed_span": "timed",
            "units": len(timed),
            "report": {
                "stream_latency_p50_ms": common.median(latencies),
                "stream_latency_tail_ms": tail_ms,
                "stream_latency_tail_percentile": tail_pct,
                "latency_samples": len(latencies),
                "latency_ms": [round(x, 1) for x in latencies],
                "rate_rec_s": RECORDS_PER_FILE / INTERVAL_S,
                "setups_s": [round(x, 3) for x in setups],
                "files": files,
                "records_per_file": RECORDS_PER_FILE,
                "distinct_keys": sum(expected),
                "generator_lag_ms_max": max(lag),
            },
        }
        def probe() -> None:
            def med(key):
                return common.median([p["durationMs"].get(key, 0) for p in timed])

            state = [p["stateOperators"][0] for p in timed]
            result["extra_layers"] = {
                "streaming.batch_ms": med("triggerExecution"),
                "streaming.add_batch_ms": med("addBatch"),
                "streaming.query_planning_ms": med("queryPlanning"),
                "streaming.get_batch_ms": med("getBatch"),
                "streaming.latest_offset_ms": med("latestOffset"),
                "streaming.wal_commit_ms": med("walCommit"),
                "streaming.state_rows": state[-1]["numRowsTotal"],
                "streaming.state_memory_bytes": state[-1]["memoryUsedBytes"],
                "streaming.state_commit_ms": common.median([s["commitTimeMs"] for s in state]),
                "streaming.generator_lag_ms": common.median(lag),
            }
            rows = inputs.Rows()
            for r, _new in prepared:
                for i in range(len(r)):
                    rows.add(r.topic[i], r.partition[i], r.offset[i], r.key_exp[i], r.value_exp[i])
            # the stream's own records, through a batch decode
            texts, topics = inputs.wide_schemas(), {inputs.WIDE_TOPIC: False}
            lay = layers.workload_probes(seed, rows, texts, topics)
            df, decode_rate = layers.probe_decode_frame(spark, rows, texts, topics, workdir)
            lay["wire.gate_rec_s"] = layers.wire_gate_rate(df, len(rows))
            lay["decoder.parallel_efficiency"] = decode_rate / (common.cpus() * lay["decoder.udf_body_rec_s"])
            lay["queries.construct_s"] = construct_s
            lay["queries.materialize_s"] = batch_s
            result["layers"] = lay
            result["report"]["parallel_efficiency_base"] = (
                f"batch decode probe {decode_rate:.0f} rec/s / ({common.cpus()} cpus x udf_body_rec_s)")

        result["probe"] = probe
        return result
    finally:
        if query is not None and query.isActive:
            query.stop()
