"""Per-layer probes for the traced run. Each times calls into one layer's
public functions from outside the package, single-threaded unless it says
otherwise."""

from __future__ import annotations

import random
import time

import pandas as pd
import pyarrow.parquet as pq

import avrogen
import common
import inputs
from oracle import CAUSES
from registry_stub import RegistryStub

ROUNDS = 3
#: payloads per round of a single-thread probe: enough for a steady rate,
#: cheap enough that the traced run stays close to the untraced one in length
PROBE_ITEMS = 5000


def _rate(fn, items) -> float:
    """Median items/s of ``fn`` over ROUNDS disjoint slices of ``items``
    after a warm-up on the first 50, so no payload is timed twice."""
    for x in items[:50]:
        fn(x)
    rest = items[50:]
    step = max(1, len(rest) // ROUNDS)
    rates = []
    for r in range(ROUNDS):
        chunk = rest[r * step:(r + 1) * step] or rest
        t0 = time.perf_counter()
        for x in chunk:
            fn(x)
        rates.append(len(chunk) / (time.perf_counter() - t0))
    return common.median(rates)


def _swallow(fn):
    def call(x):
        try:
            fn(x)
        except Exception:  # noqa: BLE001 — the decoder quarantines bad payloads the same way
            pass
    return call


def schema_store_probe(texts: dict[int, str], ids: list[int]) -> dict[str, float]:
    """Cold compile of each id (fresh ``CachedParser`` over a local store)
    and cold fetch of each id (fresh ``HttpSchemaRegistry`` against a
    loopback stub), as median milliseconds."""
    from byte_convert_avro_spark.schema_store import CachedParser, HttpSchemaRegistry, LocalSchemaStore

    local = LocalSchemaStore(texts)
    reps = max(1, 30 // len(ids))
    compile_ms, fetch_ms = [], []
    with RegistryStub(texts) as stub:
        for sid in ids * reps:
            t0 = time.perf_counter()
            CachedParser(local).get(sid)
            compile_ms.append((time.perf_counter() - t0) * 1e3)
            client = HttpSchemaRegistry(stub.url)
            t0 = time.perf_counter()
            client.get_schema_text(sid)
            fetch_ms.append((time.perf_counter() - t0) * 1e3)
    return {"schema_store.compile_ms": common.median(compile_ms),
            "schema_store.fetch_ms": common.median(fetch_ms)}


def fused_probe(seed: int) -> dict[str, float]:
    """The fused decoder alone on distinct decode_wide payloads."""
    from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore

    pool = inputs.wide_pool(seed)
    wide = [inputs.wide_value(pool[i % inputs.POOL], i).raw for i in range(50 + ROUNDS * PROBE_ITEMS)]
    fused = CachedParser(LocalSchemaStore(inputs.wide_schemas())).get(inputs.WIDE_ID)[5]
    return {"avro.fused_rec_s": _rate(lambda p: fused(memoryview(p), 5), wide)}


def general_probe(seed: int, mix: inputs.Mix) -> dict[str, float]:
    """The compiled reader and the JSON writer on fresh payloads of the
    registry mix's general-path (non-record) schemas."""
    from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore

    rng = random.Random(seed + 4)
    ids = [sid for sid, s in mix.schemas.items() if not s.is_record]
    parser = CachedParser(LocalSchemaStore(mix.text))
    readers = {sid: parser.get(sid) for sid in ids}
    general = []
    for i in range(50 + ROUNDS * PROBE_ITEMS):
        s = mix.schemas[ids[i % len(ids)]]
        general.append((s.schema_id, avrogen.wire(s.schema_id, avrogen.encode(s.schema, s.make(rng), s.names))))
    decoded = [(readers[sid][1](memoryview(raw), 5)[0], readers[sid][4]) for sid, raw in general]
    return {
        "avro.reader_rec_s": _rate(lambda e: readers[e[0]][1](memoryview(e[1]), 5), general),
        "avro.json_writer_rec_s": _rate(lambda vw: vw[1](vw[0]), decoded),
    }


def decoder_probe(rows: inputs.Rows, texts: dict[int, str], topics: dict[str, bool]) -> dict[str, float]:
    """``_decode_one`` over the workload's payloads and the UDF body on
    pandas batches, both in this process, and the output bytes per record
    of the UDF body. Schemas come from a local store so the registry's cost
    stays in the schema_store layer."""
    from byte_convert_avro_spark.decoder import _decode_one, make_decode_udf
    from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore

    store = LocalSchemaStore(texts)
    parser = CachedParser(store)
    work = []
    for t, k, v in zip(rows.topic, rows.key, rows.value):
        if t in topics:
            if topics[t] and k is not None:
                work.append((k, True))
            if v is not None:
                work.append((v, False))
    one = _rate(_swallow(lambda kv: _decode_one(kv[0], parser, kv[1])),
                work[::max(1, len(work) // (ROUNDS * PROBE_ITEMS))])

    body = make_decode_udf(store, topics).func
    frame = pd.DataFrame({"topic": rows.topic, "key": rows.key, "value": rows.value})
    # warm up on rows the timed batches do not hold
    warm, frame = frame.iloc[:200], frame.iloc[200:]
    frame = frame.iloc[::max(1, len(frame) // (2 * PROBE_ITEMS))]
    batches = [frame.iloc[i:i + PROBE_ITEMS] for i in range(0, len(frame), PROBE_ITEMS)]
    list(body(iter([(warm.topic, warm.key, warm.value)])))
    t0 = time.perf_counter()
    outs = list(body(iter((b.topic, b.key, b.value) for b in batches)))
    body_rate = len(frame) / (time.perf_counter() - t0)
    envelope = sum(len(x) for o in outs for col in (o.key_out, o.value_out) for x in col if x is not None)
    return {"decoder.decode_one_rec_s": one,
            "decoder.udf_body_rec_s": body_rate,
            "decoder.envelope_bytes_per_rec": envelope / len(frame)}


def _noop_seconds(df) -> float:
    """Median seconds of a noop write after one warm-up write."""
    common.noop(df)
    times = []
    for _ in range(ROUNDS):
        t0 = time.perf_counter()
        common.noop(df)
        times.append(time.perf_counter() - t0)
    return common.median(times)


def wire_gate_rate(df, n: int) -> float:
    """Noop write of the native wire gates over the same input: the JVM
    scan-and-gate floor under the decode."""
    from pyspark.sql import functions as F

    from byte_convert_avro_spark import wire

    gated = df.select(wire.is_valid_wire(F.col("value")).alias("ok"),
                      wire.schema_id(F.col("value")), wire.body(F.col("value")).alias("body"))
    return n / _noop_seconds(gated)


def quarantine_counts(errors: list[str | None]) -> dict[str, float]:
    from oracle import classify_error

    out = {f"decoder.quarantined.{c}": 0.0 for c in CAUSES}
    for e in errors:
        c = classify_error(e)
        if c in CAUSES:
            out[f"decoder.quarantined.{c}"] += 1
    return out


def probe_decode_frame(spark, rows: inputs.Rows, texts, topics, workdir: str):
    """A Kafka-shaped frame of ``rows`` and its decode, for workloads whose
    own timed work is not a batch decode."""
    from byte_convert_avro_spark import Engine, EngineConfig
    from byte_convert_avro_spark.schema_store import LocalSchemaStore

    path = f"{workdir}/probe.parquet"
    pq.write_table(rows.table(), path)
    df = spark.read.parquet(path)
    out = Engine(EngineConfig(avro_topics=topics), store=LocalSchemaStore(texts)).transform(df)
    common.check_plan(common.plan_text(out))
    return df, len(rows) / _noop_seconds(out)


def workload_probes(seed: int, rows: inputs.Rows, texts, topics) -> dict[str, float]:
    """The single-thread avro and decoder probes on the workload's own
    payloads."""
    out = fused_probe(seed)
    out.update(decoder_probe(rows, texts, topics))
    out["decoder.input_bytes_per_rec"] = rows.payload_bytes() / len(rows)
    return out
