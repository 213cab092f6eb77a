"""decode_wide: Kafka-shaped parquet through ``Engine.transform`` and a
``noop`` write, timed per pass. Also the registry mix, decoded once and
untimed in every traced run, where the schema-store and quarantine layers
do the work."""

from __future__ import annotations

import os
import random
import shutil
import time

import common
import inputs
import layers
from oracle import check_row
from registry_stub import RegistryStub

WIDE_RECORDS = 60_000
WIDE_PARTITIONS = 4
MIX_PER_PARTITION = 500
SETUPS = 3
MIN_PASSES = 3
SAMPLE = 1500


def load(spark, paths):
    # one split per file: one task per simulated Kafka partition, as the
    # Kafka source would plan it
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    return spark.read.parquet(os.path.dirname(paths[0]))


def collect_for_oracle(out, n: int, seed: int):
    """Decode every row once and return what the oracle reads: every row's
    _error, plus the envelopes of a seeded sample and of every quarantined
    row. It selects instead of filtering, because a filter on _error would
    evaluate the decoder twice. -> (sample offsets, rows)."""
    from pyspark.sql import functions as F

    sample = set(random.Random(seed + 2).sample(range(n), min(SAMPLE, n)))
    picked = F.col("offset").isin(sorted(sample)) | F.col("_error").isNotNull()
    got = out.select("offset", "_error", F.when(picked, F.col("key")).alias("key"),
                     F.when(picked, F.col("value")).alias("value")).collect()
    return sample, got


def check(got, sample: set[int], rows: inputs.Rows, injected: dict[int, str]):
    """-> (checked rows, offsets found wrong, failed count). ``_error`` must
    be set exactly on the injected rows; a missing row fails too."""
    checked = [r.asDict() for r in got if r["offset"] in sample or r["_error"] is not None]
    wrong = {r["offset"] for r in checked
             if not check_row(r, rows.key_exp[r["offset"]], rows.value_exp[r["offset"]])}
    wrong |= set(injected) - {r["offset"] for r in checked if r["_error"] is not None}
    wrong |= sample - {r["offset"] for r in checked}
    return checked, wrong, len(wrong) + abs(len(got) - len(rows))


def failures(wrong: set[int], checked: list[dict], rows: inputs.Rows) -> list[dict]:
    """The first few wrong rows, for the report."""
    errors = {r["offset"]: r["_error"] for r in checked}
    return [{"offset": o, "expected": rows.value_exp[o].kind, "error": errors.get(o, "not returned")}
            for o in sorted(wrong)[:5]]


def run(seed: int, seconds: float, tracer, workdir: str) -> dict:
    from byte_convert_avro_spark import Engine, EngineConfig
    from byte_convert_avro_spark.schema_store import LocalSchemaStore

    texts, topics = inputs.wide_schemas(), {inputs.WIDE_TOPIC: False}
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session"):
                spark = common.session()
            with tracer.span("generate"):
                rows = inputs.wide_rows(seed, WIDE_RECORDS, WIDE_PARTITIONS)
                shutil.rmtree(f"{workdir}/input", ignore_errors=True)
                paths = inputs.write_partitions(rows, f"{workdir}/input")
            with tracer.span("construct"):
                t_c = time.perf_counter()
                df = load(spark, paths)
                out = Engine(EngineConfig(avro_topics=topics), store=LocalSchemaStore(texts)).transform(df)
                construct_s = time.perf_counter() - t_c
            common.check_plan(common.plan_text(out))
            with tracer.span("warmup"):
                sample, got = collect_for_oracle(out, len(rows), seed)
        setups.append(time.perf_counter() - t0)

    n = len(rows)
    passes = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(passes) < MIN_PASSES:
        with tracer.span("pass"):
            t0 = time.perf_counter()
            common.noop(out)
            passes.append(time.perf_counter() - t0)

    # -- oracle (untimed), on the last warm-up's rows ---------------------------
    checked, wrong, failed = check(got, sample, rows, {})
    rates = [n / p for p in passes]
    result = {
        "e2e": {
            "setup_s": common.median(setups),
            "throughput_per_s": common.median(rates),
            "latency_ms": common.median(passes) * 1e3,
        },
        "attempted": n,
        "failed": failed,
        "report": {
            "decode_rec_s": common.median(rates),
            "pass_ms": [round(p * 1e3, 1) for p in passes],
            "setups_s": [round(s, 3) for s in setups],
            "input_records": n,
            "input_partitions": len(paths),
            "input_bytes": rows.payload_bytes(),
            "schema_ids": len(texts),
            "oracle_checked": len(checked),
            "failures": failures(wrong, checked, rows),
        },
    }

    def probe() -> None:
        lay = layers.workload_probes(seed, rows, texts, topics)
        lay["wire.gate_rec_s"] = layers.wire_gate_rate(df, n)
        lay["decoder.parallel_efficiency"] = result["e2e"]["throughput_per_s"] / (
            common.cpus() * lay["decoder.udf_body_rec_s"])
        lay["queries.construct_s"] = construct_s
        lay["queries.materialize_s"] = common.median(passes)
        result["layers"] = lay
        result["report"]["parallel_efficiency_base"] = (
            f"decode_rec_s / ({common.cpus()} cpus x udf_body_rec_s)")

    result["probe"] = probe
    return result


def registry_mix_pass(spark, seed: int, workdir: str) -> dict:
    """The registry mix decoded once, untimed, with schemas served by
    ``HttpSchemaRegistry`` from the loopback stub; checked by the oracle.
    Gives the schema_store, general-path avro and quarantine layers."""
    from byte_convert_avro_spark import Engine, EngineConfig
    from byte_convert_avro_spark.schema_store import HttpSchemaRegistry

    mix = inputs.Mix(seed, MIX_PER_PARTITION)
    paths = inputs.write_partitions(mix.rows, f"{workdir}/mix")
    with RegistryStub(mix.text) as stub:
        store = HttpSchemaRegistry(stub.url)
        out = Engine(EngineConfig(avro_topics=mix.topics), store=store).transform(load(spark, paths))
        common.check_plan(common.plan_text(out))
        sample, got = collect_for_oracle(out, len(mix.rows), seed)
        requests = stub.total()
    checked, wrong, failed = check(got, sample, mix.rows, mix.injected)
    lay = layers.schema_store_probe(mix.text, sorted(mix.text))
    lay.update(layers.general_probe(seed, mix))
    lay["schema_store.registry_requests"] = float(requests)
    lay["schema_store.requests_per_id"] = requests / mix.distinct_ids
    return {
        "layers": lay,
        "extra_layers": layers.quarantine_counts([r["_error"] for r in checked]),
        "attempted": len(mix.rows),
        "failed": failed,
        "report": {
            "input_records": len(mix.rows),
            "input_partitions": len(paths),
            "schema_ids": len(mix.text),
            "distinct_ids": mix.distinct_ids,
            "injected": len(mix.injected),
            "oracle_checked": len(checked),
            "failures": failures(wrong, checked, mix.rows),
        },
    }
