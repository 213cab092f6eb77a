#!/usr/bin/env python3
"""Benchmark driver for the Confluent-Avro decode engine.

    python3 perfbench/run.py --workload decode_wide --seed 1 --seconds 6 --trace 0

Runs one workload on local[nproc] through the package's public API, checks
its outputs against an oracle that does not call the package, prints one
line per metric, and ends with one JSON line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` turns on Spark's
event log and the span recorder and reports the per-layer metrics. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402

WORKLOADS = ("decode_wide", "stream_replicate")


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _runner(name: str):
    if name == "stream_replicate":
        import stream

        return stream.run
    import decode

    return decode.run


def _fingerprint() -> str:
    """Hash of the sources a run executes: the package, the benchmark and
    ``bench_decode.py``."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(REPO, "byte_convert_avro_spark", "**", "*.py"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "*.py"))) + [os.path.join(REPO, "bench_decode.py")]
    for path in files:
        h.update(os.path.relpath(path, REPO).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _reference_path(args) -> str:
    return os.path.join(common.WORK, f"untraced_{args.workload}_seed{args.seed}_"
                                     f"{args.seconds:g}s_{_fingerprint()}.json")


def _untraced_reference(args) -> dict:
    """End-to-end values of an untraced run of this workload with the same
    seed, run length and sources; runs one first if there is none."""
    path = _reference_path(args)
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, timeout=170,
        )
    with open(path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "byte_convert_avro_spark")):
        print("perfbench: the byte_convert_avro_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    spec = _spec()
    traced = bool(args.trace)
    reference = _untraced_reference(args) if traced else None

    workdir = os.path.join(common.WORK, f"{args.workload}-t{args.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    events = common.configure_launch(workdir, traced)

    from bench_decode import cpu_spin_mops

    ctx = common.context(args.seed, cpu_spin_mops(3_000_000))
    tracer = common.Tracer(traced)
    try:
        with common.MemorySampler() as mem:
            result = _runner(args.workload)(args.seed, args.seconds, tracer, workdir)
        result["e2e"]["peak_pss_mb"] = mem.peak_mb
        if traced:
            import decode

            # after the sampler, so the probes' memory is not the workload's
            with tracer.span("probes"):
                result["probe"]()
                mix = decode.registry_mix_pass(common.session(), args.seed, workdir)
    finally:
        common.stop_jvm()
    common.close_context(ctx)

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    report = {"workload": args.workload, "context": ctx, **result["report"]}
    extra = {}
    if traced:
        layers = {**result["layers"], **mix["layers"]}
        extra = {**result.get("extra_layers", {}), **mix["extra_layers"]}
        windows = tracer.windows(result.get("timed_span", "pass"))
        spark = common.read_event_logs(events, windows)
        units = result.get("units", len(windows))
        for k, v in spark.items():
            # sums are reported per timed unit (a pass or a data micro-batch)
            layers[f"spark.{k}"] = v if k.startswith("task_ms") else v / units
        for k, v in result["e2e"].items():
            layers[f"trace_overhead.{k}"] = v - reference[k]
        # the registry mix's records are checked too
        result["attempted"] += mix["attempted"]
        result["failed"] += mix["failed"]
        report["traced_e2e"] = result["e2e"]
        report["untraced_reference"] = reference
        report["registry_mix"] = mix["report"]
        report.update(extra)
        tracer.write(os.path.join(common.WORK, f"spans_{args.workload}.json"))
        metrics, units_of = layers, layer_units
    else:
        with open(_reference_path(args), "w") as f:
            json.dump(result["e2e"], f)
        metrics, units_of = result["e2e"], e2e_units

    missing = set(units_of) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    bad = [k for k in [*metrics, *extra] if not common.METRIC_NAME.fullmatch(k)]
    if bad:
        raise RuntimeError(f"malformed metric names: {bad}")
    report["failed_fraction"] = result["failed"] / result["attempted"]
    with open(os.path.join(common.WORK, f"report_{args.workload}-t{args.trace}.json"), "w") as f:
        json.dump({"metrics": metrics, "report": report}, f, indent=1, default=str)
    for k in sorted(units_of):
        print(f"# {args.workload} {k} = {metrics[k]:.6g} {units_of[k]}")
    for k, v in sorted(extra.items()):
        print(f"# {args.workload} {k} = {v:.6g}")
    print(f"# {args.workload} failed_fraction = {report['failed_fraction']:.6g} "
          f"({result['failed']} of {result['attempted']})")
    print(f"# context {json.dumps(ctx)}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units_of[k]} for k in units_of},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
