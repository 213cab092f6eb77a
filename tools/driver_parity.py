#!/usr/bin/env python
"""Replica of the driver's correctness harness, runnable standalone.

Builds a *bare* driver-like SparkSession — ``local[N]`` + shuffle
partitions only, none of :func:`byte_convert_avro_spark.session.get_spark`'s
engine configs (no Arrow flag, no AQE toggles, no pinned timezone) — then
executes EVERY ``__spark_entry__.queries()`` entry at the driver's scale
factor and compares against ``oracle_sql()`` via DuckDB with the driver's
rules: column sets compared by sorted name, row counts exact, values
compared order-insensitively after canonicalization.

This is coverage insurance for the registry entries the per-round driver
sample has never hit (streaming jobs, decode round-trips, multimodal): it
proves each runs COLD through the entry module in a session we didn't
configure.  Exits non-zero on any failure; prints one JSON object.

Every run (full or ``--only``) also APPENDS one line per query to
``PARITY_GATES.jsonl`` at the repo root — the committed gate ledger that
``tests/test_entry_contract.py::test_every_registry_entry_has_a_gate``
checks, so a registry entry committed without ever passing a parity run
fails fast in-suite instead of in the next round's judge replica (the
round-9 ``user_value_holt_trend`` hole).  ``--no-record`` skips the append
for experimental runs.

Usage:  python tools/driver_parity.py [--sf-dir DIR] [--only q1 q2 ...]
                                      [--no-record]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: queries whose gate intentionally bounds its own verification work;
#: copied into the artifact for every run that includes them — the
#: "no silent caps" rule made machine-readable (r12 ADVICE).
DISCLOSED_CAPS = {
    "trade_neighborhood_function_kmv": (
        "exact referee seeded from a deterministic 1/16 md5 node sample "
        "(sketch side full-graph); unsampled twin: "
        "trade_neighborhood_kmv_full_referee (run at sf0.01)"
    ),
}


def _canon(v) -> str:
    """Engine-neutral canonical string for one cell.

    Numeric canonicalization unifies int vs float spellings of the same
    value ("1" == 1 == 1.0): the r12 compare path (``df.iterrows()``)
    got this for free via pandas' per-row common-dtype upcast, but that
    upcast was also the bottleneck (Series construction per row — 137 s
    of the 147 s ``customer_running_total`` sf1 line was compare, not
    engines).  The vectorized path maps per COLUMN, so cross-engine
    int64-vs-float64 dtype drift must be absorbed here instead.  Floats
    that are integral and exactly representable print as ints; ints
    above 2^53 never round-trip through float (exactness preserved).
    ``float(v)`` before ``repr`` normalizes numpy scalar reprs across
    numpy versions.  None→"∅" vs NaN→"NaN" stays distinct (NULL and
    NaN are different values in a DOUBLE column)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        f = float(v)
        if f.is_integer() and abs(f) <= 2.0**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, int):
        return str(v)
    return str(v)


def _table(df) -> list[tuple]:
    """Order-insensitive canonical form: sorted rows of per-cell canon
    strings.  Vectorized per column (``Series.map`` boxes datetime64
    cells to Timestamps uniformly across ns/us units, unlike
    ``.to_numpy()``); both engines' frames go through THIS same
    function, which is the property that makes the compare trustworthy
    — an engine-side SQL hash would hand float formatting to two
    different printf implementations."""
    cols = sorted(df.columns)
    if not len(df):
        return []
    return sorted(zip(*(df[c].map(_canon) for c in cols)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--exclude", nargs="*", default=None,
                    help="names to skip (recorded in the artifact as skipped "
                         "— no silent caps)")
    ap.add_argument("--no-record", action="store_true")
    ap.add_argument("--progress", action="store_true",
                    help="print one stderr line per query as it completes "
                         "(hang diagnosis on long runs)")
    ap.add_argument("--rows-only", nargs="*", default=None,
                    help="names to run WITHOUT their DuckDB oracle "
                         "(recorded as mode:'rows-only-forced') — for "
                         "large-SF audits where the oracle itself is "
                         "resource-bound (e.g. a recursive-CTE closure "
                         "that exhausts temp disk at sf10); never a "
                         "silent skip, the mode is in the artifact line")
    ap.add_argument("--scale-oracle", action="store_true",
                    help="for queries with a registered SCALE_ORACLES "
                         "spelling (sub-quadratic twin of a deliberately "
                         "brute-force primary oracle), gate against that "
                         "instead — large-SF audits only; the swap is "
                         "recorded per-line as oracle:'scale'")
    ap.add_argument("--result-file", default=None,
                    help="also write the result JSON to this path — a "
                         "machine handoff for tools/run_full_parity.py that "
                         "does not depend on scraping stdout")
    ap.add_argument("--driver-memory", default=None,
                    help="JVM heap for the local session (e.g. 48g).  The "
                         "default stays BARE (Spark's 1g) to mirror the "
                         "driver harness at sf0.01; large-SF audit runs "
                         "need a real heap because local mode runs all 32 "
                         "executor threads inside the driver JVM.  Recorded "
                         "in the artifact when set.")
    ap.add_argument("--duck-memory", default=None,
                    help="DuckDB memory_limit (e.g. 32GB).  The default "
                         "stays BARE (DuckDB's ~80%% of RAM) to mirror the "
                         "driver harness at sf0.01 — but large-SF runs MUST "
                         "set it: the oracle shares one process with the "
                         "Spark JVM, and DuckDB planning against memory the "
                         "JVM already holds dies in malloc instead of "
                         "spilling (the r14c sf10 OOM sextet).  Recorded in "
                         "the artifact when set.")
    ap.add_argument("--duck-temp", default=None,
                    help="DuckDB temp_directory for larger-than-memory "
                         "spill, with --duck-temp-max as its size cap — "
                         "without a cap one runaway oracle fills the disk "
                         "(the r14c sf10 HITS line).")
    ap.add_argument("--duck-temp-max", default="60GiB",
                    help="max_temp_directory_size when --duck-temp is set "
                         "(default 60GiB)")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import duckdb
    from pyspark.sql import SparkSession

    from byte_convert_avro_spark.session import TABLES

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("driver_parity")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
    )
    if args.driver_memory:
        builder = builder.config("spark.driver.memory", args.driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    con = duckdb.connect()
    if args.duck_memory:
        con.execute(f"SET memory_limit='{args.duck_memory}'")
    if args.duck_temp:
        os.makedirs(args.duck_temp, exist_ok=True)
        con.execute(f"SET temp_directory='{args.duck_temp}'")
        con.execute(
            f"SET max_temp_directory_size='{args.duck_temp_max}'"
        )
    for t in TABLES:
        path = f"{args.sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written table dir (tools/scale_data.py)
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = sorted(queries)
    if args.only:
        names = [n for n in names if n in set(args.only)]
    skipped = sorted(set(args.exclude or ()) & set(names))
    if skipped:
        names = [n for n in names if n not in set(skipped)]

    results: dict[str, dict] = {}
    failed = 0
    for i, name in enumerate(names):
        t0 = time.monotonic()
        try:
            sdf = queries[name](spark, args.sf_dir).toPandas()
            sql = oracles.get(name)
            oracle_kind = None
            if args.rows_only and name in set(args.rows_only):
                sql = None
                oracle_kind = "rows-only-forced"
            elif args.scale_oracle:
                from byte_convert_avro_spark.queries.base import SCALE_ORACLES

                if name in SCALE_ORACLES:
                    sql = SCALE_ORACLES[name]
                    oracle_kind = "scale"
            if sql is None:
                results[name] = {
                    "ok": True,
                    "mode": oracle_kind or "rows-only",
                    "rows": len(sdf),
                }
            else:
                odf = con.execute(sql).df()
                cols_ok = sorted(sdf.columns) == sorted(odf.columns)
                rows_ok = len(sdf) == len(odf)
                vals_ok = cols_ok and rows_ok and _table(sdf) == _table(odf)
                results[name] = {
                    "ok": cols_ok and rows_ok and vals_ok,
                    "rows": len(sdf),
                    "oracle_rows": len(odf),
                    "cols_ok": cols_ok,
                    "vals_ok": vals_ok,
                }
                if oracle_kind:
                    results[name]["oracle"] = oracle_kind
        except Exception as ex:  # noqa: BLE001 — harness boundary
            results[name] = {"ok": False, "err": repr(ex)[:400]}
        results[name]["sec"] = round(time.monotonic() - t0, 3)
        if not results[name]["ok"]:
            failed += 1
            print(f"FAIL {name}: {results[name]}", file=sys.stderr)
        elif args.progress:
            print(
                f"[{i + 1}/{len(names)}] ok {name}"
                f" ({results[name]['sec']}s)",
                file=sys.stderr, flush=True,
            )

    if not args.no_record:
        # Compacted ledger (r10 ADVICE): keep ONE line per query — the
        # latest record — rewriting the file on every recording run.
        # Full history lives in git, not in the working file (it had
        # grown past 2.5k lines for 283 entries).  "Later lines win"
        # is preserved: this run's results overwrite prior records for
        # the queries it ran, and untouched queries keep their line.
        stamp = time.strftime("%Y-%m-%dT%H:%M:%S")
        ledger_path = os.path.join(REPO, "PARITY_GATES.jsonl")
        latest: dict[str, dict] = {}
        if os.path.exists(ledger_path):
            with open(ledger_path) as fh:
                for line in fh:
                    rec = json.loads(line)
                    latest[rec["name"]] = rec
        for name, r in results.items():
            latest[name] = {
                "name": name,
                "ok": r["ok"],
                "sf_dir": args.sf_dir,
                "ts": stamp,
            }
        with open(ledger_path, "w") as fh:
            for name in sorted(latest):
                fh.write(json.dumps(latest[name]) + "\n")

    out = {
        "sf_dir": args.sf_dir,
        "total": len(names),
        "failed": failed,
        "results": results,
    }
    if args.driver_memory:
        out["driver_memory"] = args.driver_memory
    if args.duck_memory:
        out["duck_memory"] = args.duck_memory
    if args.duck_temp:
        out["duck_temp_max"] = args.duck_temp_max
    if skipped:
        out["skipped"] = skipped
    caps = {n: DISCLOSED_CAPS[n] for n in names if n in DISCLOSED_CAPS}
    if caps:
        out["disclosed_caps"] = caps
    print(json.dumps(out))
    if args.result_file:
        with open(args.result_file, "w") as fh:
            json.dump(out, fh)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
