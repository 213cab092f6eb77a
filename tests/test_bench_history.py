"""bench.py's history contract, without a Spark session: the bench's
query lists resolve in the registry, the per-(sf, cpus) sidecar merges
per query, and the drift flag is normalized by host CPU speed."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from byte_convert_avro_spark.queries import queries  # noqa: E402


def _entry(median_s: float, spin: float = 20.0) -> dict:
    return {"median_s": median_s, "cpu_spin_mops": spin}


def test_bench_query_names_are_registered():
    reg = queries()
    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in reg]
    assert not missing, f"bench names not in queries(): {missing}"


def test_merge_keeps_queries_that_did_not_run(tmp_path):
    path = bench.history_path(str(tmp_path), "0.1", 4)
    bench.save_history(path, {"cpus": 4, "cpu_spin_mops": 20.0},
                       {"a": _entry(1.0), "b": _entry(2.0)})
    bench.save_history(path, {"cpus": 4, "cpu_spin_mops": 10.0},
                       {"a": _entry(3.0, spin=10.0)})
    doc = json.loads(Path(path).read_text())
    assert doc["queries"] == {"a": _entry(3.0, spin=10.0), "b": _entry(2.0)}
    assert doc["cpu_spin_mops"] == 10.0


def test_cpus_selects_the_history_file(tmp_path):
    for cpus, t in ((4, 1.0), (8, 5.0)):
        bench.save_history(bench.history_path(str(tmp_path), "1", cpus),
                           {"cpus": cpus}, {"a": _entry(t)})
    files = sorted(p.name for p in tmp_path.iterdir())
    assert files == ["BENCH_local_sf1_c4.json", "BENCH_local_sf1_c8.json"]
    c8 = json.loads((tmp_path / "BENCH_local_sf1_c8.json").read_text())
    assert c8["cpus"] == 8 and c8["queries"]["a"]["median_s"] == 5.0


def test_flag_is_spin_normalized():
    # 2x slower on an equally fast host: a regression
    assert bench.is_flagged(2.0, 1.0, spin_hist=20.0, spin_now=20.0)
    # 2x slower on a host at half the spin: the host, not the code
    assert not bench.is_flagged(2.0, 1.0, spin_hist=20.0, spin_now=10.0)
    assert not bench.is_flagged(1.4, 1.0, spin_hist=20.0, spin_now=20.0)
