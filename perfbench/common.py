"""Shared plumbing: launch configuration, statistics, the /proc memory
sampler, in-memory spans, the plan guard and the Spark event-log reader.

Nothing here imports pyspark at module level: the launch configuration
must be in the environment before the first JVM starts.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import re
import shlex
import statistics
import threading
import time
from contextlib import contextmanager

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_work")

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: physical-plan nodes that evaluate Python: the scalar pandas UDF today,
#: the Arrow map forms a later decoder may use
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_launch(workdir: str, traced: bool) -> str:
    """Point every file Spark and Python write into ``workdir`` and, when
    traced, turn on Spark's JSON event log from the launch arguments (a
    builder ``.config`` set before the package's ``get_spark`` does not
    reach the JVM). Returns the event-log directory."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "local")
    events = os.path.join(workdir, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the registry stub is on loopback; never route it through a proxy
    os.environ["NO_PROXY"] = os.environ["no_proxy"] = "127.0.0.1,localhost"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.pop("PYSPARK_DRIVER_PYTHON", None)
    args = [
        "--driver-memory", "1g",
        # a pre-touched heap keeps the JVM's share of peak memory fixed, so
        # the memory metric moves with off-heap and Python-worker memory, not with
        # when the collector chose to grow the heap
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch",
        "--conf", "spark.sql.streaming.numRecentProgressUpdates=1000",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


def session():
    """The package's own session factory on local[cpus]."""
    from byte_convert_avro_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the JVM PySpark launched, and wait for
    the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def noop(df) -> None:
    """Full materialization: every output column evaluated, nothing
    shipped to the driver (``count()`` would let pruning drop columns)."""
    df.write.format("noop").mode("overwrite").save()


def plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def check_plan(plan: str) -> None:
    """Plan guard: a timed decode plan must evaluate the decoder."""
    if not any(n in plan for n in PYTHON_EVAL_NODES):
        raise AssertionError(
            "timed plan has no Python evaluation node; the decode would not run:\n" + plan
        )


# -- statistics ---------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile). Needs at least eleven samples."""
    s = sorted(xs)
    if len(s) < 11:
        raise ValueError(f"{len(s)} samples cannot support a tail percentile")
    i = len(s) - 11
    return float(s[i]), 100.0 * (i + 1) / len(s)


# -- run context --------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from /proc/stat; (0, 0) where there
    is none."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return ticks[7], sum(ticks)


def context(seed: int, spin_mops: float) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "cpus": cpus(),
        "cpu_spin_mops": round(spin_mops, 3),
        "loadavg_start": os.getloadavg()[0],
        "_ticks_start": _cpu_ticks(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def close_context(ctx: dict) -> None:
    ctx["loadavg_end"] = os.getloadavg()[0]
    # time the hypervisor ran other guests on this VM's CPUs; on a shared
    # host the stream's batches slowed up to 2x while it was ~20%
    (s0, t0), (s1, t1) = ctx.pop("_ticks_start"), _cpu_ticks()
    ctx["steal_pct"] = round(100 * (s1 - s0) / max(1, t1 - t0), 2)
    ctx["overloaded"] = max(ctx["loadavg_start"], ctx["loadavg_end"]) > ctx["cpus"]


# -- peak memory of the process tree ---------------------------------------------

def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants. PSS
    splits pages the forked Python workers share with their daemon, which
    summed RSS would count once per worker."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                text = f.read()
        except OSError:
            continue  # the process ended while being read
        ppid = int(text[text.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    total, frontier = 0, [root]
    while frontier:
        pid = frontier.pop()
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
        frontier.extend(children.get(pid, ()))
    return total


class MemorySampler:
    """Samples the summed PSS of this process and all its descendants (the
    JVM and the Python workers) from ``/proc`` until stopped."""

    def __init__(self, interval: float = 1.0) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- spans ----------------------------------------------------------------------

class Tracer:
    """In-memory spans ``{name, start, end, parent}`` around calls into the
    package's layers; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark event log ------------------------------------------------------------

#: PythonSQLMetrics accumulables on the Python evaluation node
PYTHON_ACCUMULABLES = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

SPARK_LAYER = (
    "jobs", "stages", "tasks", "task_ms_p50", "task_ms_max", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", *PYTHON_ACCUMULABLES.values(),
)


def _inside(t_ms, windows) -> bool:
    return t_ms is not None and any(a * 1000 <= t_ms <= b * 1000 for a, b in windows)


def parse_event_log(lines, windows: list[tuple[float, float]]) -> dict:
    """Sum the jobs, stages and tasks that started inside ``windows``
    (epoch seconds) from Spark JSON event-log lines."""
    out = {k: 0.0 for k in SPARK_LAYER}
    task_ms: list[float] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out["jobs"] += _inside(ev.get("Submission Time"), windows)
        elif kind == "SparkListenerStageCompleted":
            out["stages"] += _inside(ev["Stage Info"].get("Submission Time"), windows)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not _inside(info.get("Launch Time"), windows):
                continue
            out["tasks"] += 1
            task_ms.append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            out["executor_run_ms"] += m.get("Executor Run Time", 0)
            out["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["gc_ms"] += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", ()):
                key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if key is not None:
                    out[key] += float(acc.get("Update") or 0)
    if task_ms:
        out["task_ms_p50"] = median(task_ms)
        out["task_ms_max"] = max(task_ms)
    return out


def read_event_logs(events_dir: str, windows) -> dict:
    lines: list[str] = []
    # Spark 4 writes each application's log as a directory of rolled files
    for path in sorted(glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            lines.extend(f)
    return parse_event_log(lines, windows)
