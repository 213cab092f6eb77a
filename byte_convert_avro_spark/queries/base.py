"""Shared infrastructure for the query registry.

Cross-engine determinism rules (Spark vs DuckDB must hash-match):

- **Money/measure sums** go through ``CAST(x AS DECIMAL(18,4))`` (or wider
  for products) before SUM — decimal aggregation is exact and therefore
  independent of partitioning/accumulation order, unlike double sums.  The
  final value casts back to DOUBLE so both engines report the same schema.
- **Averages** are computed as exact-decimal-sum / count in DOUBLE — one
  deterministic division instead of engine-specific AVG accumulators.
- **Event time** is integer microseconds: Spark reads the ns-precision
  parquet with ``spark.sql.legacy.parquet.nanosAsLong`` and uses
  ``ts DIV 1000``; DuckDB uses ``epoch_us(ts)``.  All bucketing is integer
  division — no floating point anywhere in time arithmetic.
- **Timestamps in output** are formatted to strings (``date_format`` /
  ``strftime``) — Spark timestamps are session-TZ µs, DuckDB's are naive,
  so raw timestamp columns never cross the compare boundary.
- **Top-K** always orders by (exact value, unique key) so ties cannot
  reorder between engines.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# hash_bucket lives next to md5_long, the one content-stable hash it
# reduces; re-exported here for the query modules that import it.
from byte_convert_avro_spark.functions import hash_bucket  # noqa: F401

REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str | None] = {}
#: Alternate LINEAR/log-linear oracle spellings for queries whose primary
#: oracle is deliberately brute-force (quadratic NOT EXISTS, all-pairs):
#: the brute-force pin runs at small SFs where it is feasible; large-SF
#: audits (tools/driver_parity.py --scale-oracle) swap in this spelling so
#: the query can still be GATED cross-engine at 100x instead of
#: Spark-side-timed only.  The asymmetry trade is disclosed in the
#: artifact line ("oracle": "scale").
SCALE_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None, scale_oracle: str | None = None):
    """Register a query + its DuckDB oracle (None -> rows-only check).
    ``scale_oracle``: an equivalent sub-quadratic spelling for large-SF
    gating (see SCALE_ORACLES)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = fn
        ORACLES[name] = oracle
        if scale_oracle is not None:
            SCALE_ORACLES[name] = scale_oracle
        return fn

    return deco


#: session -> {(sf_dir, table) -> DataFrame}.  Weak-keyed on the live
#: SparkSession object so a stopped/collected session drops its cached
#: relations with it (an ``id(spark)`` key could be recycled by a new
#: session at the same address and would pin DataFrames for the process
#: lifetime).
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)

#: session -> {sf_dir -> raw (pre-normalization) events schema}.  Stashed by
#: :func:`t` at load time so streaming readers, which must declare the RAW
#: file schema, never re-list the path or re-read parquet footers.
_RAW_EVENTS_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, object]]" = (
    weakref.WeakKeyDictionary()
)


def events_ts_to_ns(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to nanosecond epoch longs — the
    engine-internal convention every downstream query derives ``ts_us``
    from (``ts DIV 1000``).

    The driver's parquet has shipped ``ts`` in two physical forms across
    rounds: TIMESTAMP(NANOS) (readable only as longs via the
    ``nanosAsLong`` legacy conf) and µs TIMESTAMP_NTZ.  Both normalize
    here, and both conversions are SESSION-TZ-INDEPENDENT: the NTZ path
    is a wall-clock ``timestampdiff`` against the NTZ epoch (naive-as-UTC,
    exactly DuckDB's ``epoch_us(ts)``), and ``unix_micros`` on an instant
    TIMESTAMP reads the UTC epoch directly.  No ordering between this
    conversion and any session-conf mutation can change the result."""
    dt = df.schema["ts"].dataType.simpleString()
    if dt == "timestamp_ntz":
        return df.withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
            )
            * F.lit(1000),
        )
    if dt.startswith("timestamp"):
        return df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table.  ``events``' ``ts`` column is normalized to
    nanosecond epoch longs (see :func:`events_ts_to_ns`); the ns-as-long
    legacy conf is set first so a TIMESTAMP(NANOS) file stays readable.

    Memoized per (session, dir, table) — a poor man's catalog: repeated
    loads reuse the already-analyzed relation instead of re-listing the
    path and re-reading parquet footers on every query."""
    per = _TABLE_MEMO.get(spark)
    if per is None:
        per = {}
        _TABLE_MEMO[spark] = per
    hit = per.get((sf_dir, name))
    if hit is not None:
        return hit
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The epoch conversion itself is TZ-independent (see
        # events_ts_to_ns), but event-time RENDERING (date_format over
        # timestamp_micros) and streaming window() alignment read the
        # session TZ; pin UTC so those match DuckDB's naive semantics on
        # any host (incl. the driver's bare session).  Documented global
        # side effect — the engine's own sessions already default to UTC
        # (session.py).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        raws = _RAW_EVENTS_SCHEMA_MEMO.get(spark)
        if raws is None:
            raws = {}
            _RAW_EVENTS_SCHEMA_MEMO[spark] = raws
        raws[sf_dir] = df.schema
        df = events_ts_to_ns(df)
    per[(sf_dir, name)] = df
    return df


def raw_events_schema(spark: SparkSession, sf_dir: str):
    """The PRE-normalization schema of ``events.parquet`` (``ts`` may be a
    timestamp or a ns-long depending on the driver's parquet generation).
    Streaming file sources must declare exactly this schema.  Served from
    the stash :func:`t` fills at load time — no extra path listing or
    footer read per streaming query."""
    raws = _RAW_EVENTS_SCHEMA_MEMO.get(spark)
    if raws is None or sf_dir not in raws:
        t(spark, sf_dir, "events")
        raws = _RAW_EVENTS_SCHEMA_MEMO[spark]
    return raws[sf_dir]


_SCRATCH_DIRS: list[str] = []


def _purge_scratch_dirs() -> None:
    import shutil

    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """Process-scoped scratch directory for queries that materialize an
    intermediate at-rest copy (OCF round-trips, federated three-format
    union, stream sources).  The returned DataFrames re-read the files
    LAZILY, so cleanup can't be a ``finally`` around the query — every
    directory is instead registered once for ``atexit`` removal (the
    round-6 ADVICE leak fix).  Deterministic-free: the uuid name only
    prevents collisions, nothing reads it back."""
    import atexit
    import tempfile
    import uuid

    d = os.path.join(tempfile.gettempdir(), f"{prefix}{uuid.uuid4().hex[:10]}")
    os.makedirs(d, exist_ok=True)
    if not _SCRATCH_DIRS:
        atexit.register(_purge_scratch_dirs)
    _SCRATCH_DIRS.append(d)
    return d


def dsum(col: Column | str, scale: str = "decimal(18,4)") -> Column:
    """Order-independent exact sum, reported as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double")


def cents(col: Column | str, decimals: int = 2) -> Column:
    """Money/percent column -> exact integer units (price -> cents).

    The inputs carry <= ``decimals`` decimal digits, so rounding the double
    at that scale is unambiguous in both engines.  All downstream products
    and sums stay in int64 — exact and order-independent — with one final
    division back to double.  This is the portable discipline for *product*
    sums: the DECIMAL(28,10)-cast alternative breaks cross-engine because
    casting a wide decimal back to double double-rounds (int128 -> double
    -> divide) differently per engine once the scaled numerator exceeds
    2^53."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10 ** decimals), 0).cast("long")


def revenue_sum() -> Column:
    """Σ l_extendedprice*(1-l_discount) via integer units, as double."""
    units = cents("l_extendedprice") * (100 - cents("l_discount"))
    return F.sum(units) / F.lit(10_000.0)


def charge_sum() -> Column:
    """Σ l_extendedprice*(1-l_discount)*(1+l_tax) via integer units."""
    units = (
        cents("l_extendedprice")
        * (100 - cents("l_discount"))
        * (100 + cents("l_tax"))
    )
    return F.sum(units) / F.lit(1_000_000.0)


#: SQL fragments mirroring cents()/revenue_sum()/charge_sum() for DuckDB.
SQL_CENTS = "CAST(ROUND({x} * 100, 0) AS BIGINT)"
SQL_REVENUE = (
    "CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS BIGINT) / 10000.0"
)
SQL_CHARGE = (
    "CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))"
    " * (100 + CAST(ROUND(l_tax*100,0) AS BIGINT))) AS BIGINT) / 1000000.0"
)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a (small) input across all cores before CPU-heavy
    narrow work.  The driver's parquet tables are single row-group files,
    so their scans are ONE task; any expensive per-row compute downstream
    (hashing, 64-dim array math, pair joins) would otherwise run serially.
    On a many-file production lake this shuffle is unnecessary — it exists
    to make single-file inputs behave like partitioned ones."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys]) if keys else df.repartition(n)


def key_offset(df: DataFrame, key: str) -> DataFrame:
    """1-row frame whose ``__off`` column is the smallest power of 10
    with MORE digits than ``max(key)`` — the scale-safe namespacing
    offset for synthetic re-insert/re-upload fixtures (CDC inserts,
    snapshot re-inserts, re-uploaded duplicates).

    The r11 subtree-width lesson applied to offsets: a fixed literal
    like ``k + 10_000_000`` silently COLLIDES with real keys once the
    corpus outgrows it, and because the oracle shares the literal the
    parity gate can never see it — the bug class only a scale audit
    catches.  Deriving the offset from the key's own width removes the
    cliff at every scale factor.  Spelled in pure string/int arithmetic
    (``'1' || repeat('0', width)``) — exact at any int64 width, bit-
    identical cross-engine, no floating-point POWER.  Usage:
    ``df.crossJoin(F.broadcast(key_offset(df, "k")))`` then
    ``F.col("k") + F.col("__off")``; oracle twin:
    ``(SELECT CAST('1' || repeat('0', LENGTH(CAST(MAX(k) AS VARCHAR)))
    AS BIGINT) FROM t)``.

    CEILING: once ``max(key)`` has 19 digits (≥10^18) the computed
    offset exceeds int64 — Spark's string→bigint cast yields NULL
    (silently nulling every re-inserted key) while DuckDB errors, a
    divergent silent-corruption edge.  The guard below turns that into
    a loud failure on the Spark side too: the offset must be a
    positive bigint.  Synthetic-fixture keys above 10^18 need a wider
    type (decimal(38,0)) on BOTH engines — not supported here because
    no driver fixture is within 10^8 of the cliff."""
    off = (
        f"cast(concat('1', repeat('0', length(cast(max({key}) as string))))"
        " as bigint)"
    )
    # loud-failure guard (not a prunable side column: folded into the one
    # output expression so Catalyst cannot optimize the check away)
    return df.agg(
        F.expr(
            f"CASE WHEN {off} IS NULL OR {off} <= 0 THEN"
            " CAST(raise_error('key_offset overflow: max(key) has >=19"
            " digits, offset exceeds int64 — widen to decimal(38,0) on"
            " both engines') AS BIGINT)"
            f" ELSE {off} END"
        ).alias("__off")
    )

