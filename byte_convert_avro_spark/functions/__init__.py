"""Scalar/column function library — pure Catalyst expressions, importable
as ``from byte_convert_avro_spark import functions as BF``.

The reference has no scalar-function surface (SURVEY.md §2: "scalar
function library ✗" — its only computation is the decode map).  This
module is the engine's curated column vocabulary: every function returns
a ``Column`` built from ``pyspark.sql.functions`` primitives, so all of
them stay inside whole-stage codegen (no Python in any of these paths).
``md5_long`` is the one content-stable hash (md5 hex digits read as a
long) that sampling, sharding and the sketches share; ``hash_bucket`` is
its ``% mod`` form.
DataFrame-shaped operators (dedup, ANN search, as-of join, …) live in
``operators/``; wire-format expressions in ``wire.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from byte_convert_avro_spark.wire import (  # noqa: F401 — wire vocabulary
    body,
    has_magic_byte,
    has_min_length,
    is_valid_wire,
    schema_id,
)

__all__ = [
    "ordered_fold",
    "bounded_ordered_agg",
    "ORDERED_FOLD_CHUNK",
    # wire
    "is_valid_wire", "has_magic_byte", "has_min_length", "schema_id", "body",
    # vectors
    "dot", "l2_norm", "cosine_similarity", "l2_distance",
    # text
    "n_tokens", "n_words", "punct_ratio", "uppercase_ratio", "content_hash",
    # content-stable hash
    "md5_long", "hash_bucket",
    # time
    "epoch_us", "time_bucket",
]


# -- vector math over array<numeric> columns --------------------------------

def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length array columns (JVM-side fold)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(v: Column | str) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a, b); NULL-safe only insofar as inputs are non-null arrays."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# -- text -------------------------------------------------------------------

#: BPE-ish token pattern shared with operators/text.py
TOKEN_PATTERN = r"\w+|[^\w\s]"


def n_tokens(text: Column | str) -> Column:
    """Token count under the BPE-ish regex (words + single symbols)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def n_words(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(text, r"\s+"))


def punct_ratio(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(F.length(text), F.lit(1))


def uppercase_ratio(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    lowered = F.regexp_replace(text, r"[A-Z]", "")
    return (F.length(text) - F.length(lowered)) / F.greatest(F.length(text), F.lit(1))


def content_hash(text: Column | str) -> Column:
    """md5 content key — uniform 128-bit dedup/shuffle key."""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(text)


# -- content-stable hash ----------------------------------------------------

def md5_long(col: Column | str, n: int = 8, start: int = 1) -> Column:
    """THE content-stable hash: ``n`` hex digits of
    ``md5(CAST(col AS STRING))`` from 1-based digit ``start``, read as a
    long.  Sampling, sharding, the sketches (HLL, KMV, count-min,
    count-sketch, Misra-Gries, rank sketch) and the media fixtures all
    derive from it, so every Spark value hash-matches its DuckDB twin
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), start, n))::BIGINT``.
    ``n <= 15`` fits a long (16 digits can exceed it).  Callers salt
    ``col`` themselves (``F.concat(x, F.lit(":cm0"))``) and reduce with
    their own ``%``, ``pmod`` or ``bitwiseAND``.  On string input the
    cast is a no-op the optimizer drops, so the plan is the bare
    ``conv(substring(md5(col)))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), start, n), 16, 10).cast("long")


def hash_bucket(col: Column | str, mod: int) -> Column:
    """Content-stable uniform bucket in [0, mod): ``md5_long(col) % mod``.
    THE reproducible-sampling primitive — split assignment, sharding,
    sampling quotas, and decontamination's train/bench membership all
    derive from this ONE definition, itself the 8-digit :func:`md5_long`,
    so they stay mutually consistent.  DuckDB twin:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 8))::BIGINT % mod``."""
    return md5_long(col) % mod


# -- event time -------------------------------------------------------------

def epoch_us(ts_ns: Column | str) -> Column:
    """Driver events carry epoch-ns longs; all engine time math is integer
    microseconds (cross-engine-deterministic, queries/base.py).  Integer
    ``div`` — float division of epoch-ns longs exceeds double's 53-bit
    mantissa and drifts by whole microseconds."""
    ts_ns = F.col(ts_ns) if isinstance(ts_ns, str) else ts_ns
    return F.call_function("div", ts_ns, F.lit(1000))


def time_bucket(ts_us: Column | str, width_us: int) -> Column:
    """Integer tumbling-bucket index (floor division, no floats)."""
    ts_us = F.col(ts_us) if isinstance(ts_us, str) else ts_us
    return F.call_function("div", ts_us, F.lit(width_us))


def ordered_fold(sort_key: str, value: str) -> Column:
    """Deterministic aggregate double sum: collect (key, value) pairs,
    sort by key, fold left-to-right with init 0.0.  THE portable
    discipline for cross-engine sums of arbitrary doubles: IEEE addition
    in a fixed order is bit-identical everywhere, while
    ``CAST(double AS DECIMAL)`` is NOT (Spark and DuckDB round the binary
    expansion differently at high scales), and 0.0 + x1 == x1 exactly, so
    it also matches an init-less first-element fold (DuckDB
    ``list_reduce(list(x ORDER BY k), (a, b) -> a + b)``).

    MEMORY CONTRACT: this materializes the whole group as ONE in-task
    array, so use it only where the group size is bounded BY CONSTRUCTION
    (e.g. per-vector folds over <= 64 dims, or per-chunk folds inside
    :func:`bounded_ordered_agg`).  For groups whose size grows with the
    corpus (per-dimension corpus sums, centroid updates, hub-node
    in-degree sums) use :func:`bounded_ordered_agg` — same determinism,
    arrays bounded at the chunk size."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(sort_key, value))),
            lambda s: s[value],
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


#: Default chunk bound for :func:`bounded_ordered_agg`.  4096 doubles =
#: 32 KiB per level-1 array — far under any executor-task budget; a group
#: of 10^9 members still leaves only ~250k chunk sums (2 MB) at level 2.
#: Tune toward sqrt(max group size) when both levels must balance.
ORDERED_FOLD_CHUNK = 4096


def bounded_ordered_agg(
    df,
    group_cols: list[str],
    sort_key: str,
    value: str,
    *,
    chunk: int = ORDERED_FOLD_CHUNK,
    chunk_aggs: dict[str, Column] | None = None,
    final_aggs: dict[str, Column] | None = None,
):
    """Bit-deterministic grouped double sum with BOUNDED per-task arrays —
    the 100 TB-safe form of :func:`ordered_fold` (which materializes one
    array per group, a scale-killer when groups grow with the corpus).

    Two-level chunked fold: rows group by ``(group_cols, sort_key div
    chunk)`` and fold in ``sort_key`` order within each chunk (array
    bounded at ``chunk`` elements), then the chunk sums fold in chunk-index
    order per group (one array element per non-empty chunk).  Both levels
    are fixed-order IEEE folds, so the result is reproducible across
    partitionings, engines and reruns — it is NOT the same float as the
    flat single-level fold (float addition is non-associative), so the
    DuckDB oracle must spell the SAME two-level chunking::

        ch AS (SELECT g, k // {chunk} AS chk,
                      list_reduce(list(x ORDER BY k), (a, b) -> a + b) AS csum,
                      COUNT(*) AS cnt
               FROM src GROUP BY g, chk)
        SELECT g, list_reduce(list(csum ORDER BY chk), (a, b) -> a + b) AS osum,
               CAST(SUM(cnt) AS BIGINT) AS ocnt
        FROM ch GROUP BY g

    REQUIRES: ``sort_key`` is a NON-NEGATIVE INTEGER column (Spark ``div``
    truncates toward zero, DuckDB ``//`` floors — identical only for
    non-negatives), UNIQUE within each group (uniqueness is what bounds a
    chunk at ``chunk`` members).

    Returns ``df.groupBy(group_cols)`` with columns ``osum`` (double,
    the deterministic sum) and ``ocnt`` (long, group row count), plus any
    ``final_aggs``.  ``chunk_aggs`` add per-(group, chunk) aggregates
    (name -> Column over the input rows); ``final_aggs`` aggregate the
    chunk rows per group and may reference ``chunk_aggs`` outputs (e.g.
    ``chunk_aggs={"mn": F.min("x")}, final_aggs={"min_x": F.min("mn")}``
    re-aggregates an order-free MIN exactly).

    Cost note: one extra (tiny) shuffle versus the flat fold — level 2
    moves only the per-chunk sums, |groups| x |non-empty chunks| rows."""
    if chunk < 1:
        raise ValueError(f"chunk must be >= 1, got {chunk}")
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    try:
        sort_type = df.schema[sort_key].dataType
    except KeyError:
        raise TypeError(
            f"bounded_ordered_agg sort_key {sort_key!r} not in {df.columns}"
        ) from None
    if not isinstance(sort_type, (ByteType, ShortType, IntegerType, LongType)):
        # Enforced at plan time: a float/string key would cast to NULL (or
        # ANSI-error) deep inside the job, and a NEGATIVE integer key
        # diverges from the DuckDB oracle silently (Spark `div` truncates
        # toward zero, DuckDB `//` floors — keys in [-chunk, -1] land in
        # chunk 0 alongside [0, chunk)).  Non-negativity itself is a data
        # property the caller owns (documented REQUIRES above).
        raise TypeError(
            f"bounded_ordered_agg requires an integral sort_key; "
            f"{sort_key!r} is {sort_type.simpleString()}"
        )
    chunk_aggs = chunk_aggs or {}
    final_aggs = final_aggs or {}
    reserved = {"__chunk", "__csum", "__cnt", "osum", "ocnt"}
    clashes = (
        (reserved & set(df.columns))
        | (reserved & set(group_cols))
        | (reserved & set(chunk_aggs))
        | (reserved & set(final_aggs))
    )
    if clashes:
        raise ValueError(
            f"bounded_ordered_agg reserves column names {sorted(reserved)}; "
            f"rename the clashing input/agg columns: {sorted(clashes)}"
        )
    chk = F.call_function("div", F.col(sort_key).cast("long"), F.lit(chunk))
    lvl1 = df.groupBy(*group_cols, chk.alias("__chunk")).agg(
        ordered_fold(sort_key, value).alias("__csum"),
        F.count("*").alias("__cnt"),
        *[c.alias(n) for n, c in chunk_aggs.items()],
    )
    return lvl1.groupBy(*group_cols).agg(
        ordered_fold("__chunk", "__csum").alias("osum"),
        F.sum("__cnt").alias("ocnt"),
        *[c.alias(n) for n, c in final_aggs.items()],
    )
