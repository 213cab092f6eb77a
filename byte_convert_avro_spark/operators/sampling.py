"""Weighted sampling as a bounded-state DataFrame operator.

Weighted bottom-k sampling without replacement: give item i (integer
weight w_i) the key ``min_{j=1..w_i} h(id_i, j)`` — the minimum of w_i
independent uniform hashes — and keep the k smallest keys per stratum.
P(item has the overall minimum) = w_i / Σw, and conditioning on removal
recurses, so this IS weighted sampling without replacement (the
integer-weight specialization of Efraimidis–Spirakis bottom-k, where
the float key u^(1/w) is replaced by an exact min of w draws — same
distribution for integer w, probability-integral-transform argument).

Why the integer spelling: u^(1/w) needs ``pow``/``ln``, whose last-ulp
behavior differs between JVM and libm (the HLL lesson,
``operators/sketch.py``) — a cross-engine gate on float keys would be
flaky by construction.  The md5-prefix hash is the repo-wide portable
uniform draw; every key here is an exact int64, so Spark and DuckDB
produce bit-identical samples.

Scale: the expansion is Σw rows (weights are domain-bounded small ints
here — quantities, counts); the min per item collapses with map-side
combine before any shuffle, and the top-k per stratum is one window
over |items| rows.  For unbounded weights the float-key form (one row
per item, no expansion) is the right trade — on a single engine its
determinism caveat disappears; disclosed here rather than gated.

Reference parity note: the reference (AvroTransform.java, per-record
SMT) has no sampling surface; this is the analytics/LLM-pipeline
addendum (weighted corpus subsampling: sample documents proportional
to quality score / token count is a standard training-mix step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import md5_long


def weighted_bottom_k(
    df: DataFrame,
    strata: list[str],
    id_col: str,
    weight_col: str,
    k: int,
    max_weight: int = 1000,
) -> DataFrame:
    """Per-stratum weighted sample of ``k`` items without replacement.

    ``weight_col`` must be a positive integer column; duplicate
    (strata, id) observations SUM their weights first (an item seen
    twice has twice the mass — and the pre-aggregation is what makes
    ids unique per stratum, so the (key, id) sort is a TOTAL order and
    the sample deterministic; without it, equal-key duplicates with
    different weights made row_number engine-dependent).  The summed
    weight is bounded by ``max_weight`` (the expansion guard — Σw
    drives the cost; a million-weight item would silently explode the
    stage, so it raises instead).  Rows with NULL or non-positive
    weight are excluded (not members).  Output: strata + ``(id,
    weight, sample_key, rank)`` with rank 1..k by (min-hash key ASC,
    id ASC)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window as W

    base = (
        df.select(*strata, id_col, weight_col)
        .filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .groupBy(*strata, id_col)
        .agg(F.sum(weight_col).cast("long").alias("_w"))
    )
    # expansion guard: one tiny agg, fails fast instead of exploding
    wmax = base.agg(F.max("_w")).first()[0]
    if wmax is not None and wmax > max_weight:
        raise ValueError(
            f"summed {weight_col} reaches {wmax} > max_weight={max_weight}; "
            "use the float-key single-engine form for unbounded weights"
        )
    j = F.explode(F.sequence(F.lit(1), F.col("_w").cast("int"))).alias("_j")
    h = md5_long(
        F.concat_ws(":", F.col(id_col).cast("string"), F.col("_j").cast("string"))
    )
    keyed = (
        base.select(*strata, id_col, "_w", j)
        .select(*strata, id_col, "_w", h.alias("_h"))
        .groupBy(*strata, id_col, "_w")
        .agg(F.min("_h").alias("sample_key"))
    )
    rk = F.row_number().over(
        W.partitionBy(*strata).orderBy("sample_key", id_col)
    )
    return (
        keyed.withColumn("rank", rk)
        .filter(F.col("rank") <= k)
        .select(
            *strata,
            id_col,
            F.col("_w").alias("weight"),
            "sample_key",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def weighted_bottom_k_sql(
    table_expr: str,
    strata: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> str:
    """DuckDB twin of :func:`weighted_bottom_k` (same md5 draw, same
    min-of-w key, same window) for oracle construction."""
    keys_sel = f"{strata}, " if strata else ""
    part = f"PARTITION BY {strata}" if strata else ""
    return f"""
    SELECT {keys_sel}{id_col}, weight, sample_key, rank FROM (
      SELECT {keys_sel}{id_col}, weight, sample_key,
             CAST(ROW_NUMBER() OVER ({part}
               ORDER BY sample_key, {id_col}) AS BIGINT) AS rank
      FROM (
        SELECT {keys_sel}{id_col}, weight,
               MIN(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || ':'
                 || CAST(j AS VARCHAR)), 1, 8))::BIGINT) AS sample_key
        FROM (
          SELECT {keys_sel}{id_col}, weight,
                 unnest(generate_series(1, weight)) AS j
          FROM (
            SELECT {keys_sel}{id_col},
                   CAST(SUM({weight_col}) AS BIGINT) AS weight
            FROM {table_expr}
            WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
            GROUP BY {keys_sel}{id_col}
          )
        )
        GROUP BY {keys_sel}{id_col}, weight
      )
    ) WHERE rank <= {k}
    """
