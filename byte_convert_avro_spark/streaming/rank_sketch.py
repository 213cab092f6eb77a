"""Streaming mergeable rank/quantile sketch — the cross-batch twin of
``operators/sketch.rank_sketch_grouped``.

The batch sketch keeps, per group, the k rows with the smallest content
hash; because the bottom-k of a union is computable from any parts'
bottom-k's, the SAME sketch can be maintained incrementally: each
micro-batch's rows merge into the state's k-bounded tail and the result
is bit-identical to sketching the whole corpus in one pass — which is
exactly the property the oracle-gated query pins (the final emission
must equal the batch/SQL bottom-k spelling).

State per group is O(k) (three parallel arrays: hash, id, value) and
NEVER grows with stream volume — the streaming-percentile-monitoring
shape: a dashboard reads the latest emission's quantiles per group
while the state stays bounded forever.  NoTimeout, like
``running_user_totals``: the sketch is a lifetime accumulator, no
eviction semantics, no watermark needed.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from byte_convert_avro_spark.functions import md5_long

SKETCH_K = 64

OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("k_used", T.LongType()),
        T.StructField("smp", T.ArrayType(T.DoubleType())),
    ]
)

#: bottom-k tail carried between micro-batches, parallel-array form
STATE_SCHEMA = T.StructType(
    [
        T.StructField("hvs", T.ArrayType(T.LongType())),
        T.StructField("ids", T.ArrayType(T.StringType())),
        T.StructField("vs", T.ArrayType(T.DoubleType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _merge_bottomk(
    key: tuple, batches: "Iterator[pd.DataFrame]", state: "GroupState"
) -> "Iterator[pd.DataFrame]":
    """Merge each micro-batch's (hv, id, v) rows into the k-bounded
    bottom-k-by-(hv, id) tail and emit the cumulative sketch.  The sort
    key (hv, then id) matches the operator and the oracle exactly; ids
    are ASCII digits, so Python's string order == both engines' binary
    order."""
    (etype,) = key
    tail: list[tuple[int, str, float]] = []
    n_seen = 0
    if state.exists:
        hvs, ids, vs, n_seen = state.get
        tail = list(zip(hvs, ids, vs))
    for pdf in batches:
        n_seen += len(pdf)
        for hv, rid, v in zip(pdf["hv"], pdf["id"], pdf["v"]):
            tail.append((int(hv), str(rid), float(v)))
    tail.sort(key=lambda t: (t[0], t[1]))
    tail = tail[:SKETCH_K]
    state.update(
        (
            [t[0] for t in tail],
            [t[1] for t in tail],
            [t[2] for t in tail],
            n_seen,
        )
    )
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_seen": [n_seen],
            "k_used": [len(tail)],
            "smp": [sorted(t[2] for t in tail)],
        }
    )


def streaming_rank_sketch(events: DataFrame, k: int = SKETCH_K) -> DataFrame:
    """Per-event-type streaming quantile sketch.  The hash is computed
    JVM-side BEFORE the stateful stage (same md5 ``:rs`` salt as the
    batch operator) so the Python state function only merges pre-hashed
    rows; NULL values are excluded (a NULL has no rank), mirroring the
    batch operator's filter."""
    assert k == SKETCH_K, "state schema is fixed at SKETCH_K"
    hv = md5_long(F.concat(F.col("event_id").cast("string"), F.lit(":rs")), 13)
    ev = (
        events.filter(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            hv.alias("hv"),
            F.col("event_id").cast("string").alias("id"),
            F.col("value").cast("double").alias("v"),
        )
    )
    return ev.groupBy("event_type").applyInPandasWithState(
        _merge_bottomk,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
