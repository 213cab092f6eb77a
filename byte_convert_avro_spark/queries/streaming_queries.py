"""Oracle-checked Structured Streaming queries.

Each entry runs a REAL streaming job (file source over the driver's events
parquet -> windowed aggregation -> memory sink, drained with
``processAllAvailable``) and returns the materialized result, so the
driver's DuckDB hash-compare exercises the streaming engine itself, not a
batch re-expression.  Complete output mode emits every window, which makes
the finite-input streaming result equal the batch aggregation — that
equality IS the correctness statement.

(The append-mode/watermark/late-data behaviors that can't equal a batch
oracle by construction are pinned in ``tests/test_streaming.py`` instead.)

Two helpers carry the harness: ``streaming.drain_to_memory`` runs a
finite stream to a memory sink, stops it and returns the table, and
``replay_shards`` replays ordered one-file shards one per trigger
(``maxFilesPerTrigger=1``) and removes them afterwards; ``hash_shards``
makes the four content-hashed shards most of them replay.  The
``foreachBatch`` OCF sink (``streaming_ocf_sink_daily_totals``) is the
one query that drives its own sink.

Scale notes: these plans are the production shape — watermark-less only
because the oracle needs every window; a deployment adds
``withWatermark`` (see ``streaming/windows.py``) and swaps the memory
sink for Kafka/Delta.  State is per (window × event_type): tiny.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import md5_long
from byte_convert_avro_spark.queries.base import (
    dsum,
    events_ts_to_ns,
    hash_bucket,
    raw_events_schema,
    register,
    scratch_dir,
    t,
)
from byte_convert_avro_spark.streaming.pipeline import drain_to_memory

US_PER_HOUR = 3_600_000_000


def write_ordered_shards(frames, prefix: str) -> str:
    """Write each DataFrame as ONE parquet file in a fresh temp dir with
    strictly increasing modification times — the deterministic
    micro-batch harness shared by every multi-trigger streaming query
    (file sources batch by mtime; ``maxFilesPerTrigger=1`` then replays
    the shards in exactly this order).  Caller removes the directory;
    ``replay_shards`` does both."""
    import glob
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    for i, fr in enumerate(frames):
        tmp = os.path.join(d, "_w")
        fr.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(d, f"{i:03d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))
    return d


@contextmanager
def replay_shards(spark: SparkSession, frames, schema, prefix: str):
    """Write ``frames`` as ordered one-file shards, yield the stream that
    replays them one file per trigger (``maxFilesPerTrigger=1``), and
    remove the shard directory on exit."""
    d = write_ordered_shards(frames, prefix)
    try:
        yield (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def hash_shards(df: DataFrame, key: str) -> list[DataFrame]:
    """``df`` split into four shards by ``hash_bucket(key, 4)`` — every
    row in exactly one shard, each shard a genuine micro-batch under
    ``replay_shards``."""
    b = hash_bucket(key, 4).cast("int")
    return [df.filter(b == i) for i in range(4)]


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    # The stream must declare the RAW file schema (ts may be a timestamp
    # or a ns-long depending on the driver's parquet generation), then
    # normalize to ns-longs exactly like the batch loader does.  The
    # schema comes from the stash t() fills at batch-load time (which also
    # sets the nanosAsLong + UTC confs) — no extra footer read per query.
    raw_schema = raw_events_schema(spark, sf)
    # Two on-disk layouts exist: the driver's testdata keeps ONE file
    # literally named events.parquet inside the sf dir, while any
    # Spark-written lake (tools/scale_data.py, production) makes
    # events.parquet a DIRECTORY of part files.  pathGlobFilter matches
    # LEAF file names only, so the glob spelling silently streams ZERO
    # rows on the directory layout (r13 sf1 audit find — every
    # streaming gate read an empty stream and the oracle side exposed
    # it).  The directory branch is the production-shaped one: the
    # file-stream source natively lists a directory.
    table_path = os.path.join(sf, "events.parquet")
    if os.path.isdir(table_path):
        stream = spark.readStream.schema(raw_schema).parquet(table_path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            # file source wants a directory: stream the sf dir, globbed
            # to the single events file
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
    return events_ts_to_ns(stream).withColumn(
        "ts_ts", F.timestamp_micros(F.expr("ts DIV 1000"))
    )


# ---------------------------------------------------------------------------
@register(
    "streaming_hourly_tumbling",
    f"""
    SELECT strftime(make_timestamp((epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR}),
                    '%Y-%m-%d %H:%M') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_hourly_tumbling(spark: SparkSession, sf: str):
    """Tumbling 1h windowed agg executed BY THE STREAMING ENGINE (complete
    mode, memory sink) — the streaming twin of ``events_hourly_tumbling``,
    hash-checked against the identical batch SQL."""
    ev = _events_stream(spark, sf)
    agg = (
        ev.groupBy(F.window("ts_ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
@register(
    "streaming_sliding_counts",
    """
    WITH k AS (SELECT unnest(generate_series(0, 3)) AS k)
    SELECT ((epoch_us(ts) // 900000000) - k) * 900000000 AS window_start_us,
           event_type,
           COUNT(*) AS n_events
    FROM events CROSS JOIN k
    GROUP BY 1, 2
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf: str):
    """Sliding 1h/15min streaming agg (each event in exactly 4 windows)."""
    ev = _events_stream(spark, sf)
    agg = (
        ev.groupBy(F.window("ts_ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            (F.col("w.start").cast("long") * 1_000_000).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
@register(
    "streaming_session_windows",
    """
    WITH flagged AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                       ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def streaming_session_windows(spark: SparkSession, sf: str):
    """Native ``session_window`` (30-min gap) run by the streaming engine
    in complete mode — hash-checked against the batch gaps-and-islands
    SQL.  Proves the merging-window state logic produces exactly the
    relational sessionization semantics."""
    ev = _events_stream(spark, sf).withColumn("ts_us", F.expr("ts DIV 1000"))
    agg = (
        ev.groupBy(F.session_window("ts_ts", "30 minutes").alias("s"), "user_id")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id", "session_start_us", "session_end_us", "n_events", "session_value"
        )
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
@register(
    "streaming_dedup_events",
    """
    SELECT COUNT(*) AS n_unique,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    """,
)
def streaming_dedup_events(spark: SparkSession, sf: str):
    """Streaming exact-dedup executed BY THE STREAMING ENGINE: the events
    file is streamed TWICE (two independent file sources unioned, so every
    record arrives duplicated), deduped on event_id with
    ``dropDuplicatesWithinWatermark`` (streaming/dedup.py), drained to a
    memory sink, and aggregated — the result must equal the aggregate of
    the ORIGINAL table exactly, which is only true if the streaming state
    dropped every duplicate and nothing else.  Duplicates are exact
    copies, so which copy survives cannot affect the hash."""
    from byte_convert_avro_spark.streaming import dedup_stream

    # two independent source instances of the same file = every record
    # arrives twice; dedup_stream's with_event_time overwrites the ts_ts
    # column _events_stream already added, so reuse is safe
    doubled = _events_stream(spark, sf).union(_events_stream(spark, sf))
    dd = dedup_stream(doubled, "event_id", watermark="90 days")
    return drain_to_memory(dd).agg(
        F.count("*").alias("n_unique"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
@register(
    "streaming_late_data_watermark",
    """
    -- The batch twin of the watermark's drop/emit decisions, derived from
    -- the harness construction (every boundary is data-independent):
    --   engineered event time = hour slot s = md5-bucket(event_id) % 48,
    --   second-in-hour < 3600, with EVERY slot-39 event pinned to second
    --   3599, so block 4's max is exactly 39h59m59s.
    --   arrival order: [B4 - f, {f}, B0, B1, B2, B3, B5] (f = one slot-39
    --   row; its timestamp EQUALS the remaining B4 max, so the running
    --   max never moves between those batches and the one-batch watermark
    --   propagation lag cannot change any verdict).
    --   watermark delay 12h =>
    --   * late shards (B0..B3, slots 0..31) filter against
    --     wm = 39h59m59s - 12h = 27h59m59s: slot s DROPPED iff
    --     (s+1)*3600 <= 27*3600+3599  <=>  s <= 26; slots 27..31 survive
    --     (their windows also escape eviction by exactly the pinned 1s).
    --   * final watermark = 47h + sec_max - 12h with 0 <= sec_max <= 3598
    --     => a window EMITS iff (s+1)*3600 <= 35*3600 + sec_max
    --     <=> s <= 34, for ANY sec_max.
    -- Hence the append-mode sink holds exactly slots 27..34 at full
    -- per-slot counts.
    WITH shaped AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 48 AS slot,
             value
      FROM events
    )
    SELECT CAST(slot AS INT) AS hour_slot,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM shaped
    WHERE slot BETWEEN 27 AND 34
    GROUP BY slot
    """,
)
def streaming_late_data_watermark(spark: SparkSession, sf: str):
    """ADVERSARIAL late-data evidence: micro-batches arrive in shuffled
    event-time order (one file per trigger over out-of-order shards) under
    a tight 12h watermark, and the append-mode result proves the engine
    (a) DROPPED exactly the rows later than the watermark — slots <= 26,
    whose windows sat more than 12h behind the already-seen maximum when
    they arrived — while late-but-inside-watermark slots 27..31 were
    accepted at full counts, and (b) EMITTED exactly the windows the final
    watermark closed (slots <= 34; 35..47 stay open forever).  Event
    times are ENGINEERED from event_id hash buckets (48 hour slots, six
    8-hour blocks, block 4 first, then the old blocks, then block 5) so
    both drop and emit boundaries are provably data-independent — the
    full derivation sits in the oracle SQL.  The boundary mechanics
    (ms-truncated watermark, non-strict window_end <= wm on both drop and
    evict, one-batch filter lag neutralized by the pinned equal-max
    shard) were pinned empirically; tests/test_streaming.py asserts a
    named late row is excluded."""
    ev = t(spark, sf, "events")
    slot = hash_bucket("event_id", 48).cast("int")
    shaped = ev.select("event_id", F.col("value").alias("value"), slot.alias("slot"))
    sec = (
        F.when(F.col("slot") == 39, F.lit(3599))
        .otherwise(hash_bucket(F.col("event_id") * 1000003, 3599).cast("int"))
    )
    shaped = shaped.withColumn(
        "ts_us", (F.col("slot") * 3600 + sec).cast("long") * F.lit(1_000_000)
    )

    # structural guards the boundary derivation depends on
    occ = {
        r.b: (r.n, r.min_id)
        for r in shaped.groupBy((F.col("slot") == 39).alias("b"))
        .agg(F.count("*").alias("n"), F.min("event_id").alias("min_id"))
        .collect()
    }
    n39 = occ.get(True, (0, None))[0]
    has47 = shaped.filter(F.col("slot") == 47).limit(1).count()
    if n39 < 2 or not has47:
        raise ValueError(
            "late-data harness needs >= 2 slot-39 events and a nonempty "
            f"slot 47 (got {n39} and {has47}) — corpus too small"
        )
    f_id = occ[True][1]  # min event_id among slot-39 rows

    block = F.floor(F.col("slot") / 8)
    shards = [
        shaped.filter((block == 4) & (F.col("event_id") != f_id)),  # B4 - f
        shaped.filter(F.col("event_id") == f_id),                    # f (same max)
        shaped.filter(block == 0),
        shaped.filter(block == 1),
        shaped.filter(block == 2),
        shaped.filter(block == 3),
        shaped.filter(block == 5),
    ]
    with replay_shards(
        spark,
        [sh.select("event_id", "value", "ts_us") for sh in shards],
        "event_id long, value double, ts_us long",
        "late_shards_",
    ) as stream:
        agg = (
            stream.withColumn("ts_ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts_ts", "12 hours")
            .groupBy(F.window("ts_ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
            .select(
                (F.col("w.start").cast("long") / 3600).cast("int").alias("hour_slot"),
                "n_events",
                "total_value",
            )
        )
        return drain_to_memory(agg)


# ---------------------------------------------------------------------------
@register(
    "streaming_view_purchase_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           epoch_us(v.ts) AS view_ts_us, epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
    """,
)
def streaming_view_purchase_join(spark: SparkSession, sf: str):
    """STREAM-STREAM inner join executed by the streaming engine: every
    (view, purchase) pair for the same user with the purchase at most 30
    minutes after the view — two independent file-source streams joined
    on user_id + an event-time range, drained append-mode to a memory
    sink.  The finite-input result must equal the batch self-join
    exactly, which holds only if the join state correctly buffered BOTH
    sides until their matches arrived.

    Scale notes: this is the production shape — equality key (user_id)
    is the shuffle/state key; both sides carry watermarks and the range
    condition is on the event-time column, which is what lets the state
    store EVICT buffered rows older than watermark - 30min instead of
    growing forever (the 90-day watermark here is deliberately larger
    than the dataset's span because the oracle needs every pair)."""
    views = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.expr("ts DIV 1000").alias("view_ts_us"),
            F.col("ts_ts").alias("v_time"),
        )
        .withWatermark("v_time", "90 days")
    )
    purchases = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.expr("ts DIV 1000").alias("purchase_ts_us"),
            F.col("ts_ts").alias("p_time"),
        )
        .withWatermark("p_time", "90 days")
    )
    j = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_time") >= F.col("v_time"))
        & (F.col("p_time") <= F.col("v_time") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        "view_ts_us",
        "purchase_ts_us",
        (F.col("purchase_ts_us") - F.col("view_ts_us")).alias("gap_us"),
    )
    return drain_to_memory(j)


# ---------------------------------------------------------------------------
@register(
    "streaming_static_user_enrichment",
    """
    WITH lifetime AS (
      SELECT user_id,
             COUNT(*) AS lifetime_events,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS lifetime_cents
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           CAST(ROUND(e.value * 100, 0) AS BIGINT) AS value_cents,
           l.lifetime_events, l.lifetime_cents
    FROM events e JOIN lifetime l ON l.user_id = e.user_id
    WHERE CAST(ROUND(e.value * 100, 0) AS BIGINT) * 10 > l.lifetime_cents
    """,
)
def streaming_static_user_enrichment(spark: SparkSession, sf: str):
    """STREAM-STATIC join — the production enrichment shape the streaming
    family lacked: the events file STREAM joins a STATIC per-user
    lifetime aggregate (computed batch-side), keeping events worth more
    than 10% of their user's lifetime spend (integer-cent
    cross-multiplied compare — no float threshold).  Stateless join, so
    no watermark is needed and the append-mode result must equal the
    batch join exactly.  Scale: the static side is a broadcast-size
    per-user rollup; each micro-batch hash-joins against it map-side —
    no streaming state at all (contrast streaming_view_purchase_join,
    where BOTH sides are streams and state must buffer/evict)."""
    static = (
        t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("lifetime_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("lifetime_cents"),
        )
    )
    ev = _events_stream(spark, sf).select(
        "event_id",
        F.col("user_id").alias("u2"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    j = (
        ev.join(F.broadcast(static), ev.u2 == static.user_id)
        .filter(F.col("value_cents") * 10 > F.col("lifetime_cents"))
        .select(
            "event_id", "user_id", "event_type", "value_cents",
            "lifetime_events", "lifetime_cents",
        )
    )
    return drain_to_memory(j)


# ---------------------------------------------------------------------------
@register(
    "streaming_stateful_user_totals",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents,
           MIN(epoch_us(ts)) AS first_ts_us,
           MAX(epoch_us(ts)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(spark: SparkSession, sf: str):
    """CUSTOM STATEFUL operator under the oracle gate: per-user running
    totals accumulated across micro-batches by ``applyInPandasWithState``
    (streaming/sessions.running_user_totals) — the events file arrives as
    FOUR hash-sharded files, one per trigger, so every user's state is
    genuinely created, re-read, and updated across batches; each batch
    emits the user's cumulative row (update mode) and the LAST cumulative
    row per user must equal the batch GROUP BY exactly.  All state
    arithmetic is integer (cents, µs), so the final row is exact however
    the batches sliced.  The last row is selected with max(struct(...)) —
    n_events strictly increases per emission, so the struct max IS the
    final state."""
    from byte_convert_avro_spark.streaming import running_user_totals

    ev = t(spark, sf, "events")
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "stateful_shards_"
    ) as stream:
        emitted = drain_to_memory(running_user_totals(stream), "update")
        final = F.max(
            F.struct("n_events", "total_cents", "first_ts_us", "last_ts_us")
        ).alias("_f")
        return (
            emitted.groupBy("user_id")
            .agg(final)
            .select(
                "user_id",
                F.col("_f.n_events").alias("n_events"),
                F.col("_f.total_cents").alias("total_cents"),
                F.col("_f.first_ts_us").alias("first_ts_us"),
                F.col("_f.last_ts_us").alias("last_ts_us"),
            )
        )


# ---------------------------------------------------------------------------
@register(
    "streaming_ocf_sink_daily_totals",
    """
    SELECT (epoch_us(ts) // 86400000000) AS day_idx,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_value_e2
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_ocf_sink_daily_totals(spark: SparkSession, sf: str):
    """STREAMING -> AVRO OCF SINK, end to end under the oracle gate: the
    events stream aggregates per (day, type) in update mode, and
    ``foreachBatch`` upserts each micro-batch's changed rows into
    per-batch OCF files keyed by group (latest batch wins per key — the
    idempotent-upsert discipline a transactional sink needs, realized
    here as read-back + changelog compaction over the batch id).  After
    the drain, ALL written OCF files are read back distributed and
    compacted to the final totals — equal to the batch aggregation.
    Exercises streaming update-mode output + the OCF writer + the
    latest-wins compaction in one pipeline.  Scale: each micro-batch
    writes only its CHANGED groups (update mode), files are
    per-partition, compaction is one struct-argmax groupBy."""
    from byte_convert_avro_spark.sources.avro_ocf import (
        read_avro_ocf,
        write_avro_ocf,
    )

    ev = _events_stream(spark, sf)
    agg = (
        ev.groupBy(
            F.expr("(ts DIV 1000) DIV 86400000000").alias("day_idx"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "total_value_e2"
            ),
        )
    )
    out_dir = scratch_dir("ocf_stream_")

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_avro_ocf(
            batch_df.withColumn("batch_id", F.lit(int(batch_id))),
            os.path.join(out_dir, f"batch={batch_id:06d}"),
            codec="deflate",
        )

    q = agg.writeStream.outputMode("update").foreachBatch(sink_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    allb = read_avro_ocf(spark, out_dir + "/*/*.avro")
    latest = F.max(
        F.struct("batch_id", "n_events", "total_value_e2")
    ).alias("_last")
    return (
        allb.groupBy("day_idx", "event_type")
        .agg(latest)
        .select(
            "day_idx",
            "event_type",
            F.col("_last.n_events").alias("n_events"),
            F.col("_last.total_value_e2").alias("total_value_e2"),
        )
    )


@contextmanager
def _two_sided_sentinel_streams(spark, sf: str, prefix: str):
    """Shared harness for the outer stream-stream joins: split events
    into view/purchase sides, append THREE far-future flush sentinels
    per side (watermark updates from batch N apply to batch N+1, and
    outer-row eviction lags one more batch — the third sentinel
    guarantees a batch that RUNS with the watermark already past every
    real row's match window), replay each side as ordered one-file
    shards, and yield (views_stream, purchases_stream); both shard
    directories go on exit.  Both streams carry a 1-minute watermark;
    sentinel rows are user -1 and must be filtered from the DRAINED
    table (never inside the streaming plan — a pre-watermark filter
    freezes the watermark)."""
    ev = events_ts_to_ns(t(spark, sf, "events"))
    shaped = ev.select(
        "event_id", "user_id", F.expr("ts DIV 1000").alias("ts_us"), "event_type"
    )
    max_us = shaped.agg(F.max("ts_us")).collect()[0][0]
    day_us = 86_400_000_000
    sent = [
        (-1, -1, max_us + 60 * day_us),
        (-2, -1, max_us + 120 * day_us),
        (-3, -1, max_us + 180 * day_us),
    ]

    schema = "event_id long, user_id long, ts_us long"

    def side(etype: str):
        real = shaped.filter(F.col("event_type") == etype).select(
            "event_id", "user_id", "ts_us"
        )
        frames = [real] + [spark.createDataFrame([x], schema) for x in sent]
        return replay_shards(spark, frames, schema, f"{prefix}{etype}_")

    def watermarked(stream, pfx: str):
        return stream.select(
            F.col("event_id").alias(f"{pfx}_id"),
            F.col("user_id").alias(f"{pfx}_user"),
            F.col("ts_us").alias(f"{pfx}_ts_us"),
            F.timestamp_micros("ts_us").alias(f"{pfx}_time"),
        ).withWatermark(f"{pfx}_time", "1 minute")

    with side("view") as views, side("purchase") as purchases:
        yield watermarked(views, "v"), watermarked(purchases, "p")


# ---------------------------------------------------------------------------
@register(
    "streaming_ocf_evolution_read",
    """
    WITH b AS (
      SELECT c_mktsegment, c_acctbal,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 2
               AS bucket
      FROM customer
    )
    SELECT CASE WHEN bucket = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
             AS balance_e2
    FROM b GROUP BY 1
    """,
)
def streaming_ocf_evolution_read(spark: SparkSession, sf: str):
    """STREAMING + FILE FORMAT + SCHEMA EVOLUTION in one pipeline: two
    generations of OCF files — an old v1 schema (no segment column) and
    the current v2 (with it) — land in a watched directory; the STREAM
    reads each arriving file through spec schema resolution under the v2
    reader schema (v1 rows take the declared ``'UNKNOWN'`` default), and
    a complete-mode aggregation equals the batch truth.  This is the
    lake-ingestion reality: late-arriving files written by old producers
    must land in the current shape without a backfill rewrite.
    Scale: one binaryFile task per arriving file; resolution compiles
    once per file, schema-sized."""
    import json

    from byte_convert_avro_spark.sources.avro_ocf import (
        read_avro_ocf,
        write_avro_ocf,
    )

    cust = t(spark, sf, "customer")
    b = hash_bucket("c_custkey", 2)
    root = scratch_dir("ocf_evo_")
    # generation 1: old producer, no segment column
    write_avro_ocf(
        cust.filter(b == 0).select("c_custkey", "c_acctbal"),
        os.path.join(root, "gen1"),
    )
    # generation 2: current producer
    write_avro_ocf(
        cust.filter(b == 1).select("c_custkey", "c_acctbal", "c_mktsegment"),
        os.path.join(root, "gen2"),
    )
    reader = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "c_custkey", "type": ["null", "long"]},
            {"name": "c_acctbal", "type": ["null", "double"]},
            {"name": "c_mktsegment", "type": ["null", "string"], "default": None},
        ],
    }
    stream = read_avro_ocf(
        spark, root + "/*/*.avro", reader_schema=json.dumps(reader), streaming=True
    )
    agg = stream.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment")
    ).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long"))
        .cast("long")
        .alias("balance_e2"),
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
@register(
    "streaming_append_closed_windows",
    f"""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events)
    SELECT (epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR} AS window_start_us,
           event_type,
           COUNT(*) AS n_events
    FROM events CROSS JOIN mx
    GROUP BY 1, 2, mx.m
    HAVING MAX((epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR}) + {US_PER_HOUR}
           <= mx.m - 600000000
    """,
)
def streaming_append_closed_windows(spark: SparkSession, sf: str):
    """APPEND-MODE + WATERMARK semantics under the oracle gate: a
    tumbling 1h aggregation with a 10-minute watermark emits a window
    ONLY once the watermark passes its end — after draining the finite
    stream, exactly the windows whose end <= max-event-time − 10min have
    been finalized; the trailing open window is withheld (the
    at-most-once-per-window append contract downstream sinks rely on).
    The oracle derives the same closed-window set relationally.  The
    complete-mode twins emit everything; THIS pins what append mode
    holds back."""
    ev = _events_stream(spark, sf)
    agg = (
        ev.withWatermark("ts_ts", "10 minutes")
        .groupBy(F.window("ts_ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            (F.col("w.start").cast("long") * 1_000_000).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    return drain_to_memory(agg)


# ---------------------------------------------------------------------------
@register(
    "streaming_left_outer_view_purchase",
    """
    WITH v AS (
      SELECT event_id AS view_id, user_id, epoch_us(ts) AS view_ts_us
      FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT event_id AS purchase_id, user_id AS p_user,
             epoch_us(ts) AS purchase_ts_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.view_id, v.user_id, v.view_ts_us,
           p.purchase_id, p.purchase_ts_us,
           p.purchase_ts_us - v.view_ts_us AS gap_us
    FROM v LEFT JOIN p
      ON p.p_user = v.user_id
     AND p.purchase_ts_us >= v.view_ts_us
     AND p.purchase_ts_us - v.view_ts_us <= 1800000000
    """,
)
def streaming_left_outer_view_purchase(spark: SparkSession, sf: str):
    """LEFT OUTER stream-stream join — the semantics the inner join
    (streaming_view_purchase_join) cannot express: every view emits,
    matched views with their <=30min purchases, UNMATCHED views with
    nulls — but an outer row may only emit once the watermark PROVES no
    match can still arrive, so this query exercises the state-eviction
    contract itself.  Harness: _two_sided_sentinel_streams (shared with
    the full-outer twin) feeds each side as ordered shards with three
    far-future flush sentinels; the finite-input result must equal the
    batch LEFT JOIN exactly.

    Scale notes: equality key (user_id) is the shuffle/state key; the
    event-time range bounds both sides' buffered state to the window +
    delay, and outer emission is precisely the eviction moment — state
    cannot grow past watermark horizon BY CONSTRUCTION."""
    with _two_sided_sentinel_streams(spark, sf, "lo_") as (views, purch):
        j = views.join(
            purch,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_time") >= F.col("v_time"))
            & (F.col("p_time") <= F.col("v_time") + F.expr("INTERVAL 30 MINUTES")),
            "leftOuter",
        ).select(
            F.col("v_id").alias("view_id"),
            F.col("v_user").alias("user_id"),
            F.col("v_ts_us").alias("view_ts_us"),
            F.col("p_id").alias("purchase_id"),
            F.col("p_ts_us").alias("purchase_ts_us"),
            (F.col("p_ts_us") - F.col("v_ts_us")).alias("gap_us"),
        )
        return drain_to_memory(j).filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
@register(
    "streaming_chained_quarter_to_hour",
    f"""
    SELECT (epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR} AS hour_start_us,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT epoch_us(ts) // 900000000) AS n_quarters_active
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_chained_quarter_to_hour(spark: SparkSession, sf: str):
    """CHAINED STREAMING AGGREGATIONS — two stateful operators in ONE
    streaming query (Spark's multiple-stateful-operator support): a
    15-minute windowed count per event type re-aggregated into 1-hour
    windows via ``window(window_time(w), '1 hour')``, append mode, both
    levels watermark-driven.  The events arrive as a real shard plus a
    far-future FLUSH sentinel (one file per trigger) so the watermark
    closes every real window at BOTH levels; the sentinel's own windows
    never close and are withheld by append mode, and its rows are
    excluded from the drained table (never filtered inside the streaming
    plan — a pre-watermark filter freezes the watermark, the
    streaming_left_outer lesson).  Equals the batch hour rollup with the
    active-quarter count proving the hourly row really came from the
    15-minute level.  Scale: level-1 state is (15-min window x type),
    level-2 (hour x type) — both bounded by watermark eviction; this is
    the production cascade that cuts sink volume 4x without a second
    job."""
    ev = t(spark, sf, "events")
    flush_ns = 4_000_000_000 * 1_000_000_000  # ~2096: past every real event
    # build the sentinel BY COLUMN NAME — a positional tuple silently
    # misaligns if the driver's column order shifts (it already bit once:
    # ts is the SECOND column, so a positional sentinel put -1 in ts and
    # the watermark never advanced past the final hour)
    row = {c: None for c in ev.columns}
    row.update({"event_id": -1, "user_id": -1, "ts": flush_ns,
                "event_type": "flush", "value": 0.0})
    sentinel = spark.createDataFrame([row], ev.schema)
    # ONE sentinel shard suffices (verified empirically, 1 == 2 == 3
    # sentinels all yield the full 3385 rows): processAllAvailable keeps
    # running micro-batches until state is drained, so the watermark
    # advanced by the flush batch evicts BOTH levels before the query
    # reports idle — the one-batch eviction lag does not compound into
    # missing output here.
    with replay_shards(
        spark, [ev, sentinel], ev.schema, "chained_agg_"
    ) as stream:
        s = stream.withColumn(
            "ts_ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        ).withWatermark("ts_ts", "10 minutes")
        lvl1 = s.groupBy(
            F.window("ts_ts", "15 minutes").alias("w"), "event_type"
        ).agg(F.count("*").alias("n_q"))
        lvl2 = lvl1.groupBy(
            F.window(F.window_time("w"), "1 hour").alias("h"), "event_type"
        ).agg(
            F.sum("n_q").alias("n_events"),
            F.count("*").alias("n_quarters_active"),
        )
        out = lvl2.select(
            (F.col("h.start").cast("long") * 1_000_000).alias("hour_start_us"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_quarters_active").cast("long").alias("n_quarters_active"),
        )
        return drain_to_memory(out).filter(F.col("event_type") != "flush")


# ---------------------------------------------------------------------------
@register(
    "streaming_top5_users_complete",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    ORDER BY total_cents DESC, user_id
    LIMIT 5
    """,
)
def streaming_top5_users_complete(spark: SparkSession, sf: str):
    """STREAMING SORT + LIMIT — the leaderboard shape: top-5 users by
    total spend, recomputed by the streaming engine every trigger.
    Sorting a stream is only legal in COMPLETE output mode after an
    aggregation (append/update can never retract an already-emitted
    rank) — exactly the semantics a live leaderboard wants, and a shape
    none of the other streaming entries covers.  Exact integer cents;
    the tie-break includes user_id.  Scale: state is the per-user
    aggregate (bounded by |users|); the sort runs over the AGGREGATED
    state per trigger and the LIMIT keeps emission tiny — for
    million-user state, swap complete-mode sort for an update-mode sink
    with a downstream top-k view."""
    ev = _events_stream(spark, sf)
    agg = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy(F.desc("total_cents"), "user_id")
        .limit(5)
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
@register(
    "streaming_full_outer_view_purchase",
    """
    WITH v AS (
      SELECT event_id AS view_id, user_id, epoch_us(ts) AS view_ts_us
      FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT event_id AS purchase_id, user_id AS p_user,
             epoch_us(ts) AS purchase_ts_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.view_id, v.user_id AS view_user, v.view_ts_us,
           p.purchase_id, p.p_user AS purchase_user, p.purchase_ts_us,
           p.purchase_ts_us - v.view_ts_us AS gap_us
    FROM v FULL JOIN p
      ON p.p_user = v.user_id
     AND p.purchase_ts_us >= v.view_ts_us
     AND p.purchase_ts_us - v.view_ts_us <= 1800000000
    """,
)
def streaming_full_outer_view_purchase(spark: SparkSession, sf: str):
    """FULL OUTER stream-stream join — completes the streaming join-type
    matrix (inner: streaming_view_purchase_join; left outer:
    streaming_left_outer_view_purchase): matched pairs, views that never
    converted, AND purchases with no preceding view all emit — each
    outer row only once the watermark proves its partner cannot arrive,
    so BOTH sides' eviction contracts are exercised at once.  Same
    shared sentinel harness as the left-outer twin
    (_two_sided_sentinel_streams); the finite-input result equals the
    batch FULL JOIN.  Scale notes: state on both sides is bounded by
    the match window + watermark delay BY CONSTRUCTION — outer emission
    IS eviction, on both sides."""
    with _two_sided_sentinel_streams(spark, sf, "fo_") as (views, purch):
        j = views.join(
            purch,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_time") >= F.col("v_time"))
            & (F.col("p_time") <= F.col("v_time") + F.expr("INTERVAL 30 MINUTES")),
            "fullOuter",
        ).select(
            F.col("v_id").alias("view_id"),
            F.col("v_user").alias("view_user"),
            F.col("v_ts_us").alias("view_ts_us"),
            F.col("p_id").alias("purchase_id"),
            F.col("p_user").alias("purchase_user"),
            F.col("p_ts_us").alias("purchase_ts_us"),
            (F.col("p_ts_us") - F.col("v_ts_us")).alias("gap_us"),
        )
        return drain_to_memory(j).filter(
            (F.coalesce("view_user", F.lit(0)) >= 0)
            & (F.coalesce("purchase_user", F.lit(0)) >= 0)
        )


# ---------------------------------------------------------------------------
@register(
    "streaming_session_window_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             CASE event_type WHEN 'purchase' THEN 1800000000
                             WHEN 'view'     THEN 600000000
                             ELSE 1200000000 END AS gap_us
      FROM events WHERE user_id IS NOT NULL
    ), flagged AS (
      SELECT user_id, event_id, value, ts_us,
             CASE WHEN MAX(ts_us + gap_us) OVER wprev IS NULL
                    OR ts_us > MAX(ts_us + gap_us) OVER wprev
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW wprev AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def streaming_session_window_dynamic_gap(spark: SparkSession, sf: str):
    """The STREAMING twin of ``events_session_window_dynamic_gap``: the
    same per-event-type gap (30m purchase / 10m view / 20m other) run by
    the streaming engine's merging-session state store (complete mode,
    memory sink) — proving the DYNAMIC-gap session merge produces
    exactly the batch/oracle semantics, the same batch↔stream pairing
    contract as ``streaming_session_windows`` pins for the fixed gap.
    Scale: session state is per (user, open session); a deployment adds
    ``withWatermark`` so closed sessions evict (append mode) — complete
    mode here only because the oracle needs every session."""
    ev = _events_stream(spark, sf).filter(F.col("user_id").isNotNull()).withColumn(
        "ts_us", F.expr("ts DIV 1000")
    )
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("30 minutes"))
        .when(F.col("event_type") == "view", F.lit("10 minutes"))
        .otherwise(F.lit("20 minutes"))
    )
    agg = (
        ev.groupBy(F.session_window("ts_ts", gap).alias("s"), "user_id")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            "session_start_us",
            "session_end_us",
            "n_events",
            "session_value",
        )
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
@register(
    "streaming_rank_sketch_event_values",
    """
    WITH e AS (
      SELECT event_type, CAST(event_id AS VARCHAR) AS id, value AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), hk AS (
      SELECT event_type, id, v,
             ('0x' || substr(md5(id || ':rs'), 1, 13))::BIGINT AS hv
      FROM e
    ), r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hv, id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hk
    ), kept AS (
      SELECT event_type, v, MAX(n) OVER (PARTITION BY event_type) AS n
      FROM r WHERE rn <= 64
    ), s AS (
      SELECT event_type, v, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS vr,
             COUNT(*) OVER (PARTITION BY event_type) AS ku
      FROM kept
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_seen,
           CAST(MAX(ku) AS BIGINT) AS k_used,
           MAX(CASE WHEN vr = GREATEST(1, (1 * ku + 1) // 2)
                    THEN v END) AS p50_est,
           MAX(CASE WHEN vr = GREATEST(1, (9 * ku + 9) // 10)
                    THEN v END) AS p90_est
    FROM s GROUP BY event_type
    """,
)
def streaming_rank_sketch_event_values(spark: SparkSession, sf: str):
    """STREAMING QUANTILE SKETCH under the oracle gate — the cross-batch
    twin of ``order_value_rank_sketch_vs_exact``: per event type, the
    k=64 bottom-k-by-hash sample maintained INCREMENTALLY by
    ``applyInPandasWithState`` (streaming/rank_sketch.py) across four
    genuine micro-batches (hash-sharded files, one per trigger), each
    batch merging into the k-bounded state — possible ONLY because the
    sketch is mergeable (the bottom-k of a union is computable from the
    parts' bottom-k's), the property KLL/GK buy with order-dependence
    and this sketch gets deterministically.  The final emission per
    type must equal the one-pass batch/SQL spelling bit-for-bit: same
    md5 ``:rs`` hash, same (hv, id) sort key, same integer
    order-statistic quantile indices.  n_seen strictly increases per
    emission, so ``max(struct(...))`` selects the final state, exactly
    the ``streaming_stateful_user_totals`` discipline.  Scale: state is
    O(k) per group FOREVER — the streaming-percentile-monitoring shape
    (a dashboard polls the latest emission) with none of the unbounded
    state a naive running-percentile would carry."""
    from byte_convert_avro_spark.streaming import streaming_rank_sketch
    from byte_convert_avro_spark.operators.sketch import rank_sketch_quantile

    ev = t(spark, sf, "events")
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "rank_sketch_shards_"
    ) as stream:
        emitted = drain_to_memory(streaming_rank_sketch(stream), "update")
        final = F.max(F.struct("n_seen", "k_used", "smp")).alias("_f")
        return (
            emitted.groupBy("event_type")
            .agg(final)
            .select(
                "event_type",
                F.col("_f.n_seen").alias("n_seen"),
                F.col("_f.k_used").alias("k_used"),
                rank_sketch_quantile(F.col("_f.smp"), 1, 2).alias("p50_est"),
                rank_sketch_quantile(F.col("_f.smp"), 9, 10).alias("p90_est"),
            )
        )


# ---------------------------------------------------------------------------
@register(
    "streaming_count_min_user_heavy_hitters",
    """
    WITH u AS (
      SELECT CAST(user_id AS VARCHAR) AS uid
      FROM events WHERE user_id IS NOT NULL
    ), exact AS (
      SELECT uid, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM u GROUP BY uid
    ), top AS (
      SELECT uid, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, CAST(uid AS BIGINT) LIMIT 10
    ), ds AS (
      SELECT unnest([0, 1, 2]) AS i
    ), cells AS (
      SELECT d.i,
             ('0x' || substr(md5(u.uid || ':cm' || CAST(d.i AS VARCHAR)),
                             1, 8))::BIGINT % 32 AS pos,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM u CROSS JOIN ds d
      GROUP BY 1, 2
    ), est AS (
      SELECT t.uid, CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
      FROM top t
      CROSS JOIN ds d
      JOIN cells c
        ON c.i = d.i
       AND c.pos = ('0x' || substr(md5(t.uid || ':cm'
                                       || CAST(d.i AS VARCHAR)), 1, 8))::BIGINT % 32
      GROUP BY t.uid
    )
    SELECT CAST(t.uid AS BIGINT) AS user_id, t.exact_cnt, e.est_cnt,
           e.est_cnt - t.exact_cnt AS overestimate
    FROM top t JOIN est e ON e.uid = t.uid
    """,
)
def streaming_count_min_user_heavy_hitters(spark: SparkSession, sf: str):
    """STREAMING COUNT-MIN SKETCH — the cross-batch twin of
    ``token_count_min_vs_exact``, and the simplest possible streaming
    sketch BECAUSE count-min is LINEAR: the matrix is a per-(row, pos)
    SUM, so Spark's own stateful streaming aggregation IS the sketch
    maintenance — no custom state function needed (contrast
    ``streaming_rank_sketch_event_values``, whose bottom-k tail needs
    applyInPandasWithState).  The events stream replays as four genuine
    hash-sharded micro-batches (``maxFilesPerTrigger=1``); the
    undersized 3x32 matrix accumulates across batches in complete mode,
    and the drained final matrix must equal the one-pass batch build
    byte-for-byte — linearity means cell-wise sums commute with ANY
    batch slicing, the same mergeability the unit suite pins
    part-vs-whole.  Estimates for the top-10 heaviest users then derive
    from the drained matrix (batch post-processing, like the rank
    twin's quantiles): est >= exact on every row by the
    never-underestimate contract, with collisions pinned as VALUES
    (150 users >> 32 columns).  Scale: streaming state is the d*w=96
    cells FOREVER — the live heavy-hitter monitor shape (which users
    dominate the last-N-batches window is the same plan plus a window
    key); emission is matrix-sized, never corpus-sized."""
    from byte_convert_avro_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    ev = t(spark, sf, "events")
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "count_min_shards_"
    ) as stream:
        matrix_stream = count_min_build(
            stream.filter(F.col("user_id").isNotNull()), "user_id", d=3, w=32
        )
        matrix = drain_to_memory(matrix_stream, "complete")
        exact = (
            ev.filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("exact_cnt"))
        )
        top = exact.orderBy(F.col("exact_cnt").desc(), "user_id").limit(10)
        est = count_min_estimate(
            matrix, top.select("user_id"), "user_id", d=3, w=32
        )
        return top.join(est, "user_id").select(
            F.col("user_id").cast("long").alias("user_id"),
            "exact_cnt",
            F.col("est").alias("est_cnt"),
            (F.col("est") - F.col("exact_cnt")).alias("overestimate"),
        )


# ---------------------------------------------------------------------------
def _hll_streaming_oracle() -> str:
    from byte_convert_avro_spark.operators.sketch import hll_sql

    return f"""
    WITH hll AS (
      {hll_sql("events", "event_type", "user_id")}
    ), ex AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             ) AS BIGINT) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT event_type, v_empty, sum_pow, hll_estimate, exact_distinct
    FROM hll JOIN ex USING (event_type)
    ORDER BY event_type
    """


@register("streaming_hll_distinct_users", _hll_streaming_oracle())
def streaming_hll_distinct_users(spark: SparkSession, sf: str):
    """STREAMING HYPERLOGLOG — the cross-batch twin of
    ``hll_distinct_users_by_type``, completing the streaming sketch trio
    (rank sketch = applyInPandasWithState bottom-k; count-min = stateful
    SUM because the sketch is linear; HLL = stateful MAX because the
    sketch is a per-register maximum).  Register maintenance IS Spark's
    own streaming aggregation: ``groupBy(type, reg).max(rho)`` in
    complete mode — max is associative/commutative/idempotent, so the
    accumulated state after four genuine hash-sharded micro-batches
    must equal the one-pass batch build register-for-register, and the
    finalize over the drained registers is gated bit-exactly against
    the SAME batch oracle as the batch twin (the gate's point: the
    streaming path changes nothing).  Scale: streaming state is
    |types| x m rows FOREVER — the live distinct-users dashboard shape;
    idempotent MAX also makes at-least-once replay harmless, a property
    the linear count-min does NOT have."""
    from byte_convert_avro_spark.operators.sketch import (
        hll_finalize,
        hll_registers,
    )

    ev = t(spark, sf, "events")
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "hll_shards_"
    ) as stream:
        regs_stream = hll_registers(stream, ["event_type"], "user_id")
        regs = drain_to_memory(regs_stream, "complete")
        fin = hll_finalize(regs, ["event_type"])
        h = md5_long("user_id")
        ex = (
            ev.filter(F.col("user_id").isNotNull())
            .select("event_type", h.alias("h"))
            .groupBy("event_type")
            .agg(F.countDistinct("h").cast("long").alias("exact_distinct"))
        )
        return fin.join(ex, "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
def _weighted_sample_oracle() -> str:
    from byte_convert_avro_spark.queries.relational_r14 import (
        EVENTS_WEIGHTED_SAMPLE_SQL,
    )

    return EVENTS_WEIGHTED_SAMPLE_SQL


@register("streaming_weighted_user_sample", _weighted_sample_oracle())
def streaming_weighted_user_sample(spark: SparkSession, sf: str):
    """STREAMING activity-weighted user sampling — the cross-batch twin
    of ``events_weighted_user_sample``, extending the streaming sketch
    family (count-min = stateful SUM, HLL = stateful MAX) with a
    stateful MIN: each event contributes one uniform draw keyed by its
    own id, a user's sample key is the running MIN over their draws —
    idempotent, so at-least-once replay is harmless — and COUNT rides
    along as the exposed weight.  State per (type, user) is one int64 +
    one count FOREVER, never the event history; after draining four
    genuine hash-sharded micro-batches the drained state must produce
    the identical top-5 weighted sample as the one-pass batch build,
    gated against the SAME oracle — the streaming path changes
    nothing."""
    from pyspark.sql import Window as W

    ev = t(spark, sf, "events")
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "wsample_shards_"
    ) as stream:
        h = md5_long("event_id")
        keyed_stream = (
            stream.filter(F.col("user_id").isNotNull())
            .groupBy("event_type", "user_id")
            .agg(
                F.count("*").cast("long").alias("weight"),
                F.min(h).alias("sample_key"),
            )
        )
        keyed = drain_to_memory(keyed_stream, "complete")
        rk = F.row_number().over(
            W.partitionBy("event_type").orderBy("sample_key", "user_id")
        )
        return (
            keyed.withColumn("rank", rk.cast("long"))
            .filter(F.col("rank") <= 5)
            .select(
                "event_type",
                F.col("user_id").cast("long").alias("user_id"),
                "weight",
                "sample_key",
                "rank",
            )
            .orderBy("event_type", "rank")
        )


# ---------------------------------------------------------------------------
def _psi_streaming_oracle() -> str:
    from byte_convert_avro_spark.queries.relational_r14c import EVENTS_PSI_SQL

    return EVENTS_PSI_SQL


@register("streaming_psi_value_halves", _psi_streaming_oracle())
def streaming_psi_value_halves(spark: SparkSession, sf: str):
    """STREAMING POPULATION STABILITY INDEX — the cross-batch twin of
    ``events_value_psi_halves`` and the FIFTH streaming sketch family
    member (count-min = stateful SUM, HLL = stateful MAX, rank sketch =
    bottom-k state, weighted sample = stateful MIN; PSI = stateful SUM
    over a 10-bucket DOMAIN against a static reference histogram).  The
    production monitoring shape: the reference (early-half) histogram
    and the bucket bounds are computed once batch-side and broadcast;
    the live stream joins the bounds on a constant key (a supported
    stream-static equi join), labels each event's decile row-locally,
    and the ONLY streaming state is 10 ever-growing counts.  After
    draining four genuine hash-sharded micro-batches the accumulated
    late-half counts feed the SAME shared finalize (psi_finalize) and
    must reproduce the batch entry's cells bit-for-bit against the SAME
    oracle — the streaming path changes nothing.  Linear state means
    at-least-once replay WOULD double-count (the count-min caveat, not
    the HLL one) — exactly-once file-source semantics carry the gate."""
    from byte_convert_avro_spark.queries.base import cents
    from byte_convert_avro_spark.queries.relational_r14c import psi_finalize

    ev = t(spark, sf, "events")
    f = ev.filter(F.col("value").isNotNull() & F.col("ts").isNotNull()).select(
        cents("value").alias("vc"),
        F.expr("(ts DIV 1000) DIV 86400000000").alias("day"),
    )
    bounds = f.agg(
        F.min("vc").alias("mn"),
        F.max("vc").alias("mx"),
        F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid"),
    )
    bucket = F.expr("((vc - mn) * 10) DIV (mx - mn + 1)").alias("bucket")
    early_cnt = (
        f.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("mid"))
        .groupBy(bucket)
        .agg(F.count("*").cast("long").alias("n_early"))
    )
    # the stream side joins the same 1-row bounds on a constant key —
    # the supported stream-static EQUI join spelling of a broadcast
    keyed_bounds = bounds.withColumn("_k", F.lit(1))
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "psi_shards_"
    ) as stream:
        labeled = (
            stream.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
            .select(
                cents("value").alias("vc"),
                F.expr("(ts DIV 1000) DIV 86400000000").alias("day"),
                F.lit(1).alias("_k"),
            )
            .join(F.broadcast(keyed_bounds), "_k")
            .filter(F.col("day") > F.col("mid"))
            .select(bucket)
        )
        late_stream = labeled.groupBy("bucket").agg(
            F.count("*").cast("long").alias("n_late")
        )
        late = drain_to_memory(late_stream, "complete")
        cnt = early_cnt.join(late, "bucket", "full").select(
            "bucket",
            F.coalesce("n_early", F.lit(0)).alias("n_early"),
            F.coalesce("n_late", F.lit(0)).alias("n_late"),
        )
        return psi_finalize(spark, cnt)


# ---------------------------------------------------------------------------
def _mg_streaming_oracle() -> str:
    k = 16

    def red(src: str) -> str:
        """One Misra-Gries reduce over (token, c) rows: subtract the
        (k+1)-th largest count (ORDER BY c DESC, token), keep
        positives — the exact rule of streaming/misra_gries.py."""
        return f"""(
          SELECT token, c FROM (
            SELECT token, c - COALESCE(MAX(CASE WHEN rn = {k + 1} THEN c END)
                                       OVER (), 0) AS c
            FROM (
              SELECT token, c,
                     ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rn
              FROM {src}
            )
          ) WHERE c > 0
        )"""

    def cnt(i: int) -> str:
        return f"""(
          SELECT token, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok WHERE sh = {i} GROUP BY token
        )"""

    def merge(state: str, batch: str) -> str:
        return f"""(
          SELECT token, CAST(SUM(c) AS BIGINT) AS c
          FROM (SELECT * FROM {state} UNION ALL SELECT * FROM {batch})
          GROUP BY token
        )"""

    s = red(cnt(0))
    for i in (1, 2, 3):
        s = red(merge(s, cnt(i)))
    return f"""
    WITH tok AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 4 AS sh,
             t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token) t
      WHERE t.token <> ''
    ), final AS (SELECT * FROM {s}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_seen FROM tok),
    ku AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used FROM final)
    SELECT final.token, final.c AS est_cnt, n.n_seen, ku.k_used
    FROM final CROSS JOIN n CROSS JOIN ku
    """


@register("streaming_misra_gries_tokens", _mg_streaming_oracle())
def streaming_misra_gries_tokens(spark: SparkSession, sf: str):
    """STREAMING MISRA-GRIES — the cross-batch twin of
    ``token_misra_gries_vs_exact`` and the SIXTH streaming sketch
    family member (rank sketch = bottom-k state, count-min = stateful
    SUM, HLL = stateful MAX, weighted sample = stateful MIN, PSI =
    stateful SUM over a fixed domain; MG needs a genuine FOLD — merge
    then conditional decrement — so it runs in
    ``applyInPandasWithState`` like the rank sketch).  Each of the four
    genuine micro-batches folds its exact token counts into the
    k=16-bounded state by the PODS'12 merge rule (sum matching counts,
    subtract the (k+1)-th largest under (count DESC, token), keep
    positives).  The sequential fold is a DIFFERENT merge tree than the
    batch entry's chunk-union — same N/(k+1) guarantee, different
    pinned values — and the oracle replays the identical fold as a
    4-stage unrolled SQL chain, so the drained final state is
    value-gated entry for entry.  Scale: state is k entries FOREVER —
    the live trending-tokens monitor; emission is k-sized, never
    corpus-sized."""
    from byte_convert_avro_spark.streaming.misra_gries import (
        streaming_misra_gries,
    )

    docs = t(spark, sf, "documents")
    with replay_shards(
        spark, hash_shards(docs, "doc_id"), docs.schema, "mg_shards_"
    ) as stream:
        tok = stream.select(
            F.explode(F.split("text", " ")).alias("token")
        ).filter(F.col("token") != "")
        emitted = drain_to_memory(streaming_misra_gries(tok), "update")
        final = F.max(F.struct("n_seen", "k_used", "tokens", "ests")).alias(
            "_f"
        )
        picked = emitted.agg(final).select(
            F.col("_f.n_seen").alias("n_seen"),
            F.col("_f.k_used").alias("k_used"),
            F.arrays_zip("_f.tokens", "_f.ests").alias("z"),
        )
        return (
            picked.select(
                "n_seen", "k_used", F.explode("z").alias("e")
            )
            .select(
                F.col("e.tokens").alias("token"),
                F.col("e.ests").alias("est_cnt"),
                "n_seen",
                "k_used",
            )
        )


# ---------------------------------------------------------------------------
def _auc_streaming_oracle() -> str:
    from byte_convert_avro_spark.queries.relational_r14f import (
        EVENTS_AUC_SQL,
    )

    return EVENTS_AUC_SQL


@register("streaming_purchase_auc_rank_cells", _auc_streaming_oracle())
def streaming_purchase_auc_rank_cells(spark: SparkSession, sf: str):
    """STREAMING exact AUC — the cross-batch twin of
    ``events_purchase_auc_rank_cells`` and the next streaming sketch
    family member (count-min = stateful SUM, HLL = stateful MAX,
    weighted sample = stateful MIN, PSI = domain-count SUM vs a static
    reference; AUC = stateful SUM over the distinct-SCORE domain): the
    per-cents (t, tp) counts are MERGEABLE by addition, so the only
    streaming state is the score histogram — bounded by the measure's
    resolution, never rows — and the threshold-free ranking quality of
    "value predicts purchase" is monitorable live.  After draining four
    genuine hash-sharded micro-batches the drained domain feeds the
    SAME shared finalize (auc_rank_finalize: cumulative -> doubled rank
    sum -> exact 2U) and must reproduce the batch entry's row
    bit-for-bit against the SAME oracle.  Linear state replays like
    count-min (at-least-once would double-count; exactly-once
    file-source semantics carry the gate)."""
    from byte_convert_avro_spark.queries.base import cents
    from byte_convert_avro_spark.queries.relational_r14f import (
        auc_rank_finalize,
    )

    ev = t(spark, sf, "events")
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "auc_shards_"
    ) as stream:
        dom_stream = (
            stream.filter(
                F.col("value").isNotNull() & F.col("event_type").isNotNull()
            )
            .select(
                cents("value").alias("vc"),
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
                .alias("pos"),
            )
            .groupBy("vc")
            .agg(
                F.count("*").cast("long").alias("t"),
                F.sum("pos").cast("long").alias("tp"),
            )
        )
        dom = drain_to_memory(dom_stream, "complete").select(
            F.col("vc").cast("long").alias("vc"),
            F.col("t").cast("long").alias("t"),
            F.col("tp").cast("long").alias("tp"),
        )
        return auc_rank_finalize(dom)


# ---------------------------------------------------------------------------
def _cs_streaming_oracle() -> str:
    # The drained streaming matrix equals the one-pass batch matrix by
    # LINEARITY (signed cells add cell-wise), so the streaming twin
    # gates against the batch entry's own oracle spelling.
    from byte_convert_avro_spark.queries.relational_r14g import (
        _CS_TOK_SQL,
        _cs_pos_sql,
        _cs_sign_sql,
    )

    return f"""
    WITH {_CS_TOK_SQL}, exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY token
    ), top AS (
      SELECT token, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, token LIMIT 10
    ), ds AS (
      SELECT unnest([0, 1, 2]) AS i
    ), cells AS (
      SELECT d.i,
             {_cs_pos_sql('tok.token', 'd.i', 32)} AS pos,
             CAST(SUM({_cs_sign_sql('tok.token', 'd.i')}) AS BIGINT) AS c
      FROM tok CROSS JOIN ds d
      GROUP BY 1, 2
    ), reads AS (
      SELECT t.token, t.exact_cnt,
             {_cs_sign_sql('t.token', 'd.i')} * COALESCE(c.c, 0) AS rd
      FROM top t
      CROSS JOIN ds d
      LEFT JOIN cells c
        ON c.i = d.i AND c.pos = {_cs_pos_sql('t.token', 'd.i', 32)}
    ), est AS (
      SELECT token, exact_cnt,
             CAST(list(rd ORDER BY rd)[2] AS BIGINT) AS est_cnt
      FROM reads GROUP BY token, exact_cnt
    )
    SELECT token, exact_cnt, est_cnt, est_cnt - exact_cnt AS err
    FROM est
    """


@register("streaming_count_sketch_tokens", _cs_streaming_oracle())
def streaming_count_sketch_tokens(spark: SparkSession, sf: str):
    """STREAMING COUNT-SKETCH — the cross-batch twin of
    ``token_count_sketch_vs_exact`` and the SIGNED member of the
    streaming sketch family (count-min = stateful SUM of counts; this
    is a stateful SUM of ±1 sign hashes — still LINEAR, so Spark's own
    streaming aggregation IS the sketch maintenance, no custom state
    function).  The documents corpus replays as four genuine
    hash-sharded micro-batches (``maxFilesPerTrigger=1``); the
    undersized 3x32 signed matrix accumulates across batches in
    complete mode, and because signed cells add cell-wise the drained
    matrix must equal the one-pass batch build byte-for-byte — the
    twin gates against the batch entry's own oracle spelling.
    Median-of-3 estimates for the top-10 tokens then derive from the
    drained matrix; the err column keeps its both-directions signature
    (the unbiasedness contrast to count-min's est >= exact).  Scale:
    streaming state is the 96 signed cells FOREVER; emission is
    matrix-sized, never corpus-sized."""
    from byte_convert_avro_spark.operators.sketch import (
        count_sketch_build,
        count_sketch_estimate,
    )

    docs = t(spark, sf, "documents")
    with replay_shards(
        spark, hash_shards(docs, "doc_id"), docs.schema, "count_sketch_shards_"
    ) as stream:
        tok_stream = stream.select(
            F.explode(F.split("text", " ")).alias("token")
        ).filter(F.col("token") != "")
        matrix_stream = count_sketch_build(tok_stream, "token", d=3, w=32)
        matrix = drain_to_memory(matrix_stream, "complete")
        tok = docs.select(
            F.explode(F.split("text", " ")).alias("token")
        ).filter(F.col("token") != "")
        exact = tok.groupBy("token").agg(
            F.count("*").cast("long").alias("exact_cnt")
        )
        top = exact.orderBy(F.col("exact_cnt").desc(), "token").limit(10)
        est = count_sketch_estimate(
            matrix, top.select("token"), "token", d=3, w=32
        )
        return top.join(est, "token").select(
            "token",
            "exact_cnt",
            F.col("est").alias("est_cnt"),
            (F.col("est") - F.col("exact_cnt")).alias("err"),
        )


# ---------------------------------------------------------------------------
def _anova_streaming_oracle() -> str:
    # Moments are LINEAR (per-type sums), so the drained streaming state
    # equals the one-pass batch moments — gate against the batch
    # entry's own oracle spelling.
    from byte_convert_avro_spark.queries.relational_r14g import (
        _ANOVA_TAIL_SQL,
        _DEC_STR,
    )

    return f"""
    WITH f AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(vc) AS BIGINT) AS s_g,
             CAST(SUM(vc * vc) AS BIGINT) AS q_g
      FROM f GROUP BY event_type
    ), {_ANOVA_TAIL_SQL}
    SELECT g.event_type, g.n_g, g.s_g,
           {_DEC_STR.format(x='g.q_g')} AS q_g_str,
           fs.n, fs.k, fs.ssb, fs.ssw, fs.f_stat
    FROM g CROSS JOIN fstat fs
    ORDER BY g.event_type
    """


@register("streaming_anova_moment_cells", _anova_streaming_oracle())
def streaming_anova_moment_cells(spark: SparkSession, sf: str):
    """STREAMING ONE-WAY ANOVA — the live experiment monitor twin of
    ``events_value_anova_cells`` and the variance-analysis member of
    the streaming sketch family: the per-group moments (n, Σvc, Σvc²)
    are LINEAR, so Spark's own stateful streaming aggregation in
    complete mode IS the state maintenance (the count-min/count-sketch
    argument, here for a TEST statistic rather than a frequency
    matrix).  The events replay as four genuine hash-sharded
    micro-batches; the drained per-type moment state must equal the
    one-pass batch moments exactly, and the F statistic then comes off
    the SAME finalize tree (_anova_tail) — the streaming twin gates
    against the batch entry's own oracle spelling and must reproduce
    its rows bit-for-bit.  Scale: state is |event types| rows of three
    int64 cells FOREVER; the finalize is constant-size arithmetic."""
    from byte_convert_avro_spark.queries.base import cents
    from byte_convert_avro_spark.queries.relational_r14g import (
        _anova_tail,
        _dec_str,
    )

    ev = t(spark, sf, "events")
    with replay_shards(
        spark, hash_shards(ev, "event_id"), ev.schema, "anova_shards_"
    ) as stream:
        f = stream.filter(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        ).select("event_type", cents("value").alias("vc"))
        g_stream = f.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum("vc").cast("long").alias("s_g"),
            F.sum(F.col("vc") * F.col("vc")).cast("long").alias("q_g"),
        )
        g = drain_to_memory(g_stream, "complete")
        out = _anova_tail(g)
        return out.select(
            "event_type",
            "n_g",
            "s_g",
            _dec_str(F.col("q_g")).alias("q_g_str"),
            "n",
            "k",
            "ssb",
            "ssw",
            "f_stat",
        ).orderBy("event_type")
