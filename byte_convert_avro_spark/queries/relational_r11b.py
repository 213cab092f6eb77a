"""Round-11 continuation: fresh driver-sample relational shapes.

Three new families for the correctness sample, following the round's
cross-engine pin discipline (exact-integer cores, conditionally
evaluated degenerate-denominator guards, explicit tie-break keys):

- SQL:2011 GROUPS window frames, which NEITHER engine ships natively
  at our pins (Spark has no GROUPS mode; DuckDB 1.0.0 parses it but
  raises "not implemented yet" — probed this round), emulated the one
  way that is portable: dense_rank + an integer RANGE frame over the
  rank.  The query pins that the emulation is value-identical across
  engines, which is exactly what a user migrating GROUPS-frame SQL to
  Spark needs to know.
- Winsorized (clamped-tail) statistics from exact integer order-stat
  rank arithmetic — the robust-mean member of the percentile family
  (order_price_percentiles picks quantiles; this one *applies* them).
- Lag-k autocorrelation (ACF) from exact int64 sums — the time-series
  member of the exact-integer Pearson family (suppkey correlation,
  OLS, Welch t), with the OLS int64-overflow lesson applied: sums are
  cast to double BEFORE any product of sums is formed.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from byte_convert_avro_spark.queries.base import cents, hash_bucket, register, t


# ---------------------------------------------------------------------------
@register(
    "customer_groups_frame_peer_sum",
    """
    WITH c AS (
      SELECT c_custkey, c_mktsegment AS segment,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_c
      FROM customer
    ), d AS (
      SELECT c_custkey, segment, bal_c,
             DENSE_RANK() OVER (PARTITION BY segment ORDER BY bal_c) AS dr
      FROM c
    )
    SELECT c_custkey, segment, bal_c,
           CAST(SUM(bal_c) OVER w AS BIGINT) AS peer_sum_c,
           CAST(COUNT(*) OVER w AS BIGINT) AS peer_n
    FROM d
    WINDOW w AS (PARTITION BY segment ORDER BY dr
                 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
    """,
)
def customer_groups_frame_peer_sum(spark: SparkSession, sf: str):
    """SQL:2011 GROUPS FRAME EMULATION — ``GROUPS BETWEEN 1 PRECEDING
    AND 1 FOLLOWING`` (the frame whose rows are the previous, current,
    and next PEER GROUPS of the ORDER BY value, however many rows each
    group holds).  Neither engine runs the native syntax (Spark has no
    GROUPS mode at all; DuckDB 1.0.0's parser raises "not implemented
    yet" — probed), so the portable spelling is pinned instead: a
    ``dense_rank`` pass converts peer groups to consecutive integers,
    then an integer RANGE frame over the rank is EXACTLY the GROUPS
    frame (dense_rank is constant within a peer group and increments by
    1 per group, so ``rank IN [dr-1, dr+1]`` = previous/current/next
    group).  Balances in integer cents make the peer sums exact.

    Scale: one hash exchange on segment; both window passes sort by
    (segment, bal_c) — dense_rank is monotone in bal_c — so the second
    sort is a near-noop over already-ordered runs.  No joins, no
    self-aggregation: the frame machinery does the peer lookup."""
    c = t(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        cents("c_acctbal").alias("bal_c"),
    )
    d = c.withColumn(
        "dr", F.dense_rank().over(W.partitionBy("segment").orderBy("bal_c"))
    )
    wg = W.partitionBy("segment").orderBy("dr").rangeBetween(-1, 1)
    return d.select(
        "c_custkey",
        "segment",
        "bal_c",
        F.sum("bal_c").over(wg).cast("long").alias("peer_sum_c"),
        F.count("*").over(wg).cast("long").alias("peer_n"),
    )


# ---------------------------------------------------------------------------
@register(
    "order_value_winsorized_stats",
    """
    WITH o AS (
      SELECT o_orderpriority AS priority, o_orderkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v_c
      FROM orders
    ), r AS (
      SELECT priority, v_c,
             ROW_NUMBER() OVER (PARTITION BY priority
                                ORDER BY v_c, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM o
    ), b AS (
      SELECT priority, MAX(n) AS n_rows,
             MAX(CASE WHEN rn = GREATEST(1, (1 * n + 9) // 10)
                      THEN v_c END) AS lo_c,
             MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN v_c END) AS hi_c
      FROM r GROUP BY priority
    )
    SELECT o.priority,
           CAST(MAX(b.n_rows) AS BIGINT) AS n_rows,
           MAX(b.lo_c) AS lo_c,
           MAX(b.hi_c) AS hi_c,
           CAST(SUM(CASE WHEN o.v_c < b.lo_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_low,
           CAST(SUM(CASE WHEN o.v_c > b.hi_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_high,
           CAST(SUM(o.v_c) AS DOUBLE)
             / CAST(MAX(b.n_rows) * 100 AS DOUBLE) AS mean_raw,
           CAST(SUM(LEAST(GREATEST(o.v_c, b.lo_c), b.hi_c)) AS DOUBLE)
             / CAST(MAX(b.n_rows) * 100 AS DOUBLE) AS mean_winsorized
    FROM o JOIN b ON b.priority = o.priority
    GROUP BY o.priority
    """,
)
def order_value_winsorized_stats(spark: SparkSession, sf: str):
    """WINSORIZED MEAN per order priority — the robust-statistics member
    of the exact-percentile family: clamp every order value into the
    [p10, p90] band and report the clamped mean next to the raw mean
    and the clamp counts.  The band edges are EXACT order statistics
    from integer rank arithmetic (rank = ceil(q*n) spelled as
    ``(q_num*n + q_den-1) DIV q_den`` — the rank-sketch convention; a
    float ``percentile(0.9)`` would interpolate and drag IEEE into the
    clamp predicate).  All comparisons and sums are integer cents; the
    two means are one double division each at the very end.

    Scale: one shuffle on priority for the rank pass, then the 5-row
    bounds frame broadcast-joins back onto the fact — the same
    two-phase profile as p95_order_by_priority.  At 100 TB the rank
    pass is the cost; swap it for the rank-sketch bounds
    (order_value_rank_sketch_vs_exact) when approximate band edges are
    acceptable — the clamp/aggregate phase is identical either way."""
    o = t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        cents("o_totalprice").alias("v_c"),
    )
    wr = W.partitionBy("priority").orderBy("v_c", "o_orderkey")
    r = o.select(
        "priority",
        "v_c",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(W.partitionBy("priority")).alias("n"),
    )
    idx_lo = F.greatest(F.lit(1).cast("long"), F.expr("(n * 1 + 9) DIV 10"))
    idx_hi = F.expr("(n * 9 + 9) DIV 10")
    b = r.groupBy("priority").agg(
        F.max("n").alias("n_rows"),
        F.max(F.when(F.col("rn") == idx_lo, F.col("v_c"))).alias("lo_c"),
        F.max(F.when(F.col("rn") == idx_hi, F.col("v_c"))).alias("hi_c"),
    )
    j = o.join(F.broadcast(b), "priority")
    clamped = F.least(F.greatest(F.col("v_c"), F.col("lo_c")), F.col("hi_c"))
    return j.groupBy("priority").agg(
        F.max("n_rows").cast("long").alias("n_rows"),
        F.max("lo_c").alias("lo_c"),
        F.max("hi_c").alias("hi_c"),
        F.sum(F.when(F.col("v_c") < F.col("lo_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_low"),
        F.sum(F.when(F.col("v_c") > F.col("hi_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_high"),
        (
            F.sum("v_c").cast("double")
            / (F.max("n_rows") * 100).cast("double")
        ).alias("mean_raw"),
        (
            F.sum(clamped).cast("double")
            / (F.max("n_rows") * 100).cast("double")
        ).alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
def _acf_terms(c, lagged):
    """Exact int64 moment sums for one lag's paired rows (Spark side)."""
    pair = lagged.isNotNull()
    x = F.when(pair, c)
    y = F.when(pair, lagged)
    return {
        "n": F.sum(pair.cast("long")),
        "sx": F.sum(x),
        "sy": F.sum(y),
        "sxx": F.sum(x * x),
        "syy": F.sum(y * y),
        "sxy": F.sum(x * y),
    }


def _acf_from_sums(n, sx, sy, sxx, syy, sxy):
    """r = (n*sxy - sx*sy) / sqrt(n*sxx - sx^2) / sqrt(n*syy - sy^2),
    every sum cast to double BEFORE any product of sums (the OLS int64
    lesson), zero-variance guarded with conditional evaluation."""
    nd = n.cast("double")
    sxd, syd = sx.cast("double"), sy.cast("double")
    sxxd, syyd, sxyd = sxx.cast("double"), syy.cast("double"), sxy.cast("double")
    vx = nd * sxxd - sxd * sxd
    vy = nd * syyd - syd * syd
    return F.when(
        (n >= F.lit(2)) & (vx > F.lit(0.0)) & (vy > F.lit(0.0)),
        (nd * sxyd - sxd * syd) / F.sqrt(vx) / F.sqrt(vy),
    )


@register(
    "events_value_acf_by_type",
    """
    WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), l AS (
      SELECT event_type, c,
             LAG(c, 1) OVER w AS l1,
             LAG(c, 2) OVER w AS l2
      FROM e
      WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
    ), s AS (
      SELECT event_type,
             COUNT(*) AS n_points,
             SUM(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN l1 IS NOT NULL THEN c END)        AS sx1,
             SUM(l1)                                          AS sy1,
             SUM(CASE WHEN l1 IS NOT NULL THEN c * c END)     AS sxx1,
             SUM(l1 * l1)                                     AS syy1,
             SUM(c * l1)                                      AS sxy1,
             SUM(CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN l2 IS NOT NULL THEN c END)        AS sx2,
             SUM(l2)                                          AS sy2,
             SUM(CASE WHEN l2 IS NOT NULL THEN c * c END)     AS sxx2,
             SUM(l2 * l2)                                     AS syy2,
             SUM(c * l2)                                      AS sxy2
      FROM l GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_points AS BIGINT) AS n_points,
           CAST(n1 AS BIGINT) AS n_lag1,
           CASE WHEN n1 >= 2
                 AND CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE)
                     - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) > 0e0
                 AND CAST(n1 AS DOUBLE) * CAST(syy1 AS DOUBLE)
                     - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) > 0e0
                THEN (CAST(n1 AS DOUBLE) * CAST(sxy1 AS DOUBLE)
                      - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
                     / sqrt(CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE)
                            - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
                     / sqrt(CAST(n1 AS DOUBLE) * CAST(syy1 AS DOUBLE)
                            - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
           END AS acf_lag1,
           CAST(n2 AS BIGINT) AS n_lag2,
           CASE WHEN n2 >= 2
                 AND CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE)
                     - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) > 0e0
                 AND CAST(n2 AS DOUBLE) * CAST(syy2 AS DOUBLE)
                     - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE) > 0e0
                THEN (CAST(n2 AS DOUBLE) * CAST(sxy2 AS DOUBLE)
                      - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE))
                     / sqrt(CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE)
                            - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
                     / sqrt(CAST(n2 AS DOUBLE) * CAST(syy2 AS DOUBLE)
                            - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE))
           END AS acf_lag2
    FROM s
    """,
)
def events_value_acf_by_type(spark: SparkSession, sf: str):
    """LAG-k AUTOCORRELATION per event type (k = 1, 2) — the time-series
    member of the exact-integer Pearson family: is an event stream's
    value serially correlated, or effectively white?  ACF_k is the
    Pearson correlation between the value sequence and its k-shifted
    self in (ts, event_id) order, computed from six exact int64 moment
    sums per lag (value cents <= ~5e4, squares ~2.4e9: the sums stay in
    int64 up to ~3.8e9 rows per type; past that, escalate the moment
    sums to DECIMAL — and ANSI Spark overflows LOUDLY, the pinned
    behavior, never silently).  Every sum is cast to double BEFORE any
    product of sums (the lineitem_ols int64-product lesson), and the
    zero-variance denominators are guarded with conditionally evaluated
    CASE (a constant-valued type yields NULL, not a crash — the
    division-loudness audit discipline).

    Scale: one hash exchange on event_type, one partition-local sort
    shared by both LAG frames, then a map-side-partial groupBy of 13
    integer sums — the same per-key-serial profile as sessionization
    (skew study applies); sqrt is correctly rounded per IEEE so the
    final doubles match DuckDB bit-for-bit."""
    ev = (
        t(spark, sf, "events")
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.expr("ts DIV 1000").alias("ts_us"),
            cents("value").alias("c"),
        )
    )
    w = W.partitionBy("event_type").orderBy("ts_us", "event_id")
    l = ev.select(
        "event_type",
        "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", 2).over(w).alias("l2"),
    )
    t1 = _acf_terms(F.col("c"), F.col("l1"))
    t2 = _acf_terms(F.col("c"), F.col("l2"))
    s = l.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_points"),
        *(v.alias(f"{k}1") for k, v in t1.items()),
        *(v.alias(f"{k}2") for k, v in t2.items()),
    )
    return s.select(
        "event_type",
        "n_points",
        F.col("n1").cast("long").alias("n_lag1"),
        _acf_from_sums(
            F.col("n1"), F.col("sx1"), F.col("sy1"),
            F.col("sxx1"), F.col("syy1"), F.col("sxy1"),
        ).alias("acf_lag1"),
        F.col("n2").cast("long").alias("n_lag2"),
        _acf_from_sums(
            F.col("n2"), F.col("sx2"), F.col("sy2"),
            F.col("sxx2"), F.col("syy2"), F.col("sxy2"),
        ).alias("acf_lag2"),
    )


# ---------------------------------------------------------------------------
@register(
    "trade_cheapest_cost_3rounds",
    """
    WITH dir_e AS MATERIALIZED (
      SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
             MIN(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ), e AS MATERIALIZED (
      SELECT a, b, w FROM dir_e
      UNION ALL SELECT b AS a, a AS b, w FROM dir_e
    ), d0 AS MATERIALIZED (
      SELECT DISTINCT c_custkey * 2 AS n, CAST(0 AS BIGINT) AS dist
      FROM customer WHERE c_nationkey = 1
    ), d1 AS MATERIALIZED (
      SELECT n, MIN(dist) AS dist FROM (
        SELECT n, dist FROM d0
        UNION ALL
        SELECT e.b AS n, d0.dist + e.w AS dist FROM d0 JOIN e ON e.a = d0.n
      ) GROUP BY n
    ), d2 AS MATERIALIZED (
      SELECT n, MIN(dist) AS dist FROM (
        SELECT n, dist FROM d1
        UNION ALL
        SELECT e.b AS n, d1.dist + e.w AS dist FROM d1 JOIN e ON e.a = d1.n
      ) GROUP BY n
    ), d3 AS MATERIALIZED (
      SELECT n, MIN(dist) AS dist FROM (
        SELECT n, dist FROM d2
        UNION ALL
        SELECT e.b AS n, d2.dist + e.w AS dist FROM d2 JOIN e ON e.a = d2.n
      ) GROUP BY n
    )
    SELECT CAST(n % 2 AS INT) AS node_kind,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           MIN(dist) AS min_dist_c,
           MAX(dist) AS max_dist_c,
           CAST(SUM(dist) AS BIGINT) AS sum_dist_c
    FROM d3 GROUP BY 1
    """,
)
def trade_cheapest_cost_3rounds(spark: SparkSession, sf: str):
    """WEIGHTED SHORTEST PATH, bounded — 3 Bellman-Ford relaxation
    sweeps from one nation's customers over the undirected
    customer<->supplier trade graph, edge weight = the CHEAPEST line
    item (exact cents) ever shipped between the pair: "what is the
    cheapest <=3-edge trade route from nation 1 to every counterparty?"
    The weighted twin of trade_reachability_3hop, against an unrolled
    CTE-chain oracle (one CTE per sweep, every multiply-referenced CTE
    AS MATERIALIZED — the DuckDB re-inline lesson) — all-integer
    arithmetic, so Spark (``operators/graph.bellman_ford_rounds``) and
    the oracle match bit-for-bit.

    Unlike BFS there is no visited set: a node's distance can IMPROVE
    in a later sweep (a cheaper 3-edge route beating a direct edge),
    so every sweep re-relaxes the full distance frame — the dynamic
    program, not a frontier walk.  Node encoding: customer k -> 2k,
    supplier k -> 2k+1 (the pagerank discipline); output aggregates
    per node kind (even=customer, odd=supplier) so the row count stays
    fixed while every per-node distance still feeds the hash.

    Scale: distance state is node-sized every round (the naive closure
    is degree^rounds paths); per round one equi-join + one
    map-side-partial MIN.  Parallel edges collapse to their min weight
    BEFORE the walk — one edge per pair, the graph's true size."""
    from byte_convert_avro_spark.operators.graph import (
        bellman_ford_rounds,
        both_directions,
    )

    dir_e = (
        t(spark, sf, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice")
        .join(
            t(spark, sf, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .agg(F.min(cents("l_extendedprice")).alias("w"))
    )
    und = both_directions(dir_e, "a", "b", "w")
    seeds = (
        t(spark, sf, "customer")
        .filter(F.col("c_nationkey") == 1)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    d = bellman_ford_rounds(und, seeds, rounds=3, node="node", src="a", dst="b")
    return d.groupBy((F.col("node") % 2).cast("int").alias("node_kind")).agg(
        F.count("*").cast("long").alias("n_reached"),
        F.min("dist").alias("min_dist_c"),
        F.max("dist").alias("max_dist_c"),
        F.sum("dist").cast("long").alias("sum_dist_c"),
    )


# ---------------------------------------------------------------------------
@register(
    "trade_neighborhood_function_kmv",
    """
    WITH dir_e AS MATERIALIZED (
      SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), e AS MATERIALIZED (
      SELECT a, b FROM dir_e UNION ALL SELECT b AS a, a AS b FROM dir_e
    ), p0 AS MATERIALIZED (
      SELECT n, n AS r FROM (SELECT DISTINCT a AS n FROM e)
      WHERE ('0x' || substr(md5(CAST(n AS VARCHAR)), 1, 8))::BIGINT % 16 = 0
    ), p1 AS MATERIALIZED (
      SELECT DISTINCT n, r FROM (
        SELECT n, r FROM p0
        UNION ALL SELECT p0.n, e.b AS r FROM p0 JOIN e ON e.a = p0.r
      )
    ), p2 AS MATERIALIZED (
      SELECT DISTINCT n, r FROM (
        SELECT n, r FROM p1
        UNION ALL SELECT p1.n, e.b AS r FROM p1 JOIN e ON e.a = p1.r
      )
    ), pr AS (
      SELECT 1 AS radius, n, r FROM p1
      UNION ALL SELECT 2 AS radius, n, r FROM p2
    ), ex AS (
      SELECT radius, n, CAST(COUNT(*) AS BIGINT) AS exact_reached
      FROM pr GROUP BY 1, 2
    ), hv AS (
      SELECT DISTINCT radius, n,
             ('0x' || substr(md5(CAST(r AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM pr
    ), rk AS (
      SELECT radius, n, h,
             ROW_NUMBER() OVER (PARTITION BY radius, n ORDER BY h) AS rn
      FROM hv
    ), sk AS (
      SELECT radius, n,
             CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(MAX(h) AS BIGINT) AS kth
      FROM rk WHERE rn <= 16 GROUP BY 1, 2
    ), j AS (
      SELECT s.radius, s.n AS node, x.exact_reached, s.k_used, s.kth,
             CASE WHEN s.k_used < 16 THEN CAST(s.k_used AS DOUBLE)
                  ELSE CAST(15 AS DOUBLE) * 4294967296.0e0 / s.kth END AS est,
             ROW_NUMBER() OVER (PARTITION BY s.radius
                                ORDER BY x.exact_reached DESC, s.n) AS top_rn
      FROM sk s JOIN ex x ON x.radius = s.radius AND x.n = s.n
    )
    SELECT CAST(radius AS INT) AS radius, node, exact_reached,
           k_used, kth, est
    FROM j WHERE top_rn <= 10
    """,
)
def trade_neighborhood_function_kmv(spark: SparkSession, sf: str):
    """NEIGHBORHOOD FUNCTION via mergeable KMV sketches — the
    HyperANF/HyperBall pattern (operators/graph.neighborhood_kmv):
    every node of the trade graph carries a bottom-16 sketch of the
    node-id hashes within radius r, maintained by r sweeps that merge
    each node's sketch with its neighbors' — k-bounded state per node,
    NO pair frame.  The exact columns come from the (node, reached)
    PAIR frame, which is precisely the quadratic object the sketch
    avoids at 100 TB — here it is gate-side verification at toy scale
    (the kmv_intersection_estimate discipline), and the oracle rederives
    both: the pair counts exactly, and the sketch arithmetic as
    rank-filtered md5 hashes of the same reach sets (legal because the
    bottom-k of a union equals the bottom-k of the parts' bottom-k's —
    r merge sweeps = one-shot bottom-k of the full r-hop set, the
    invariant the unit test pins on a crafted graph).

    Output: per radius 1 and 2, the ten best-connected nodes OF A
    DETERMINISTIC 1/16 HASH SAMPLE (exact reach desc, node tiebreak;
    the referee's pair frame is seeded from sampled nodes only — the
    sketch side stays full-graph) with exact cardinality, sketch fill,
    k-th hash, and the (k-1)*2^32/kth estimate — per-node doubles,
    never summed across nodes (double summation order is the one thing
    the decimal discipline can't fix on computed estimates).

    Scale: per sweep ONE |E|*k-row shuffle join + the kmv_grouped
    one-window bottom-k; a 1000-executor run over a trillion-edge graph
    is r sweeps of (join + window), each AQE-planned — the per-node
    answer to 'how much of the graph is within r hops' that no exact
    plan can provide at that size.

    Gate-cost disclosure (r12 ADVICE): the 1/16 node sample means the
    referee verifies sketches for 1/16 of nodes only; the FULL-referee
    twin ``trade_neighborhood_kmv_full_referee`` (sample_mod=1) runs in
    every sf0.01 full-suite parity pass so the unsampled pin stays
    periodically exercised where the pair frame is cheap, and
    ``tools/driver_parity.py`` records this sampling in its artifact's
    ``disclosed_caps`` block."""
    return _neighborhood_kmv_with_referee(spark, sf, sample_mod=16)


def _neighborhood_kmv_with_referee(spark: SparkSession, sf: str, sample_mod: int):
    from byte_convert_avro_spark.operators.graph import (
        both_directions,
        neighborhood_kmv,
    )

    dir_e = (
        t(spark, sf, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(
            t(spark, sf, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    # Lazily checkpointed (r15): besides the sketch operator (which
    # persists its own copy), the edge frame feeds the referee's node
    # seed and BOTH reach-expansion rounds — without the checkpoint
    # each of those re-ran the orders⋈lineitem join + distinct.
    und = both_directions(dir_e, "a", "b").localCheckpoint(eager=False)
    sk = neighborhood_kmv(und, k=16, rounds=2, node="node", src="a", dst="b")

    # exact pair frames (gate-side verification only — see docstring)
    # the exact referee runs on a DETERMINISTIC 1/16 NODE SAMPLE: the
    # pair frame is the quadratic object the sketch exists to avoid, so
    # the gate seeds it from hash-sampled nodes only (the sketch side
    # stays full-graph; top-10 is over the sampled nodes) — 16x less
    # referee work at every SF, same per-node exact-vs-sketch pin
    nodes = und.select(F.col("a").alias("n")).distinct()
    if sample_mod > 1:
        nodes = nodes.filter(hash_bucket("n", sample_mod) == 0)
    # fresh column names break the p<-und lineage self-join ambiguity
    e2 = und.select(F.col("a").alias("ea"), F.col("b").alias("eb"))
    p = nodes.select("n", F.col("n").alias("r"))
    exacts = []
    for radius in (1, 2):
        p = (
            p.unionByName(
                p.join(e2, p["r"] == e2["ea"]).select("n", F.col("eb").alias("r"))
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        exacts.append(
            p.groupBy("n").agg(F.count("*").cast("long").alias("exact_reached"))
            .select(F.lit(radius).cast("int").alias("radius"), F.col("n").alias("node"), "exact_reached")
        )
    ex = exacts[0].unionByName(exacts[1])

    est = F.when(F.col("k_used") < 16, F.col("k_used").cast("double")).otherwise(
        F.lit(15.0) * F.lit(4294967296.0) / F.col("kth")
    )
    j = sk.join(ex, ["radius", "node"]).select(
        "radius", "node", "exact_reached", "k_used", "kth", est.alias("est")
    )
    wtop = W.partitionBy("radius").orderBy(F.col("exact_reached").desc(), "node")
    return (
        j.withColumn("top_rn", F.row_number().over(wtop))
        .filter(F.col("top_rn") <= 10)
        .drop("top_rn")
    )


# ---------------------------------------------------------------------------
@register(
    "trade_neighborhood_kmv_full_referee",
    """
    WITH dir_e AS MATERIALIZED (
      SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), e AS MATERIALIZED (
      SELECT a, b FROM dir_e UNION ALL SELECT b AS a, a AS b FROM dir_e
    ), p0 AS MATERIALIZED (
      SELECT n, n AS r FROM (SELECT DISTINCT a AS n FROM e)
    ), p1 AS MATERIALIZED (
      SELECT DISTINCT n, r FROM (
        SELECT n, r FROM p0
        UNION ALL SELECT p0.n, e.b AS r FROM p0 JOIN e ON e.a = p0.r
      )
    ), p2 AS MATERIALIZED (
      SELECT DISTINCT n, r FROM (
        SELECT n, r FROM p1
        UNION ALL SELECT p1.n, e.b AS r FROM p1 JOIN e ON e.a = p1.r
      )
    ), pr AS (
      SELECT 1 AS radius, n, r FROM p1
      UNION ALL SELECT 2 AS radius, n, r FROM p2
    ), ex AS (
      SELECT radius, n, CAST(COUNT(*) AS BIGINT) AS exact_reached
      FROM pr GROUP BY 1, 2
    ), hv AS (
      SELECT DISTINCT radius, n,
             ('0x' || substr(md5(CAST(r AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM pr
    ), rk AS (
      SELECT radius, n, h,
             ROW_NUMBER() OVER (PARTITION BY radius, n ORDER BY h) AS rn
      FROM hv
    ), sk AS (
      SELECT radius, n,
             CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(MAX(h) AS BIGINT) AS kth
      FROM rk WHERE rn <= 16 GROUP BY 1, 2
    ), j AS (
      SELECT s.radius, s.n AS node, x.exact_reached, s.k_used, s.kth,
             CASE WHEN s.k_used < 16 THEN CAST(s.k_used AS DOUBLE)
                  ELSE CAST(15 AS DOUBLE) * 4294967296.0e0 / s.kth END AS est,
             ROW_NUMBER() OVER (PARTITION BY s.radius
                                ORDER BY x.exact_reached DESC, s.n) AS top_rn
      FROM sk s JOIN ex x ON x.radius = s.radius AND x.n = s.n
    )
    SELECT CAST(radius AS INT) AS radius, node, exact_reached,
           k_used, kth, est
    FROM j WHERE top_rn <= 10
    """,
)
def trade_neighborhood_kmv_full_referee(spark: SparkSession, sf: str):
    """UNSAMPLED twin of ``trade_neighborhood_function_kmv`` — the exact
    referee's pair frame is seeded from EVERY node (sample_mod=1), so
    every node's sketch, including the true globally best-connected
    ones, is pinned against its exact reach set.  This is the periodic
    full-referee rung the r12 ADVICE asked for: it runs in every sf0.01
    full-suite parity pass (pair frame cheap there: ~28 s), and is the
    entry to ``--exclude`` (recorded, never silent) on sf>=0.1 full-
    registry runs where the quadratic referee is exactly the object the
    sketch exists to avoid (609.8 s at sf0.1, r12 NOTES).  The SAMPLED
    entry stays the benched/driver-facing form."""
    return _neighborhood_kmv_with_referee(spark, sf, sample_mod=1)
