"""Round-9 relational / sketch additions.

Same contract as every other query module: each entry is registered with
a DuckDB oracle and the cross-engine determinism discipline from
``base.py`` (exact-integer cores, e-notation float literals, explicit
tie-break keys, aliases matching both engines).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from byte_convert_avro_spark.queries.base import register, t


# ---------------------------------------------------------------------------
@register(
    "kmv_parts_by_segment_nation",
    """
    WITH li AS (
      SELECT c_mktsegment AS segment, n_name AS nation, l_partkey
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
    ), h AS (
      SELECT DISTINCT segment, nation,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT
               AS hv
      FROM li
    ), ranked AS (
      SELECT segment, nation, hv,
             ROW_NUMBER() OVER (PARTITION BY segment, nation ORDER BY hv)
               AS rn
      FROM h
    ), sk AS (
      SELECT segment, nation, COUNT(*) AS k_used, MAX(hv) AS kth
      FROM ranked WHERE rn <= 32 GROUP BY 1, 2
    ), exact AS (
      SELECT segment, nation, COUNT(DISTINCT l_partkey) AS exact_parts
      FROM li GROUP BY 1, 2
    )
    SELECT s.segment, s.nation,
           CAST(s.k_used AS BIGINT) AS k_used,
           CAST(s.kth AS BIGINT) AS kth,
           CASE WHEN s.k_used < 32 THEN CAST(s.k_used AS DOUBLE)
                ELSE CAST(31 AS DOUBLE) * 4294967296.0e0 / s.kth END
             AS distinct_est,
           CAST(e.exact_parts AS BIGINT) AS exact_parts
    FROM sk s
    JOIN exact e ON e.segment = s.segment AND e.nation = s.nation
    """,
)
def kmv_parts_by_segment_nation(spark: SparkSession, sf: str):
    """HIGH-CARDINALITY GROUPED KMV — per (market segment x nation), the
    distinct-part sketch estimate with the exact count alongside: the
    per-segment dashboard shape at a group cardinality (125 groups here,
    unbounded in general) where ``kmv_distinct_users_by_type``'s
    enumerable-group TakeOrdered loop is the WRONG plan.  This runs
    ``operators/sketch.kmv_grouped`` — the chunked min-k merge: one
    uniform-chunked window pass (lag first-occurrence + dense_rank <= k
    — streaming functions, zero aggregate buffers, duplicates never
    collected) and one chunks*k-bounded merge, NO per-group driver jobs
    and NO group-sized arrays regardless of group count or skew.  The
    chunking is invisible in the result, so the oracle spells the direct
    rank filter.  chunks=8 makes sf0.01 exercise real multi-chunk
    merges (per-group distinct ~350 >> k); the estimator line
    (k-1)*2^32/kth engages for every group while k_used<k stays exact
    for any small group.  Scale: lineitem->orders is the one fact
    shuffle; customer and nation broadcast."""
    li = (
        t(spark, sf, "lineitem")
        .join(
            t(spark, sf, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                t(spark, sf, "customer").select(
                    "c_custkey", "c_nationkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t(spark, sf, "nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            "l_partkey",
        )
    )
    from byte_convert_avro_spark.operators.sketch import kmv_grouped

    sk = kmv_grouped(li, ["segment", "nation"], "l_partkey", k=32, chunks=8)
    exact = li.groupBy("segment", "nation").agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_parts")
    )
    return sk.join(exact, ["segment", "nation"]).select(
        "segment", "nation", "k_used", "kth", "distinct_est", "exact_parts"
    )


# ---------------------------------------------------------------------------
@register(
    "user_value_ewma",
    """
    WITH e AS (
      SELECT user_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - 1 AS k
      FROM events WHERE user_id IS NOT NULL
    ), ch AS (
      SELECT user_id, k // 16 AS chk,
             list_reduce(
               list({'s': 0.875e0, 'o': 0.125e0 * cents} ORDER BY k),
               (a, b) -> {'s': a.s * b.s, 'o': b.s * a.o + b.o}) AS m,
             COUNT(*) AS cnt
      FROM e GROUP BY 1, 2
    ), fin AS (
      SELECT user_id,
             list_reduce(list(m ORDER BY chk),
                         (a, b) -> {'s': a.s * b.s, 'o': b.s * a.o + b.o})
               AS m,
             CAST(SUM(cnt) AS BIGINT) AS n_events
      FROM ch GROUP BY user_id
    )
    SELECT user_id, n_events,
           m.o / 100.0e0 AS ewma_value,
           m.o / (1.0e0 - m.s) / 100.0e0 AS ewma_debiased
    FROM fin
    """,
)
def user_value_ewma(spark: SparkSession, sf: str):
    """EXPONENTIALLY WEIGHTED MOVING AVERAGE per user — the classic
    smoothing recurrence y_t = alpha*x_t + (1-alpha)*y_{t-1} (y_0 = 0,
    alpha = 1/8) over each user's event-value series in (ts, event_id)
    order, plus the bias-corrected form y_t / (1 - (1-alpha)^t).

    Spark has no ordered-aggregate UDAF surface for this, and the naive
    per-user collect is the unbounded-array hazard.  The EWMA step is an
    AFFINE MAP acc -> s*acc + o, and affine maps COMPOSE associatively:
    (s1,o1) then (s2,o2) = (s1*s2, s2*o1 + o2).  So the recurrence runs
    as the bounded TWO-LEVEL CHUNKED FOLD (the bounded_ordered_agg
    discipline, generalized from sums to affine maps): rows chunk by
    (user, k div 16), each chunk folds its <= 16 element maps
    (s = 1-alpha, o = alpha*x) in k order, then the per-chunk maps fold
    in chunk order — per-task arrays bounded at 16, one extra tiny
    shuffle, and the debias scale (1-alpha)^T falls out as the composed
    map's s with NO libm pow.  Every constant is an exact binary
    fraction (alpha = 0.125) and both engines fold with the identical
    expression tree and identity-map init (multiplying by the (1,0)
    identity is IEEE-exact), so the smoothed values are BIT-IDENTICAL
    cross-engine.  Scale: one window rank + two bounded groupBys, all
    on the user key."""
    from byte_convert_avro_spark.queries.base import events_ts_to_ns

    ev = events_ts_to_ns(t(spark, sf, "events")).filter(
        F.col("user_id").isNotNull()
    )
    # rank in MICROSECOND order (ts DIV 1000) to match the oracle's
    # µs-precision timestamp compare — ranking raw ns longs could break
    # a sub-µs tie differently than DuckDB's (ts, event_id)
    k = (
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000"), "event_id")
        )
        - 1
    )
    e = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        k.alias("k"),
    )

    def compose(a, b):
        return F.struct(
            (a["s"] * b["s"]).alias("s"), (b["s"] * a["o"] + b["o"]).alias("o")
        )

    ident = F.struct(F.lit(1.0).alias("s"), F.lit(0.0).alias("o"))
    elem_maps = F.transform(
        F.array_sort(F.collect_list(F.struct("k", "cents"))),
        lambda r: F.struct(
            F.lit(0.875).alias("s"), (F.lit(0.125) * r["cents"]).alias("o")
        ),
    )
    ch = (
        e.withColumn("chk", F.expr("k div 16"))
        .groupBy("user_id", "chk")
        .agg(
            F.aggregate(elem_maps, ident, compose).alias("m"),
            F.count("*").alias("cnt"),
        )
    )
    chunk_maps = F.transform(
        F.array_sort(F.collect_list(F.struct("chk", "m"))), lambda r: r["m"]
    )
    fin = ch.groupBy("user_id").agg(
        F.aggregate(chunk_maps, ident, compose).alias("m"),
        F.sum("cnt").cast("long").alias("n_events"),
    )
    return fin.select(
        "user_id",
        "n_events",
        (F.col("m.o") / F.lit(100.0)).alias("ewma_value"),
        (F.col("m.o") / (F.lit(1.0) - F.col("m.s")) / F.lit(100.0)).alias(
            "ewma_debiased"
        ),
    )


# ---------------------------------------------------------------------------
@register(
    "orders_filter_clause_aggregates",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_finished,
           CAST(COALESCE(
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               FILTER (WHERE EXTRACT(year FROM o_orderdate) = 1995),
             0) AS BIGINT) AS revenue_1995_c,
           CAST(COUNT(DISTINCT CASE WHEN o_orderstatus = 'O'
                                    THEN o_custkey END) AS BIGINT)
             AS open_customers,
           CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS max_finished_c
    FROM orders GROUP BY o_orderpriority
    """,
)
def orders_filter_clause_aggregates(spark: SparkSession, sf: str):
    """FILTER-CLAUSE AGGREGATES (SQL:2003 ``agg(...) FILTER (WHERE
    ...)``) — the per-aggregate predicate shape that replaces N
    self-joins or CASE pyramids with one pass: per order priority, the
    total count next to a status-filtered count, a year-filtered exact
    cents sum, a status-filtered MAX, and a conditional distinct.
    Spark parses the literal FILTER clause in expressions (the
    conditional-distinct is the one form its parser lacks, spelled as
    the equivalent COUNT(DISTINCT CASE WHEN) in BOTH engines).
    Cross-engine: a filtered SUM over an empty set is NULL in both
    engines — COALESCE(...) pins it to 0 explicitly.  Scale: ONE
    map-side-partial hash aggregate over one scan; every filter is a
    row predicate inside the aggregate, no extra shuffle."""
    o = t(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr("count(*) FILTER (WHERE o_orderstatus = 'F')")
        .cast("long")
        .alias("n_finished"),
        F.coalesce(
            F.expr(
                "sum(cast(round(o_totalprice * 100, 0) as bigint)) "
                "FILTER (WHERE year(o_orderdate) = 1995)"
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("revenue_1995_c"),
        F.countDistinct(
            F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))
        )
        .cast("long")
        .alias("open_customers"),
        F.expr(
            "max(cast(round(o_totalprice * 100, 0) as bigint)) "
            "FILTER (WHERE o_orderstatus = 'F')"
        )
        .cast("long")
        .alias("max_finished_c"),
    )


# ---------------------------------------------------------------------------
@register(
    "trade_reachability_3hop",
    """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), und AS (
      SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
    ), seeds AS (
      SELECT DISTINCT c_custkey * 2 AS node
      FROM customer WHERE c_nationkey = 1
    ), reach AS (
      SELECT node, 0 AS hop FROM seeds
      UNION ALL
      SELECT DISTINCT u.b AS node, r.hop + 1
      FROM reach r JOIN und u ON u.a = r.node
      WHERE r.hop < 3
    ), mh AS (
      SELECT node, MIN(hop) AS min_hop FROM reach GROUP BY node
    )
    SELECT CAST(min_hop AS INT) AS min_hop,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM mh GROUP BY min_hop
    """,
)
def trade_reachability_3hop(spark: SparkSession, sf: str):
    """BOUNDED TRANSITIVE-CLOSURE REACHABILITY — min-hop BFS from one
    nation's customers over the undirected customer<->supplier trade
    graph, 3 hops, aggregated to (min_hop, n_nodes): the reachability
    companion of ``customer_hierarchy_walk``, against a literal WITH
    RECURSIVE oracle.

    Spark runs ``operators/graph.bfs_min_hops``: per hop ONE shuffle
    join frontier->edges + distinct + left-anti against visited, each
    frontier localCheckpointed — node-sized state per round, a node
    expands exactly once, so min-hop is by construction and the plan
    never materializes PATHS (the naive closure is degree^hops rows —
    even the oracle needs the per-iteration DISTINCT inside the
    recursive term to stay node-bounded; bare UNION dedup is the
    DuckDB ALL-semantics quirk recorded on the hierarchy walk).  Node
    encoding: customer k -> 2k, supplier k -> 2k+1 (the pagerank
    integer-encoding discipline).  Hop 0 counts every seed customer
    including order-less ones; the bipartite graph means odd hops reach
    suppliers and even hops customers."""
    from byte_convert_avro_spark.operators.graph import bfs_min_hops, both_directions

    li = (
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
    und = both_directions(li, "a", "b")
    seeds = (
        t(spark, sf, "customer")
        .filter(F.col("c_nationkey") == 1)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    vis = bfs_min_hops(und, seeds, max_hops=3, node="node", src="a", dst="b")
    return vis.groupBy(F.col("hop").cast("int").alias("min_hop")).agg(
        F.count("*").cast("long").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
@register(
    "lineitem_ols_qty_dollars",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(l_extendedprice, 0) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             CAST(SUM(CAST(ROUND(l_extendedprice, 0) AS BIGINT)
                      * CAST(ROUND(l_extendedprice, 0) AS BIGINT)) AS BIGINT)
               AS syy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(l_extendedprice, 0) AS BIGINT)) AS BIGINT)
               AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           END AS slope,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
             (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE)
           END AS intercept,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <> 0 THEN
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS r2
    FROM s
    """,
)
def lineitem_ols_qty_dollars(spark: SparkSession, sf: str):
    """ORDINARY LEAST SQUARES per group (the ``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` SQL:2003 family) from EXACT integer
    sums: per return flag, regress whole-dollar extended price on
    quantity.  One pass accumulates n, Σx, Σy, Σx², Σy², Σxy as exact
    int64 (dollars ~1e5, qty <= 50: the SUMS stay under 2^63 through
    ~1e8 rows per group — the Welch-t data-contract note applies beyond
    that; shard the sums or scale y down).  The regression math casts
    EVERY sum to double BEFORE forming any product — n·Σy² and (Σy)²
    overflow int64 at only ~64k rows per group with ~1e5-dollar y, i.e.
    just past sf0.01 — and slope/intercept/r² then use the identical
    double expression tree in both engines, so every output stays
    bit-identical cross-engine.  Scale: one map-side-partial hash
    aggregate; the regression math is a 3-row fold."""
    li = t(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice"), 0).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(x * y).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    num = nd * sxyd - sxd * syd
    denx = nd * sxxd - sxd * sxd
    deny = nd * syyd - syd * syd
    slope = num / denx
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.when(denx != 0, slope).alias("slope"),
        F.when(denx != 0, (syd - slope * sxd) / nd).alias("intercept"),
        F.when((denx != 0) & (deny != 0), num * num / (denx * deny)).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
@register(
    "unpivot_priority_measures",
    """
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS total_cents,
             CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS max_cents,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, measure, value
    FROM wide
    UNPIVOT (value FOR measure IN (n_orders, total_cents, max_cents,
                                   n_customers))
    """,
)
def unpivot_priority_measures(spark: SparkSession, sf: str):
    """UNPIVOT — the wide-to-long reshape that is pivot's inverse and a
    first-class clause in both engines: one aggregated row per order
    priority melts into (priority, measure, value) rows.  The oracle
    uses DuckDB's literal UNPIVOT clause; Spark spells the same reshape
    with its ``stack`` table-valued generator (Spark's UNPIVOT surface)
    over the identical wide aggregate — 4 exact-integer measures, so
    the melt is type-uniform BIGINT and hash-stable.  Scale: the
    reshape runs on the post-aggregate (|priorities| rows); the only
    real work is the one wide aggregation."""
    o = t(spark, sf, "orders")
    c = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    wide = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(c).cast("long").alias("total_cents"),
        F.max(c).cast("long").alias("max_cents"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
    )
    return wide.select(
        "o_orderpriority",
        F.expr(
            "stack(4, 'n_orders', n_orders, 'total_cents', total_cents, "
            "'max_cents', max_cents, 'n_customers', n_customers) "
            "AS (measure, value)"
        ),
    )


# ---------------------------------------------------------------------------
@register(
    "order_business_day_latency",
    """
    WITH d AS (
      SELECT o_orderpriority,
             CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                  AS BIGINT) AS d1,
             CAST(date_diff('day', DATE '1970-01-01', first_ship)
                  AS BIGINT) AS d2
      FROM orders
      JOIN (SELECT l_orderkey, MIN(l_shipdate) AS first_ship
            FROM lineitem GROUP BY l_orderkey) s
        ON l_orderkey = o_orderkey
    ), b AS (
      SELECT o_orderpriority,
             (5 * ((d2 + 4) // 7) + LEAST((d2 + 4) % 7, 5))
               - (5 * ((d1 + 4) // 7) + LEAST((d1 + 4) % 7, 5))
               AS bdays
      FROM d
    )
    SELECT o_orderpriority,
           CASE WHEN bdays <= 5 THEN 'a_0_5'
                WHEN bdays <= 10 THEN 'b_6_10'
                WHEN bdays <= 20 THEN 'c_11_20'
                ELSE 'd_over_20' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(bdays) AS BIGINT) AS total_bdays,
           CAST(SUM(bdays) AS DOUBLE) / COUNT(*) AS avg_bdays
    FROM b GROUP BY 1, 2
    """,
)
def order_business_day_latency(spark: SparkSession, sf: str):
    """BUSINESS-DAY (weekday) latency between order placement and first
    shipment — calendar math no engine ships natively, done with EXACT
    integer arithmetic: W(d) = 5*((d+4) div 7) + least((d+4) mod 7, 5)
    counts weekdays from the epoch through epoch-day d (day 0 was a
    Thursday, so the +4 shift makes the week index roll over on
    Sundays), and the latency is W(ship) − W(order) — weekends
    contribute zero.  Every operation is integer div/mod on
    non-negative days (the div-vs-floor trap never engages), so both
    engines agree bit-for-bit; the only doubles are the final averages
    of exact sums.  Scale: min-shipdate pre-aggregates lineitem on its
    own join key before the orders join; one groupBy on (priority,
    bucket)."""
    o = t(spark, sf, "orders")
    first = (
        t(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("first_ship"))
    )
    d = o.join(first, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d1"),
        F.datediff("first_ship", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d2"),
    )

    # integer division: Spark's `/` on longs is double division — use div
    b = d.select(
        "o_orderpriority",
        (
            (5 * F.expr("(d2 + 4) div 7") + F.least(F.expr("(d2 + 4) % 7"), F.lit(5)))
            - (5 * F.expr("(d1 + 4) div 7") + F.least(F.expr("(d1 + 4) % 7"), F.lit(5)))
        ).alias("bdays"),
    )
    bucket = (
        F.when(F.col("bdays") <= 5, "a_0_5")
        .when(F.col("bdays") <= 10, "b_6_10")
        .when(F.col("bdays") <= 20, "c_11_20")
        .otherwise("d_over_20")
    )
    return b.groupBy("o_orderpriority", bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("bdays").cast("long").alias("total_bdays"),
        (F.sum("bdays").cast("double") / F.count("*")).alias("avg_bdays"),
    )


# ---------------------------------------------------------------------------
@register(
    "minhash_r2_capped_candidates",
    r"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM words WHERE len(w) >= 3),
    sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
            FROM idx),
    hidx AS (SELECT unnest(generate_series(0, 31)) AS h),
    mins AS (
      SELECT doc_id, h, MIN(md5(h::VARCHAR || '|' || sh)) AS mn
      FROM sh0 CROSS JOIN hidx GROUP BY doc_id, h
    ),
    sigs0 AS (
      SELECT doc_id, h // 2 AS band,
             MIN(CASE WHEN h % 2 = 0 THEN mn END)
               || MIN(CASE WHEN h % 2 = 1 THEN mn END) AS sig
      FROM mins GROUP BY doc_id, h // 2
    ),
    bok AS (
      SELECT band, sig FROM sigs0 GROUP BY band, sig HAVING COUNT(*) <= 16
    ),
    sigs AS (
      SELECT s.doc_id, s.band, s.sig
      FROM sigs0 s JOIN bok k ON k.band = s.band AND k.sig = s.sig
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(DISTINCT a.band) AS nb
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT doc_a AS doc, doc_b AS partner, nb FROM pairs
      UNION ALL
      SELECT doc_b, doc_a, nb FROM pairs
    ),
    ranked AS (
      SELECT doc, partner, nb,
             ROW_NUMBER() OVER (PARTITION BY doc
                                ORDER BY nb DESC, partner) AS rk
      FROM directed
    )
    SELECT LEAST(doc, partner) AS doc_a, GREATEST(doc, partner) AS doc_b,
           CAST(MIN(nb) AS BIGINT) AS n_bands_matched
    FROM ranked WHERE rk <= 16
    GROUP BY 1, 2 HAVING COUNT(*) = 2
    """,
)
def minhash_r2_capped_candidates(spark: SparkSession, sf: str):
    """The ROWS-PER-BAND=2 LSH path under the oracle gate — the
    operating point the round-9 organic-mutation study measured as the
    100 TB configuration (SCALE.md round-9 table: recall 0.9956 at
    J >= 0.5 WITH both caps, 22x fewer candidates than r=1 uncapped):
    16 bands of TWO concatenated independent minima each, bucket cap 16
    and both-endpoint pair cap 16.  The oracle spells the full
    construction — 32 hash minima, the h//2 band concat in h order, the
    bucket HAVING filter, the doubled directed rows, (nb DESC, partner)
    ranking, both-endpoint survival — so the r2 signature layout and
    BOTH cap semantics are value-checked, not just the r1 default.
    Scale: same plan family as minhash_dup_candidates (one shingle
    explode, 32 parallel agg buffers, bucket-bounded join); r=2 is what
    keeps buckets near cluster size on boilerplate-heavy corpora so
    the caps act as pure blowup guards."""
    from byte_convert_avro_spark.operators import dedup as D
    from byte_convert_avro_spark.queries.base import spread

    docs = spread(t(spark, sf, "documents"), "doc_id")
    sigs = D.minhash_signatures(
        docs, "text", "doc_id", n_bands=16, shingle_n=3, rows_per_band=2
    )
    return D.lsh_candidates(
        sigs, max_pairs_per_doc=16, max_docs_per_bucket=16
    ).select(
        "doc_a", "doc_b", F.col("n_bands_matched").cast("long").alias("n_bands_matched")
    )


# ---------------------------------------------------------------------------
@register(
    "customer_not_in_null_semantics",
    """
    WITH keys AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END AS k
      FROM orders
    ), v1 AS (
      SELECT COUNT(*) AS n FROM customer
      WHERE c_custkey NOT IN (SELECT k FROM keys)
    ), v2 AS (
      SELECT COUNT(*) AS n FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = c.c_custkey)
    )
    SELECT 'not_in' AS variant, CAST(n AS BIGINT) AS n_customers FROM v1
    UNION ALL
    SELECT 'not_exists', CAST(n AS BIGINT) FROM v2
    """,
)
def customer_not_in_null_semantics(spark: SparkSession, sf: str):
    """The NOT IN vs NOT EXISTS NULL TRAP as a first-class query — the
    classic three-valued-logic gotcha every SQL engine must honor: the
    subquery's key list contains NULLs (non-urgent orders map to NULL),
    so ``NOT IN`` can never prove non-membership and returns ZERO rows,
    while ``NOT EXISTS`` correctly counts customers with no urgent
    order.  The Spark side spells the NOT IN as the same decomposition
    Spark's NullAwareAntiJoin rewrite performs internally: the key
    frame reduces to DISTINCT non-null keys plus a 1-row has-null flag
    FIRST, then one equality left-anti + a broadcast flag gate that
    zeroes the count when any NULL exists (a raw disjunctive
    ``key == k OR k IS NULL`` anti would nested-loop against every
    fact row — the scale hazard this query documents by NOT doing it).
    NOT EXISTS is the plain left-anti on the same distinct keys.
    Output is the two counts side by side — the 'not_in' row being 0
    IS the semantics under test."""
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    keys = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey")).alias(
            "k"
        )
    )
    # NOT IN decomposed the way Spark's NullAwareAntiJoin rewrite does:
    # reduce the key frame to DISTINCT non-null keys + a 1-row has-null
    # flag FIRST (a raw disjunctive anti against every key row would be
    # a nested loop over the whole fact table — the scale hazard), then
    # anti-join on equality and zero the count when any NULL exists
    # (three-valued logic: one NULL key makes NOT IN unprovable for
    # every candidate)
    has_null = keys.agg(
        F.max(F.col("k").isNull().cast("long")).alias("hn")
    )
    dkeys = keys.filter(F.col("k").isNotNull()).distinct()
    anti = c.join(dkeys, F.col("c_custkey") == F.col("k"), "left_anti")
    not_in = (
        anti.agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(has_null))
        .select(
            F.lit("not_in").alias("variant"),
            F.when(F.col("hn") > 0, F.lit(0).cast("long"))
            .otherwise(F.col("cnt"))
            .alias("n_customers"),
        )
    )
    not_exists = (
        c.join(dkeys, F.col("c_custkey") == F.col("k"), "left_anti")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .select(F.lit("not_exists").alias("variant"), "n_customers")
    )
    return not_in.unionByName(not_exists)


# ---------------------------------------------------------------------------
@register(
    "user_interarrival_cv",
    """
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id))
               // 1000000 AS gap_s
      FROM events WHERE user_id IS NOT NULL
    ), s AS (
      SELECT user_id,
             COUNT(*) AS n,
             CAST(SUM(gap_s) AS BIGINT) AS s1,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
      FROM g WHERE gap_s IS NOT NULL
      GROUP BY user_id
      HAVING COUNT(*) >= 2 AND SUM(gap_s) > 0
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           CAST(s1 AS DOUBLE) / n AS mean_gap_s,
           sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                / (CAST(n AS DOUBLE) * n))
             / (CAST(s1 AS DOUBLE) / n) AS cv
    FROM s
    """,
)
def user_interarrival_cv(spark: SparkSession, sf: str):
    """INTER-ARRIVAL COEFFICIENT OF VARIATION per user — the burstiness
    gauge (cv ~ 1 is Poisson, >> 1 bursty, << 1 periodic): LAG gaps
    truncated to WHOLE SECONDS (integer division — us-precision gaps
    squared overflow int64 for multi-hour gaps, which this corpus has;
    ANSI mode surfaced exactly that on the first cut), then population
    stddev over mean from EXACT int64 sums (gap_s ~ 1e5, gap² ~ 1e10,
    x1e8 gaps stays under 2^63).  Every
    float op has exact integer inputs and both engines spell the same
    tree: bit-identical.  Users whose gaps ALL truncate to zero seconds
    (every event inside one wall-clock second) are EXCLUDED by the
    SUM(gap_s) > 0 guard — their cv is 0/0, which ANSI Spark turns into
    a DIVIDE_BY_ZERO crash (reachable on any bursty corpus even though
    this one never trips it; the round-10 division-loudness pin in
    tests/test_cross_engine_scalars.py records the rule).  Scale: one
    window + one groupBy on the user key."""
    from byte_convert_avro_spark.queries.base import events_ts_to_ns

    ev = events_ts_to_ns(t(spark, sf, "events")).filter(
        F.col("user_id").isNotNull()
    )
    # integer seconds: Spark's / on longs is double division — use div
    g = ev.select(
        "user_id",
        F.expr(
            "(ts DIV 1000 - lag(ts DIV 1000) OVER "
            "(PARTITION BY user_id ORDER BY ts DIV 1000, event_id)) "
            "div 1000000"
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap_s").cast("long").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("s2"),
        )
        .filter((F.col("n") >= 2) & (F.col("s1") > 0))
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / F.col("n")
    std = F.sqrt(
        (nd * F.col("s2") - F.col("s1").cast("double") * F.col("s1")) / (nd * F.col("n"))
    )
    return s.select(
        "user_id",
        F.col("n").cast("long").alias("n_gaps"),
        mean.alias("mean_gap_s"),
        (std / mean).alias("cv"),
    )


# ---------------------------------------------------------------------------
@register(
    "events_hourly_dispersion",
    """
    WITH h AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type,
             COUNT(*) AS k,
             CAST(SUM(n) AS BIGINT) AS s1,
             CAST(SUM(n * n) AS BIGINT) AS s2
      FROM h GROUP BY event_type
    )
    SELECT event_type,
           CAST(k AS BIGINT) AS n_hours,
           CAST(s1 AS BIGINT) AS n_events,
           CAST(s1 AS DOUBLE) / k AS mean_per_hour,
           (CAST(k AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (CAST(k AS DOUBLE) * k)
             / (CAST(s1 AS DOUBLE) / k) AS dispersion_index
    FROM s
    """,
)
def events_hourly_dispersion(spark: SparkSession, sf: str):
    """INDEX OF DISPERSION (variance-to-mean ratio of hourly counts) per
    event type — the Poisson-ness screen on arrival rates (~1 Poisson,
    >1 clumped/overdispersed): hour buckets by integer-us division,
    population variance over mean from exact int64 count sums, every
    float op fed by exact integers — bit-identical cross-engine.  The
    streaming twin of this readout is what an anomaly monitor
    thresholds.  Scale: two stacked aggregations, the second over
    |types| x |hours| rows."""
    from byte_convert_avro_spark.queries.base import events_ts_to_ns

    ev = events_ts_to_ns(t(spark, sf, "events"))
    h = ev.groupBy(
        "event_type", F.expr("(ts DIV 1000) DIV 3600000000").alias("hour_idx")
    ).agg(F.count("*").alias("n"))
    s = h.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    kd = F.col("k").cast("double")
    mean = F.col("s1").cast("double") / F.col("k")
    var = (kd * F.col("s2") - F.col("s1").cast("double") * F.col("s1")) / (kd * F.col("k"))
    return s.select(
        "event_type",
        F.col("k").cast("long").alias("n_hours"),
        F.col("s1").cast("long").alias("n_events"),
        mean.alias("mean_per_hour"),
        (var / mean).alias("dispersion_index"),
    )


# ---------------------------------------------------------------------------
def _k_core_oracle(k: int, rounds: int) -> str:
    """Unrolled fixed-round k-core peel CTE chain (the pagerank-oracle
    discipline: the recursion is spelled as literal rounds, so both
    engines execute the identical computation)."""
    # every u{r} is referenced by d{r+1}, u{r+1} AND the final stats
    # select — without AS MATERIALIZED DuckDB re-inlines the whole chain
    # multiplicatively (the r8 PCA-deflation oracle lesson)
    parts = [
        "WITH os AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,"
        " l_partkey AS p FROM lineitem),",
        "e0 AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b"
        " FROM os a JOIN os b ON b.ok = a.ok AND a.p < b.p),",
        "u0 AS MATERIALIZED (SELECT a, b FROM e0"
        " UNION ALL SELECT b AS a, a AS b FROM e0),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT a AS n, COUNT(*) AS deg"
            f" FROM u{r - 1} GROUP BY a),"
        )
        parts.append(f"s{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE deg >= {k}),")
        parts.append(
            f"u{r} AS MATERIALIZED (SELECT u.a, u.b FROM u{r - 1} u"
            f" JOIN s{r} x ON x.n = u.a JOIN s{r} y ON y.n = u.b),"
        )
    selects = [
        f"SELECT {r} AS round,"
        f" CAST(COUNT(DISTINCT a) AS BIGINT) AS n_nodes,"
        f" CAST(COUNT(*) // 2 AS BIGINT) AS n_edges FROM u{r}"
        for r in range(rounds + 1)
    ]
    return "\n".join(parts)[:-1] + "\n" + "\nUNION ALL\n".join(selects)


@register("copurchase_k_core_peel", _k_core_oracle(80, 6))
def copurchase_k_core_peel(spark: SparkSession, sf: str):
    """K-CORE PEELING (k=80, 6 fixed rounds) on the part co-purchase
    graph — the dense-core extraction that complements triangle
    counting: per round, remove every part with fewer than 80 distinct
    co-purchase partners and report the shrinking (n_nodes, n_edges).
    k=80 is calibrated to this corpus (min degree 42, median 115) so
    the peel has real dynamics AND converges inside the budget: 2000
    -> 1903 -> ... -> 1857 -> 1857 — the last two equal rounds ARE the
    converged 80-core.
    Runs ``operators/graph.k_core_peel``: one degree aggregation + two
    node-keyed semi-joins per round, per-round lazy localCheckpoint,
    stats as unioned 1-row aggregates — edge-sized state, zero driver
    collects, exact job budget.  The oracle unrolls the same 6 peels
    as a literal CTE chain (the pagerank discipline), so every round's
    node and edge count is value-checked; fixed rounds rather than
    peel-to-fixed-point is the contract (callers compare the last two
    rounds for convergence — at this corpus the peel stabilizes well
    inside the budget)."""
    from byte_convert_avro_spark.operators.graph import k_core_peel

    os_ = (
        t(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = os_.select(F.col("ok").alias("ok2"), F.col("p").alias("p2"))
    edges = (
        os_.join(b, (F.col("ok2") == F.col("ok")) & (F.col("p") < F.col("p2")))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return k_core_peel(edges, k=80, rounds=6)


# ---------------------------------------------------------------------------
@register(
    "user_value_holt_trend",
    # ORACLE NOTE — why WITH RECURSIVE and not list_reduce: DuckDB
    # v1.0.0's list_reduce evaluates struct-lambda fields IN PLACE on
    # the accumulator, so a field expression that reads an accumulator
    # field ALREADY WRITTEN earlier in the same struct (here m21/m22/o1/
    # o2 all read a.m11/a.m12/a.o1 after they were overwritten) computes
    # garbage for any list of length >= 3.  Pinned by
    # tests/test_queries_oracle.py::test_duckdb_list_reduce_aliasing_pin.
    # The recursive spelling below replays the IDENTICAL left-fold
    # expression tree (same products, same addition order) one step per
    # iteration, so it stays bit-identical to the Spark chunked fold:
    # f1 folds the <=16 element maps within each (user, chunk) in k
    # order, f2 folds the chunk maps in chk order.  Seeding each fold
    # with its first element is IEEE-exact vs composing with the
    # identity map (x*1+y*0 == x).
    """
    WITH RECURSIVE e AS (
      SELECT user_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS k
      FROM events WHERE user_id IS NOT NULL
    ), el AS (
      SELECT user_id, k // 16 AS chk, k % 16 AS j,
             0.875e0 AS m11, 0.875e0 AS m12,
             -0.03125e0 AS m21, 0.96875e0 AS m22,
             0.125e0 * cents AS o1, 0.03125e0 * cents AS o2
      FROM e
    ), f1 AS (
      SELECT user_id, chk, j, m11, m12, m21, m22, o1, o2
      FROM el WHERE j = 0
      UNION ALL
      SELECT b.user_id, b.chk, b.j,
             b.m11 * a.m11 + b.m12 * a.m21 AS m11,
             b.m11 * a.m12 + b.m12 * a.m22 AS m12,
             b.m21 * a.m11 + b.m22 * a.m21 AS m21,
             b.m21 * a.m12 + b.m22 * a.m22 AS m22,
             b.m11 * a.o1 + b.m12 * a.o2 + b.o1 AS o1,
             b.m21 * a.o1 + b.m22 * a.o2 + b.o2 AS o2
      FROM f1 a
      JOIN el b ON b.user_id = a.user_id AND b.chk = a.chk
                AND b.j = a.j + 1
    ), cm AS (
      SELECT user_id, chk, m11, m12, m21, m22, o1, o2,
             ROW_NUMBER() OVER (PARTITION BY user_id, chk
                                ORDER BY j DESC) AS rn
      FROM f1
    ), cmr AS (
      SELECT user_id, chk, m11, m12, m21, m22, o1, o2
      FROM cm WHERE rn = 1
    ), f2 AS (
      SELECT user_id, chk, m11, m12, m21, m22, o1, o2
      FROM cmr WHERE chk = 0
      UNION ALL
      SELECT b.user_id, b.chk,
             b.m11 * a.m11 + b.m12 * a.m21 AS m11,
             b.m11 * a.m12 + b.m12 * a.m22 AS m12,
             b.m21 * a.m11 + b.m22 * a.m21 AS m21,
             b.m21 * a.m12 + b.m22 * a.m22 AS m22,
             b.m11 * a.o1 + b.m12 * a.o2 + b.o1 AS o1,
             b.m21 * a.o1 + b.m22 * a.o2 + b.o2 AS o2
      FROM f2 a
      JOIN cmr b ON b.user_id = a.user_id AND b.chk = a.chk + 1
    ), fin AS (
      SELECT user_id, o1, o2,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY chk DESC) AS rn
      FROM f2
    ), cnts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM e GROUP BY user_id
    )
    SELECT f.user_id, c.n_events,
           f.o1 / 100.0e0 AS level_value,
           f.o2 / 100.0e0 AS trend_value,
           (f.o1 + f.o2) / 100.0e0 AS forecast_next
    FROM fin f JOIN cnts c ON c.user_id = f.user_id
    WHERE f.rn = 1
    """,
)
def user_value_holt_trend(spark: SparkSession, sf: str):
    """HOLT'S DOUBLE-EXPONENTIAL SMOOTHING (level + trend) per user —
    the forecasting classic one rung above ``user_value_ewma``:
    l_t = a*x_t + (1-a)(l+b), b_t = B(l_t - l) + (1-B)b, zero-seeded,
    a = 1/8, B = 1/4, forecast = l + b.

    The recurrence is linear in the (l, b) state, so each observation
    is an AFFINE MAP on R²: state -> M*state + o*x with
    M = [[1-a, 1-a], [-Ba, 1-Ba]], o = (a, Ba)x — and 2x2 affine maps
    compose associatively ((B.M*A.M, B.M*A.o + B.o)), so the whole
    series folds through the SAME bounded two-level chunking as the
    EWMA query, just with a 6-field struct instead of 2.  Every
    constant is an exact binary fraction (1/8, 1/4, 1/32, 31/32) and
    both engines spell the identical matrix-product expression tree
    with the identity-map init (multiplying by I and adding 0 are
    IEEE-exact), so level, trend, and forecast are BIT-IDENTICAL
    cross-engine.  This is the general template for ANY linear
    recurrence over a partitioned series — per-task arrays bounded at
    16, one tiny extra shuffle, no libm.  Scale: one window rank + two
    bounded groupBys on the user key."""
    from byte_convert_avro_spark.queries.base import events_ts_to_ns

    ev = events_ts_to_ns(t(spark, sf, "events")).filter(
        F.col("user_id").isNotNull()
    )
    k = (
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000"), "event_id")
        )
        - 1
    )
    e = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        k.alias("k"),
    )

    def compose(a, b):
        return F.struct(
            (b["m11"] * a["m11"] + b["m12"] * a["m21"]).alias("m11"),
            (b["m11"] * a["m12"] + b["m12"] * a["m22"]).alias("m12"),
            (b["m21"] * a["m11"] + b["m22"] * a["m21"]).alias("m21"),
            (b["m21"] * a["m12"] + b["m22"] * a["m22"]).alias("m22"),
            (b["m11"] * a["o1"] + b["m12"] * a["o2"] + b["o1"]).alias("o1"),
            (b["m21"] * a["o1"] + b["m22"] * a["o2"] + b["o2"]).alias("o2"),
        )

    ident = F.struct(
        F.lit(1.0).alias("m11"), F.lit(0.0).alias("m12"),
        F.lit(0.0).alias("m21"), F.lit(1.0).alias("m22"),
        F.lit(0.0).alias("o1"), F.lit(0.0).alias("o2"),
    )
    elem_maps = F.transform(
        F.array_sort(F.collect_list(F.struct("k", "cents"))),
        lambda r: F.struct(
            F.lit(0.875).alias("m11"), F.lit(0.875).alias("m12"),
            F.lit(-0.03125).alias("m21"), F.lit(0.96875).alias("m22"),
            (F.lit(0.125) * r["cents"]).alias("o1"),
            (F.lit(0.03125) * r["cents"]).alias("o2"),
        ),
    )
    ch = (
        e.withColumn("chk", F.expr("k div 16"))
        .groupBy("user_id", "chk")
        .agg(
            F.aggregate(elem_maps, ident, compose).alias("m"),
            F.count("*").alias("cnt"),
        )
    )
    chunk_maps = F.transform(
        F.array_sort(F.collect_list(F.struct("chk", "m"))), lambda r: r["m"]
    )
    fin = ch.groupBy("user_id").agg(
        F.aggregate(chunk_maps, ident, compose).alias("m"),
        F.sum("cnt").cast("long").alias("n_events"),
    )
    return fin.select(
        "user_id",
        "n_events",
        (F.col("m.o1") / F.lit(100.0)).alias("level_value"),
        (F.col("m.o2") / F.lit(100.0)).alias("trend_value"),
        ((F.col("m.o1") + F.col("m.o2")) / F.lit(100.0)).alias("forecast_next"),
    )
