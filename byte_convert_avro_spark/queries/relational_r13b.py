"""Round-13 second batch: three new first-class families.

1. **HyperLogLog** (``operators/sketch.py`` HLL block) — the register
   sketch next to the existing KMV rung: one byte of state per register,
   merge = MAX, no pre-dedup needed.  Gated bit-exactly INCLUDING the
   estimate floats, which no engine-builtin HLL can be (engine-private
   hashes); the probe-driven determinism story (literal linear-counting
   table because JVM ``ln`` differs from libm in the last ulp on 6/64
   inputs) lives in the operator docstring.
2. **Skyline / Pareto dominance** (``operators/skyline.py``) — the
   classic "best tradeoff" operator, sort-pruned (two windows) instead
   of the quadratic NOT EXISTS the SQL spelling implies; the oracle IS
   that NOT EXISTS, a deliberately asymmetric pin.
3. **Prefix-filter exact Jaccard join** (``operators/dedup.py``) — the
   exact set-similarity join rung of the dedup ladder (AllPairs/PPJoin
   family); the oracle is the brute-force all-pairs list intersection,
   so a green gate literally proves NO FALSE NEGATIVES, the property
   that separates this rung from MinHash-LSH.

Reference parity note: the reference (AvroTransform.java, 337 LoC SMT)
has none of these — they belong to the analytics/LLM-pipeline addendum
SURVEY.md §2 requires on top.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import md5_long
from byte_convert_avro_spark.operators import sketch as SK
from byte_convert_avro_spark.operators.dedup import prefix_filter_jaccard
from byte_convert_avro_spark.operators.skyline import skyline_2d
from byte_convert_avro_spark.queries.base import cents, register, t

US_PER_WEEK = 7 * 86_400 * 1_000_000


# ---------------------------------------------------------------------------
@register(
    "hll_distinct_users_by_type",
    f"""
    WITH hll AS (
      {SK.hll_sql("events", "event_type", "user_id")}
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
    """,
)
def hll_distinct_users_by_type(spark: SparkSession, sf: str):
    """HYPERLOGLOG distinct users per event type (p=6, m=64), fully
    oracle-gated — registers, the exact int64 Z-sum, AND the float
    estimate all hash-match DuckDB because every step is md5/integer
    arithmetic plus literal-constant math (see the HLL block docstring
    in operators/sketch.py; cf. the KMV twin
    ``kmv_distinct_users_estimate``).  ``exact_distinct`` counts
    distinct 32-bit hash values — the granularity the sketch itself
    sees — so the artifact shows the sketch error directly.

    Scale: ONE groupBy(type, reg) with map-side combine — state is 64
    bytes-worth per group at any cardinality, vs KMV's k values; no
    DISTINCT anywhere (max(rho) is duplicate-insensitive).  At 100 TB
    the register table is |types| x 64 rows; the estimate never touches
    the driver."""
    ev = t(spark, sf, "events")
    regs = SK.hll_registers(ev, ["event_type"], "user_id")
    fin = SK.hll_finalize(regs, ["event_type"])
    h = md5_long("user_id")
    ex = (
        ev.filter(F.col("user_id").isNotNull())
        .select("event_type", h.alias("h"))
        .groupBy("event_type")
        .agg(F.countDistinct("h").cast("long").alias("exact_distinct"))
    )
    return fin.join(ex, "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
@register(
    "hll_weekly_merge_identity",
    f"""
    WITH rr AS (
      SELECT epoch_us(ts) // {US_PER_WEEK} AS week,
             h % 64 AS reg,
             CASE WHEN h // 64 = 0 THEN 27
                  ELSE POSITION('1' IN LPAD(BIN(h // 64), 26, '0'))
             END AS rho
      FROM (
        SELECT ts,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
      )
    ), weekly AS (
      SELECT week, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2
    ), merged AS (
      SELECT reg, MAX(rho) AS rho FROM weekly GROUP BY 1
    ), global AS (
      SELECT reg, MAX(rho) AS rho FROM rr GROUP BY 1
    ), fin AS (
      SELECT CAST(64 - COUNT(*) AS BIGINT) AS v_empty,
             CAST(SUM((1::BIGINT << (32 - rho)))
                  + (64 - COUNT(*)) * 4294967296 AS BIGINT) AS sum_pow
      FROM merged
    )
    SELECT (SELECT CAST(COUNT(DISTINCT week) AS BIGINT) FROM weekly) AS n_weeks,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM merged) AS n_registers,
           (SELECT CAST(COUNT(*) AS BIGINT)
              FROM merged m JOIN global g USING (reg)
             WHERE m.rho <> g.rho) AS n_disagree,
           v_empty AS v_empty_merged,
           sum_pow AS sum_pow_merged,
           CASE WHEN v_empty > 0
                 AND {SK.HLL_NUMER_SQL} / sum_pow <= 160.0
                THEN ({SK.HLL_LC_SQL})[CAST(v_empty AS INT)]
                ELSE {SK.HLL_NUMER_SQL} / sum_pow
           END AS hll_estimate_merged
    FROM fin
    """,
)
def hll_weekly_merge_identity(spark: SparkSession, sf: str):
    """THE mergeability pin for the HLL family: per-week register
    sketches rolled up with ``hll_merge`` (MAX per register) must equal
    the sketch built over the whole stream in one pass —
    ``n_disagree`` is gated to whatever both engines compute (0 by
    max-associativity; a nonzero here means the register/rank split
    drifted between build paths).  This is the continuous-aggregate
    property that makes HLL the 100 TB distinct sketch: daily partial
    sketches merge into weekly/monthly/global rollups with NO access to
    the raw data, backfill is idempotent re-MAX, and the merged
    estimate is gated bit-exactly alongside.

    Scale: weekly state = |weeks| x 64 rows; the merge shuffles only
    that."""
    ev = t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    week = F.expr(f"(ts DIV 1000) DIV {US_PER_WEEK}").alias("week")
    base = ev.select(week, F.col("user_id"))
    weekly = SK.hll_registers(base, ["week"], "user_id")
    merged = SK.hll_merge(weekly.drop("week").withColumn("_g", F.lit(1)), ["_g"]).drop(
        "_g"
    )
    glob = SK.hll_registers(base.withColumn("_g", F.lit(1)), ["_g"], "user_id").drop(
        "_g"
    )
    n_weeks = weekly.agg(
        F.countDistinct("week").cast("long").alias("n_weeks")
    )
    n_regs = merged.agg(F.count("*").cast("long").alias("n_registers"))
    n_dis = (
        merged.withColumnRenamed("rho", "m_rho")
        .join(glob.withColumnRenamed("rho", "g_rho"), "reg")
        .filter(F.col("m_rho") != F.col("g_rho"))
        .agg(F.count("*").cast("long").alias("n_disagree"))
    )
    fin = SK.hll_finalize(merged.withColumn("_g", F.lit(1)), ["_g"]).select(
        F.col("v_empty").alias("v_empty_merged"),
        F.col("sum_pow").alias("sum_pow_merged"),
        F.col("hll_estimate").alias("hll_estimate_merged"),
    )
    return (
        n_weeks.crossJoin(n_regs)
        .crossJoin(n_dis)
        .crossJoin(fin)
    )


# ---------------------------------------------------------------------------
@register(
    "part_skyline_price_size",
    """
    WITH pc AS (
      SELECT p_partkey, CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    )
    SELECT p_partkey, price_c, p_size
    FROM pc a
    WHERE NOT EXISTS (
      SELECT 1 FROM pc b
      WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
        AND (b.price_c < a.price_c OR b.p_size > a.p_size)
    )
    ORDER BY price_c, p_partkey
    """,
    scale_oracle="""
    WITH pc AS (
      SELECT p_partkey, CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    ), w AS (
      SELECT *,
             MAX(p_size) OVER (ORDER BY price_c
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_lt,
             MAX(p_size) OVER (PARTITION BY price_c) AS max_eq
      FROM pc
    )
    SELECT p_partkey, price_c, p_size
    FROM w
    WHERE (max_lt IS NULL OR max_lt < p_size) AND max_eq <= p_size
    ORDER BY price_c, p_partkey
    """,
)
def part_skyline_price_size(spark: SparkSession, sf: str):
    """GLOBAL 2-D SKYLINE: the parts on the price/size Pareto frontier
    (no other part is both cheaper-or-equal and larger-or-equal with
    one strict).  Spark side is ``skyline_2d`` — per-bucket window
    prune, then one window over the ~|skyline|-sized survivors; the
    oracle is the textbook quadratic NOT EXISTS, so the pin is
    deliberately asymmetric (sort-prune vs anti-join semantics).

    Scale: stage 1 is embarrassingly parallel; stage 2's single
    partition sees ~buckets x |skyline| rows (|skyline| of uniform 2-D
    data ~ O(log n)) — the global sort never touches the full table.
    Plan-pinned (tests/test_plans.py): no BroadcastNestedLoopJoin /
    CartesianProduct."""
    pc = t(spark, sf, "part").select(
        "p_partkey",
        cents("p_retailprice").alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return skyline_2d(pc, "price_c", "p_size").orderBy(
        "price_c", "p_partkey"
    )


# ---------------------------------------------------------------------------
@register(
    "part_skyline_per_brand",
    """
    WITH pc AS (
      SELECT p_brand, p_partkey,
             CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    )
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS skyline_n,
           CAST(MIN(price_c) AS BIGINT) AS min_price_c,
           CAST(MAX(p_size) AS BIGINT) AS max_size,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
           CAST(SUM(p_size) AS BIGINT) AS sum_size
    FROM pc a
    WHERE NOT EXISTS (
      SELECT 1 FROM pc b
      WHERE b.p_brand = a.p_brand
        AND b.price_c <= a.price_c AND b.p_size >= a.p_size
        AND (b.price_c < a.price_c OR b.p_size > a.p_size)
    )
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    scale_oracle="""
    WITH pc AS (
      SELECT p_brand, p_partkey,
             CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    ), w AS (
      SELECT *,
             MAX(p_size) OVER (PARTITION BY p_brand ORDER BY price_c
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_lt,
             MAX(p_size) OVER (PARTITION BY p_brand, price_c) AS max_eq
      FROM pc
    ), sky AS (
      SELECT * FROM w
      WHERE (max_lt IS NULL OR max_lt < p_size) AND max_eq <= p_size
    )
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS skyline_n,
           CAST(MIN(price_c) AS BIGINT) AS min_price_c,
           CAST(MAX(p_size) AS BIGINT) AS max_size,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
           CAST(SUM(p_size) AS BIGINT) AS sum_size
    FROM sky
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def part_skyline_per_brand(spark: SparkSession, sf: str):
    """GROUPED skyline — the per-group form every window is naturally
    partitioned by (one brand's frontier per group), aggregated
    to frontier size and extent per brand.  This is the
    parallel-by-construction spelling: with ``group_keys`` the operator
    needs no global single-partition pass at all beyond the per-group
    frontier (groups partition the data), so it scales linearly in
    groups.  Oracle: correlated NOT EXISTS within the group."""
    pc = t(spark, sf, "part").select(
        "p_brand",
        "p_partkey",
        cents("p_retailprice").alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    sky = skyline_2d(pc, "price_c", "p_size", group_keys=["p_brand"])
    return (
        sky.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("skyline_n"),
            F.min("price_c").cast("long").alias("min_price_c"),
            F.max("p_size").cast("long").alias("max_size"),
            F.sum("price_c").cast("long").alias("sum_price_c"),
            F.sum("p_size").cast("long").alias("sum_size"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
@register(
    "docs_jaccard_prefix_filter_pairs",
    """
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk,
             LEN(list_distinct(string_split(text, ' '))) AS s
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             LEN(list_intersect(a.tk, b.tk)) AS inter_sz,
             a.s + b.s - LEN(list_intersect(a.tk, b.tk)) AS union_sz
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(inter_sz AS BIGINT) AS inter_sz,
           CAST(union_sz AS BIGINT) AS union_sz,
           CAST(inter_sz AS DOUBLE) / union_sz AS jacc
    FROM pairs
    WHERE inter_sz * 5 >= union_sz * 3
    ORDER BY id_a, id_b
    """,
)
def docs_jaccard_prefix_filter_pairs(spark: SparkSession, sf: str):
    """EXACT Jaccard >= 0.6 self-join over document token sets via
    PREFIX FILTERING (``prefix_filter_jaccard``; AllPairs/PPJoin
    family) — the exact rung of the near-dup ladder.  The oracle is
    the BRUTE-FORCE all-pairs list intersection, so a green gate
    proves the prefix filter dropped NO qualifying pair (zero false
    negatives) — exactly the guarantee MinHash-LSH
    (``minhash_r2_capped_candidates``) trades away for cost.

    Scale: candidates join only on each doc's (1-t)-fraction rarest
    tokens, so frequent tokens (the quadratic blowup of a naive token
    join) never key a join; the brute-force ORACLE is the quadratic
    side and is the reason this gate's cost ceiling is the oracle, not
    the operator (all-pairs at sf>=1 would need the disclosed-slice
    treatment like the other brute-force referees).  All threshold
    math integer; the one float (jacc) is a single exact-int division."""
    toks = (
        t(spark, sf, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    return (
        prefix_filter_jaccard(toks, "doc_id", "token", t_num=3, t_den=5)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
@register(
    "hll_intersection_viewers_purchasers",
    f"""
    WITH a AS (
      {SK.hll_sql("(SELECT * FROM events WHERE event_type = 'view')", "", "user_id")}
    ), b AS (
      {SK.hll_sql("(SELECT * FROM events WHERE event_type = 'purchase')", "", "user_id")}
    ), u AS (
      {SK.hll_sql("(SELECT * FROM events WHERE event_type IN ('view', 'purchase'))", "", "user_id")}
    ), ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
        SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
        INTERSECT
        SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      )
    )
    SELECT a.hll_estimate AS est_viewers,
           b.hll_estimate AS est_purchasers,
           u.hll_estimate AS est_union,
           (a.hll_estimate + b.hll_estimate) - u.hll_estimate AS est_intersection,
           ex.exact_intersection
    FROM a, b, u, ex
    """,
)
def hll_intersection_viewers_purchasers(spark: SparkSession, sf: str):
    """HLL SET ALGEBRA — inclusion-exclusion intersection from three
    sketches (viewers, purchasers, and their MAX-merged union), the HLL
    twin of ``kmv_intersection_estimate``.  HLL unions are EXACT at the
    sketch level (max per register, the merge-identity pin), so the
    only estimator error in |A∩B| = |A|+|B|-|A∪B| is the three raw
    estimates' — and because each estimate is literal/int64 arithmetic,
    the derived intersection float is gated bit-exactly too (one
    fixed-association (a+b)-u in both engines).  Exact intersection
    carried alongside as the error readout.  Scale: the three register
    tables are 3 x m rows total; the union sketch needs NO access to
    raw data — audience-overlap dashboards merge per-segment sketches
    pairwise at query time, never re-scanning events."""
    ev = t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    sides = {}
    for key, flt in (
        ("a", F.col("event_type") == "view"),
        ("b", F.col("event_type") == "purchase"),
    ):
        sides[key] = SK.hll_registers(
            ev.filter(flt).withColumn("_g", F.lit(1)), ["_g"], "user_id"
        )
    merged = SK.hll_merge(sides["a"].union(sides["b"]), ["_g"])
    # An empty side would make hll_registers -> groupBy emit ZERO rows
    # while the keyless oracle emits one (the canonical empty sketch,
    # estimate 0.0 = LC[m]); the seed left-join pins both engines to
    # exactly one row per side regardless of data.
    seed = spark.range(1).select(F.lit(1).alias("_g"))
    fins = {
        k: seed.join(SK.hll_finalize(regs, ["_g"]), "_g", "left").select(
            F.coalesce(F.col("hll_estimate"), F.lit(0.0)).alias(n)
        )
        for (k, regs), n in zip(
            [("a", sides["a"]), ("b", sides["b"]), ("u", merged)],
            ["est_viewers", "est_purchasers", "est_union"],
        )
    }
    h = md5_long("user_id")
    ha = ev.filter(F.col("event_type") == "view").select(h.alias("h")).distinct()
    hb = ev.filter(F.col("event_type") == "purchase").select(h.alias("h")).distinct()
    ex = ha.join(hb, "h").agg(
        F.count("*").cast("long").alias("exact_intersection")
    )
    return (
        fins["a"]
        .crossJoin(fins["b"])
        .crossJoin(fins["u"])
        .crossJoin(ex)
        .select(
            "est_viewers",
            "est_purchasers",
            "est_union",
            (
                (F.col("est_viewers") + F.col("est_purchasers"))
                - F.col("est_union")
            ).alias("est_intersection"),
            "exact_intersection",
        )
    )


# ---------------------------------------------------------------------------
US_PER_DAY = 86_400 * 1_000_000


@register(
    "hll_rolling_7d_distinct_users",
    f"""
    WITH rr AS (
      SELECT epoch_us(ts) // {US_PER_DAY} AS day,
             h % 64 AS reg,
             CASE WHEN h // 64 = 0 THEN 27
                  ELSE POSITION('1' IN LPAD(BIN(h // 64), 26, '0'))
             END AS rho,
             h
      FROM (
        SELECT ts,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
      )
    ), days AS (
      SELECT DISTINCT day FROM rr
    ), daily AS (
      SELECT day, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2
    ), rolled AS (
      SELECT d.day + i.i AS anchor, reg, MAX(rho) AS rho
      FROM daily d CROSS JOIN range(7) i(i)
      WHERE d.day + i.i IN (SELECT day FROM days)
      GROUP BY 1, 2
    ), fin AS (
      SELECT anchor,
             CAST(64 - COUNT(*) AS BIGINT) AS v_empty,
             CAST(SUM((1::BIGINT << (32 - rho)))
                  + (64 - COUNT(*)) * 4294967296 AS BIGINT) AS sum_pow
      FROM rolled GROUP BY 1
    ), ex AS (
      SELECT anchor, CAST(COUNT(*) AS BIGINT) AS exact_7d_distinct FROM (
        SELECT DISTINCT rr.day + i.i AS anchor, rr.h
        FROM rr CROSS JOIN range(7) i(i)
        WHERE rr.day + i.i IN (SELECT day FROM days)
      ) GROUP BY 1
    )
    SELECT CAST(fin.anchor AS BIGINT) AS day, v_empty, sum_pow,
           CASE WHEN v_empty > 0
                 AND {SK.HLL_NUMER_SQL} / sum_pow <= 160.0
                THEN ({SK.HLL_LC_SQL})[CAST(v_empty AS INT)]
                ELSE {SK.HLL_NUMER_SQL} / sum_pow
           END AS hll_7d_estimate,
           ex.exact_7d_distinct
    FROM fin JOIN ex ON ex.anchor = fin.anchor
    ORDER BY 1
    """,
)
def hll_rolling_7d_distinct_users(spark: SparkSession, sf: str):
    """ROLLING 7-DAY DISTINCT USERS from daily HLL sketches — the
    continuous-aggregate dashboard shape the merge-identity pin exists
    for: ONE pass builds |days| x m daily registers, then each daily
    sketch EXPLODES to the <=7 trailing-window anchors it covers (the
    ``user_rolling_7d_median_value`` fan-out discipline applied to
    sketch state instead of rows) and MAX-merges per anchor — no
    re-scan of events per window, no distinct-set state.  Exact
    trailing-7d distinct carried alongside as the error referee
    (test-scale only: the exact column re-explodes events; at 100 TB a
    production job would keep ONLY the sketch path, whose per-day cost
    is m rows).  Anchors restricted to observed days so both engines
    agree on the output spine.

    Scale: daily registers = |days| x 64 rows FOREVER; the rolling
    merge shuffles 7x that.  Backfill/late data is idempotent re-MAX
    into the affected anchors only."""
    ev = t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    day = F.expr(f"(ts DIV 1000) DIV {US_PER_DAY}")
    base = ev.select(day.alias("day"), "user_id")
    daily = SK.hll_registers(base, ["day"], "user_id")
    days = base.select("day").distinct()
    rolled = (
        daily.withColumn("anchor", F.explode(F.expr("sequence(day, day + 6)")))
        .join(days.withColumnRenamed("day", "anchor"), "anchor")
        .groupBy("anchor", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    fin = SK.hll_finalize(rolled, ["anchor"])
    h = md5_long("user_id")
    ex = (
        base.select("day", h.alias("h"))
        .withColumn("anchor", F.explode(F.expr("sequence(day, day + 6)")))
        .join(days.withColumnRenamed("day", "anchor"), "anchor")
        .select("anchor", "h")
        .distinct()
        .groupBy("anchor")
        .agg(F.count("*").cast("long").alias("exact_7d_distinct"))
    )
    return (
        fin.join(ex, "anchor")
        .select(
            F.col("anchor").cast("long").alias("day"),
            "v_empty",
            "sum_pow",
            F.col("hll_estimate").alias("hll_7d_estimate"),
            "exact_7d_distinct",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
@register(
    "rank_join_top10_pairs_by_balance",
    """
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cb
      FROM customer
    ), s AS (
      SELECT s_suppkey, s_nationkey,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS sb
      FROM supplier
    )
    SELECT c.c_nationkey AS nation, c.c_custkey, s.s_suppkey,
           c.cb, s.sb, c.cb + s.sb AS pair_balance_c
    FROM c JOIN s ON s.s_nationkey = c.c_nationkey
    ORDER BY pair_balance_c DESC, c.c_custkey, s.s_suppkey
    LIMIT 10
    """,
)
def rank_join_top10_pairs_by_balance(spark: SparkSession, sf: str):
    """TOP-K RANK JOIN (HRJN-style result, bounded-candidate plan): the
    10 highest-combined-balance (customer, supplier) same-nation pairs
    WITHOUT materializing the full equi-join.  The monotonicity
    certificate: the pair score is strictly increasing in each side, so
    any global top-k pair's customer must rank <= k among its nation's
    customers (fixing the supplier, every better customer yields a
    better pair in the SAME nation) — and symmetrically for suppliers.
    Spark therefore window-truncates each side to its per-nation top-10
    (one exchange per side, rank pushdown BELOW the join), joins the
    10x10-per-nation candidate set, and takes the global top-10 with
    full tie-breaks.  The oracle runs the naive full join + ORDER BY +
    LIMIT — asymmetric by construction.

    Scale: candidate rows = |nations| x k^2 regardless of table sizes —
    at 100 TB the join input is thousands of rows where the naive plan
    shuffles (|customers| x |suppliers|) / |nations|; the per-side
    truncation is the classic top-k pushdown Spark cannot derive
    itself because the LIMIT sits above the join."""
    from pyspark.sql import Window as W

    c = t(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        cents("c_acctbal").alias("cb"),
    )
    s = t(spark, sf, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nation"),
        cents("s_acctbal").alias("sb"),
    )
    topc = c.withColumn(
        "_r",
        F.row_number().over(
            W.partitionBy("nation").orderBy(F.col("cb").desc(), "c_custkey")
        ),
    ).filter(F.col("_r") <= 10).drop("_r")
    tops = s.withColumn(
        "_r",
        F.row_number().over(
            W.partitionBy("nation").orderBy(F.col("sb").desc(), "s_suppkey")
        ),
    ).filter(F.col("_r") <= 10).drop("_r")
    return (
        topc.join(tops, "nation")
        .select(
            "nation",
            "c_custkey",
            "s_suppkey",
            "cb",
            "sb",
            (F.col("cb") + F.col("sb")).alias("pair_balance_c"),
        )
        .orderBy(
            F.col("pair_balance_c").desc(), "c_custkey", "s_suppkey"
        )
        .limit(10)
    )


# ---------------------------------------------------------------------------
@register(
    "events_pattern_view_alt_action_purchase",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT) AS val_c
      FROM events WHERE user_id IS NOT NULL
    ), seq AS (
      SELECT user_id, event_id, ts_us, event_type,
             ROW_NUMBER() OVER w AS rn,
             LEAD(event_type, 1) OVER w AS n1,
             LEAD(event_type, 2) OVER w AS n2,
             LEAD(ts_us, 2) OVER w AS p_ts_us,
             LEAD(val_c, 2) OVER w AS p_val_c,
             CASE WHEN event_type = 'view'
                   AND COALESCE(LAG(event_type) OVER w, '') <> 'view'
                  THEN 1 ELSE 0 END AS mstart
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), runs AS (
      SELECT user_id, ts_us, event_type, rn, n1, n2, p_ts_us, p_val_c,
             MAX(CASE WHEN mstart = 1 THEN rn END) OVER wr AS run_start_rn,
             MAX(CASE WHEN mstart = 1 THEN ts_us END) OVER wr AS run_start_us
      FROM seq
      WINDOW wr AS (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(run_start_us AS BIGINT) AS match_start_us,
           CAST(rn - run_start_rn + 1 AS BIGINT) AS n_views,
           n1 AS matched_action,
           CAST(p_ts_us AS BIGINT) AS purchase_ts_us,
           p_val_c AS purchase_value_c
    FROM runs
    WHERE event_type = 'view' AND n1 IN ('click', 'signup')
      AND n2 = 'purchase'
    """,
)
def events_pattern_view_alt_action_purchase(spark: SparkSession, sf: str):
    """ROW-PATTERN ALTERNATION: the MATCH_RECOGNIZE pattern
    ``VIEW+ (CLICK | SIGNUP) PURCHASE`` — extending the family's
    greedy-quantifier query (``events_pattern_views_to_purchase``,
    relational_r12.py) with an ALTERNATION group, the remaining core
    pattern-syntax feature.  In the window-chain spelling alternation
    is free: the single-step branch is a set membership test on the
    same LEAD (``n1 IN ('click','signup')``), and the branch that
    matched is emitted as ``matched_action`` (MATCH_RECOGNIZE's
    CLASSIFIER()).  Same greedy / skip-past-last-row semantics as the
    base query: maximal view islands + two LEADs, one window partition,
    ONE shuffle on user_id.

    Scale: identical to the base pattern query — alternation adds a
    predicate, not a join or an extra window; a k-branch alternation
    of single-step legs is always one IN list.  Multi-step branches of
    DIFFERENT lengths would need one LEAD chain per length — linear in
    pattern size, never a blowup."""
    from pyspark.sql import Window as W

    ev = (
        t(spark, sf, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.expr("ts DIV 1000").alias("ts_us"),
            "event_type",
            cents(F.coalesce(F.col("value"), F.lit(0.0))).alias("val_c"),
        )
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    wr = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    is_start = (F.col("event_type") == "view") & (
        F.coalesce(F.lag("event_type").over(w), F.lit("")) != "view"
    )
    seq = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type", 1).over(w).alias("n1"),
        F.lead("event_type", 2).over(w).alias("n2"),
        F.lead("ts_us", 2).over(w).alias("p_ts_us"),
        F.lead("val_c", 2).over(w).alias("p_val_c"),
        is_start.alias("mstart"),
    )
    runs = seq.select(
        "user_id",
        "event_type",
        "rn",
        "n1",
        "n2",
        "p_ts_us",
        "p_val_c",
        F.max(F.when(F.col("mstart"), F.col("rn"))).over(wr).alias(
            "run_start_rn"
        ),
        F.max(F.when(F.col("mstart"), F.col("ts_us"))).over(wr).alias(
            "run_start_us"
        ),
    )
    return runs.filter(
        (F.col("event_type") == "view")
        & F.col("n1").isin("click", "signup")
        & (F.col("n2") == "purchase")
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("run_start_us").cast("long").alias("match_start_us"),
        (F.col("rn") - F.col("run_start_rn") + 1)
        .cast("long")
        .alias("n_views"),
        F.col("n1").alias("matched_action"),
        F.col("p_ts_us").cast("long").alias("purchase_ts_us"),
        F.col("p_val_c").alias("purchase_value_c"),
    )


# ---------------------------------------------------------------------------
@register(
    "hll_weekly_overlap_matrix",
    f"""
    WITH rr AS (
      SELECT epoch_us(ts) // {US_PER_WEEK} AS week,
             h % 64 AS reg,
             CASE WHEN h // 64 = 0 THEN 27
                  ELSE POSITION('1' IN LPAD(BIN(h // 64), 26, '0'))
             END AS rho,
             h
      FROM (
        SELECT ts,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
      )
    ), weekly AS (
      SELECT week, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2
    ), singles AS (
      SELECT week,
             CAST(64 - COUNT(*) AS BIGINT) AS v_empty,
             CAST(SUM((1::BIGINT << (32 - rho)))
                  + (64 - COUNT(*)) * 4294967296 AS BIGINT) AS sum_pow
      FROM weekly GROUP BY 1
    ), est1 AS (
      SELECT week,
             CASE WHEN v_empty > 0
                   AND {SK.HLL_NUMER_SQL} / sum_pow <= 160.0
                  THEN ({SK.HLL_LC_SQL})[CAST(v_empty AS INT)]
                  ELSE {SK.HLL_NUMER_SQL} / sum_pow
             END AS est
      FROM singles
    ), wpairs AS (
      SELECT a.week AS week_a, b.week AS week_b
      FROM (SELECT DISTINCT week FROM weekly) a
      JOIN (SELECT DISTINCT week FROM weekly) b ON a.week < b.week
    ), umerged AS (
      SELECT p.week_a, p.week_b, w.reg, MAX(w.rho) AS rho
      FROM wpairs p JOIN weekly w
        ON w.week = p.week_a OR w.week = p.week_b
      GROUP BY 1, 2, 3
    ), ufin AS (
      SELECT week_a, week_b,
             CAST(64 - COUNT(*) AS BIGINT) AS v_empty_union,
             CAST(SUM((1::BIGINT << (32 - rho)))
                  + (64 - COUNT(*)) * 4294967296 AS BIGINT) AS sum_pow_union
      FROM umerged GROUP BY 1, 2
    ), uest AS (
      SELECT week_a, week_b, v_empty_union, sum_pow_union,
             CASE WHEN v_empty_union > 0
                   AND {SK.HLL_NUMER_SQL} / sum_pow_union <= 160.0
                  THEN ({SK.HLL_LC_SQL})[CAST(v_empty_union AS INT)]
                  ELSE {SK.HLL_NUMER_SQL} / sum_pow_union
             END AS est_union
      FROM ufin
    ), ex AS (
      SELECT a.week AS week_a, b.week AS week_b,
             CAST(COUNT(*) AS BIGINT) AS exact_overlap
      FROM (SELECT DISTINCT week, h FROM rr) a
      JOIN (SELECT DISTINCT week, h FROM rr) b
        ON b.h = a.h AND a.week < b.week
      GROUP BY 1, 2
    )
    SELECT CAST(u.week_a AS BIGINT) AS week_a,
           CAST(u.week_b AS BIGINT) AS week_b,
           u.v_empty_union, u.sum_pow_union,
           (ea.est + eb.est) - u.est_union AS est_overlap,
           COALESCE(ex.exact_overlap, 0) AS exact_overlap
    FROM uest u
    JOIN est1 ea ON ea.week = u.week_a
    JOIN est1 eb ON eb.week = u.week_b
    LEFT JOIN ex ON ex.week_a = u.week_a AND ex.week_b = u.week_b
    ORDER BY 1, 2
    """,
)
def hll_weekly_overlap_matrix(spark: SparkSession, sf: str):
    """AUDIENCE-OVERLAP MATRIX from merged sketches — the HLL family's
    capstone: every (week_a, week_b) pair's shared-user estimate by
    inclusion-exclusion over PAIRWISE-MERGED weekly register tables,
    touching raw events exactly ONCE (to build |weeks| x m registers) —
    the ``hll_intersection_viewers_purchasers`` docstring's dashboard
    claim made a query.  The pair-union sketch is two single-week
    register tables MAX-merged (union exactness at sketch level), so
    the only estimator error is the three raw estimates'; the derived
    float is one fixed-association (a+b)-u, gated bit-exactly.  Exact
    pairwise overlap carried as the referee (test-scale only — it
    re-joins distinct (week, hash) rows; production keeps the sketch
    path, whose pair cost is m rows per pair at ANY cardinality).

    Scale: |weeks|^2/2 x m register rows through one groupBy — for a
    year of weekly sketches that is ~87k rows total; the raw data is
    never re-read however many pairs the dashboard asks for."""
    ev = t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    week = F.expr(f"(ts DIV 1000) DIV {US_PER_WEEK}")
    base = ev.select(week.alias("week"), "user_id")
    weekly = SK.hll_registers(base, ["week"], "user_id")
    weeks = weekly.select("week").distinct()
    wpairs = (
        weeks.select(F.col("week").alias("week_a"))
        .join(weeks.select(F.col("week").alias("week_b")))
        .filter(F.col("week_a") < F.col("week_b"))
    )
    tagged_a = wpairs.join(
        weekly.withColumnRenamed("week", "week_a"), "week_a"
    )
    tagged_b = wpairs.join(
        weekly.withColumnRenamed("week", "week_b"), "week_b"
    )
    umerged = SK.hll_merge(
        tagged_a.select("week_a", "week_b", "reg", "rho").union(
            tagged_b.select("week_a", "week_b", "reg", "rho")
        ),
        ["week_a", "week_b"],
    )
    ufin = SK.hll_finalize(umerged, ["week_a", "week_b"]).select(
        "week_a",
        "week_b",
        F.col("v_empty").alias("v_empty_union"),
        F.col("sum_pow").alias("sum_pow_union"),
        F.col("hll_estimate").alias("est_union"),
    )
    est1 = SK.hll_finalize(weekly, ["week"]).select(
        "week", F.col("hll_estimate").alias("est")
    )
    h = md5_long("user_id")
    wh = base.select("week", h.alias("h")).distinct()
    ex = (
        wh.select(F.col("week").alias("week_a"), "h")
        .join(wh.select(F.col("week").alias("week_b"), "h"), "h")
        .filter(F.col("week_a") < F.col("week_b"))
        .groupBy("week_a", "week_b")
        .agg(F.count("*").cast("long").alias("exact_overlap"))
    )
    return (
        ufin.join(est1.withColumnRenamed("week", "week_a").withColumnRenamed("est", "est_a"), "week_a")
        .join(est1.withColumnRenamed("week", "week_b").withColumnRenamed("est", "est_b"), "week_b")
        .join(ex, ["week_a", "week_b"], "left")
        .select(
            F.col("week_a").cast("long").alias("week_a"),
            F.col("week_b").cast("long").alias("week_b"),
            "v_empty_union",
            "sum_pow_union",
            ((F.col("est_a") + F.col("est_b")) - F.col("est_union")).alias(
                "est_overlap"
            ),
            F.coalesce(F.col("exact_overlap"), F.lit(0).cast("long")).alias(
                "exact_overlap"
            ),
        )
        .orderBy("week_a", "week_b")
    )


# ---------------------------------------------------------------------------
@register(
    "rank_join_top3_pairs_per_nation",
    """
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cb
      FROM customer
    ), s AS (
      SELECT s_suppkey, s_nationkey,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS sb
      FROM supplier
    ), pairs AS (
      SELECT c.c_nationkey AS nation, c.c_custkey, s.s_suppkey,
             c.cb + s.sb AS pair_balance_c,
             ROW_NUMBER() OVER (
               PARTITION BY c.c_nationkey
               ORDER BY c.cb + s.sb DESC, c.c_custkey, s.s_suppkey
             ) AS rk
      FROM c JOIN s ON s.s_nationkey = c.c_nationkey
    )
    SELECT nation, CAST(rk AS BIGINT) AS rk, c_custkey, s_suppkey,
           pair_balance_c
    FROM pairs WHERE rk <= 3
    ORDER BY nation, rk
    """,
    # Scale twin (r14): the QUALIFY-style primary materializes the FULL
    # per-nation product (quadratic by design — it exhausted DuckDB temp
    # at sf10); this spelling applies the same per-group monotonicity
    # certificate the operator uses — exact incl. lexicographic ties: a
    # top-3 pair's customer must rank top-3 by (cb DESC, key), else the
    # 3 better customers paired with the same supplier each beat it —
    # fuzz-pinned in tests/test_operators_direct.py, equivalence to the
    # primary pinned by test_scale_oracles_agree_with_primary.
    scale_oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cb
      FROM customer
    ), s AS (
      SELECT s_suppkey, s_nationkey,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS sb
      FROM supplier
    ), tc AS (
      SELECT * FROM (
        SELECT c.*, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                 ORDER BY cb DESC, c_custkey) AS r FROM c) WHERE r <= 3
    ), ts AS (
      SELECT * FROM (
        SELECT s.*, ROW_NUMBER() OVER (PARTITION BY s_nationkey
                 ORDER BY sb DESC, s_suppkey) AS r FROM s) WHERE r <= 3
    ), pairs AS (
      SELECT tc.c_nationkey AS nation, tc.c_custkey, ts.s_suppkey,
             tc.cb + ts.sb AS pair_balance_c,
             ROW_NUMBER() OVER (
               PARTITION BY tc.c_nationkey
               ORDER BY tc.cb + ts.sb DESC, tc.c_custkey, ts.s_suppkey
             ) AS rk
      FROM tc JOIN ts ON ts.s_nationkey = tc.c_nationkey
    )
    SELECT nation, CAST(rk AS BIGINT) AS rk, c_custkey, s_suppkey,
           pair_balance_c
    FROM pairs WHERE rk <= 3
    ORDER BY nation, rk
    """,
)
def rank_join_top3_pairs_per_nation(spark: SparkSession, sf: str):
    """GROUPED top-k rank join — the per-group form of
    ``rank_join_top10_pairs_by_balance``: the 3 best customer/supplier
    balance pairs WITHIN each nation.  The same monotonicity
    certificate applies per group with k=3 (a pair in its nation's
    top-3 must have both sides in their nation's top-3), so both
    inputs window-truncate to per-nation top-3 before the join and the
    final per-nation ranking runs over <= 9 candidates per nation.
    The oracle is the QUALIFY-style spelling: full join + ROW_NUMBER
    per nation <= 3.

    Scale: like the global form, candidate rows = |nations| x k^2 at
    any table size; the output window partitions by nation, so no
    single-partition pass exists anywhere in the plan."""
    from pyspark.sql import Window as W

    c = t(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        cents("c_acctbal").alias("cb"),
    )
    s = t(spark, sf, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nation"),
        cents("s_acctbal").alias("sb"),
    )
    k = 3
    topc = c.withColumn(
        "_r",
        F.row_number().over(
            W.partitionBy("nation").orderBy(F.col("cb").desc(), "c_custkey")
        ),
    ).filter(F.col("_r") <= k).drop("_r")
    tops = s.withColumn(
        "_r",
        F.row_number().over(
            W.partitionBy("nation").orderBy(F.col("sb").desc(), "s_suppkey")
        ),
    ).filter(F.col("_r") <= k).drop("_r")
    cand = topc.join(tops, "nation").select(
        "nation",
        "c_custkey",
        "s_suppkey",
        (F.col("cb") + F.col("sb")).alias("pair_balance_c"),
    )
    rk = F.row_number().over(
        W.partitionBy("nation").orderBy(
            F.col("pair_balance_c").desc(), "c_custkey", "s_suppkey"
        )
    )
    return (
        cand.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= k)
        .select("nation", "rk", "c_custkey", "s_suppkey", "pair_balance_c")
        .orderBy("nation", "rk")
    )
