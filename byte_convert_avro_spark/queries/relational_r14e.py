"""Round-14 session-5 additions: multi-group rank statistics, lead-lag
series association, and graph-level degree correlation.

Families and why they are NEW surface, not respellings:

- **Kruskal-Wallis cells** (``events_kruskal_wallis_cells``): the
  K-group generalization of Mann-Whitney — the existing two-sample
  entries (Welch, KS, MW) compare exactly TWO slices; KW asks "do ANY
  of the k event types differ in value distribution", the one-way
  nonparametric ANOVA every segmentation pass runs first.  It reuses
  the MW machinery verbatim (tie-averaged ranks from the DISTINCT-VALUE
  domain: a tied block's doubled average rank is ``2w + t + 1``) and
  the chi2-cells emission discipline: one row per group with its exact
  doubled rank sum, so no cross-row float sum exists anywhere in the
  compare surface.
- **Daily lead-lag cross-correlation**
  (``events_daily_crosscorr_view_purchase``): ``events_value_acf_by_-
  type`` correlates a series WITH ITSELF; this correlates two DIFFERENT
  daily series (views vs purchases) at lags −3..+3 — the standard
  "does marketing activity lead conversions, and by how many days"
  readout.  All five moment sums are exact int64 per lag; Pearson r is
  one fixed expression tree over them.
- **Degree assortativity** (``trade_degree_assortativity``): the graph
  family has per-NODE statistics (degree histogram, clustering
  coefficient, k-core) and per-GRAPH spectra (PageRank, HITS); this is
  the per-EDGE mixing statistic — the Pearson correlation of endpoint
  degrees across edges (Newman 2002), answering "do high-degree
  customers trade with high-degree suppliers (assortative) or with
  niche ones (disassortative)".  The moment sums stay exact int64 on
  the uniform TPC-H degree profile; the cross products m·Σ (which pass
  2^63 at sf10) are one fixed DOUBLE tree over those gated exact sums.

Cross-engine float discipline (the welch_t/changepoint rules): every
float is produced by ONE identical expression tree over exact-integer
inputs, with divisions guarded by conditionally-evaluated CASE.

Reference parity note: the reference (AvroTransform.java, 337-LoC
Kafka-Connect SMT) has none of these operators — all belong to the
analytics/LLM-pipeline addendum SURVEY.md §2 mandates on top of the
decode pipeline.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import md5_long
from byte_convert_avro_spark.operators.graph import endpoints
from byte_convert_avro_spark.queries.base import (
    cents,
    register,
    t,
)

_DAY_US = 86_400_000_000


# ---------------------------------------------------------------------------
@register(
    "events_kruskal_wallis_cells",
    """
    WITH f AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), g1 AS (
      SELECT event_type, vc, CAST(COUNT(*) AS BIGINT) AS tg
      FROM f GROUP BY event_type, vc
    ), g0 AS (
      SELECT vc, CAST(SUM(tg) AS BIGINT) AS t FROM g1 GROUP BY vc
    ), gt AS (
      SELECT vc, t,
             COALESCE(CAST(SUM(t) OVER (ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS w
      FROM g0
    ), pg AS (
      SELECT g1.event_type,
             CAST(SUM(g1.tg) AS BIGINT) AS n_g,
             CAST(SUM(g1.tg * (2 * gt.w + gt.t + 1)) AS BIGINT) AS r2_g
      FROM g1 JOIN gt USING (vc)
      GROUP BY g1.event_type
    ), tot AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
      FROM gt
    )
    SELECT pg.event_type, pg.n_g,
           CAST(CAST(pg.r2_g AS DECIMAL(38,0)) AS VARCHAR) AS r2_g,
           CASE WHEN pg.n_g > 0 THEN
             CAST(pg.r2_g AS DOUBLE) / (2.0 * CAST(pg.n_g AS DOUBLE))
           END AS mean_rank,
           CASE WHEN tot.n > 0 THEN
             (3.0 * CAST(pg.r2_g AS DOUBLE) * CAST(pg.r2_g AS DOUBLE))
               / (CAST(pg.n_g AS DOUBLE) * CAST(tot.n AS DOUBLE)
                  * (CAST(tot.n AS DOUBLE) + 1.0))
           END AS h_contrib,
           tot.n AS n_total, tot.tie_term,
           CASE WHEN tot.n >= 2 THEN
             1.0 - CAST(tot.tie_term AS DOUBLE)
               / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                  * CAST(tot.n AS DOUBLE) - CAST(tot.n AS DOUBLE))
           END AS tie_correction
    FROM pg CROSS JOIN tot
    """,
)
def events_kruskal_wallis_cells(spark: SparkSession, sf: str):
    """KRUSKAL-WALLIS H cells across ALL event types on value — the
    K-group rank test (one-way nonparametric ANOVA).  Emission follows
    the chi2-cells rule: one row PER GROUP carrying its exact doubled
    rank sum ``r2_g = Σ tg·(2w+t+1)`` (tie-averaged ranks from the
    distinct-value domain, the MW spelling) plus the per-group H
    contribution ``12·R_g²/(n_g·N·(N+1)) = 3·r2_g²/(n_g·N·(N+1))`` as
    one fixed float tree — H itself is Σ h_contrib − 3(N+1), divided by
    tie_correction, a reader-side fold over ≤|event types| rows, so no
    cross-row float sum ever crosses the compare boundary.  r2_g
    conveys as a digit string (the round-14c DECIMAL rule: it passes
    2^53 near 7e7 pooled rows).  Scale: one map-side-combined groupBy
    to the (type, value) domain, one domain-bounded cumulative pass,
    one K-row fold — the single-partition window runs over the DISTINCT
    value domain, never rows (the KS/MW/QQ discipline)."""
    ev = t(spark, sf, "events")
    f = ev.filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", cents("value").alias("vc"))
    g1 = f.groupBy("event_type", "vc").agg(
        F.count("*").cast("long").alias("tg")
    )
    wprev = W.orderBy("vc").rowsBetween(W.unboundedPreceding, -1)
    gt = (
        g1.groupBy("vc")
        .agg(F.sum("tg").cast("long").alias("t"))
        .select(
            "vc",
            "t",
            F.coalesce(
                F.sum("t").over(wprev).cast("long"), F.lit(0)
            ).alias("w"),
        )
    )
    pg = (
        g1.join(gt, "vc")
        .groupBy("event_type")
        .agg(
            F.sum("tg").cast("long").alias("n_g"),
            F.sum(F.col("tg") * (2 * F.col("w") + F.col("t") + 1))
            .cast("long")
            .alias("r2_g"),
        )
    )
    tot = gt.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_term"),
    )
    n_d = F.col("n").cast("double")
    r2_d = F.col("r2_g").cast("double")
    return pg.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_g",
        F.col("r2_g").cast("decimal(38,0)").cast("string").alias("r2_g"),
        F.when(
            F.col("n_g") > 0,
            r2_d / (F.lit(2.0) * F.col("n_g").cast("double")),
        ).alias("mean_rank"),
        F.when(
            F.col("n") > 0,
            (F.lit(3.0) * r2_d * r2_d)
            / (
                F.col("n_g").cast("double")
                * n_d
                * (n_d + F.lit(1.0))
            ),
        ).alias("h_contrib"),
        F.col("n").alias("n_total"),
        "tie_term",
        F.when(
            F.col("n") >= 2,
            F.lit(1.0)
            - F.col("tie_term").cast("double")
            / (n_d * n_d * n_d - n_d),
        ).alias("tie_correction"),
    )


# ---------------------------------------------------------------------------
@register(
    "events_daily_crosscorr_view_purchase",
    f"""
    WITH f AS (
      SELECT epoch_us(ts) // {_DAY_US} AS day, event_type
      FROM events WHERE ts IS NOT NULL
    ), daily AS (
      SELECT day,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p
      FROM f GROUP BY day
    ), lags AS (
      SELECT unnest(generate_series(-3, 3)) AS lag
    ), s AS (
      SELECT l.lag,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(a.v) AS BIGINT) AS sx,
             CAST(SUM(b.p) AS BIGINT) AS sy,
             CAST(SUM(a.v * b.p) AS BIGINT) AS sxy,
             CAST(SUM(a.v * a.v) AS BIGINT) AS sxx,
             CAST(SUM(b.p * b.p) AS BIGINT) AS syy
      FROM lags l
      CROSS JOIN daily a
      JOIN daily b ON b.day = a.day + l.lag
      GROUP BY l.lag
    )
    SELECT lag, n_days,
           n_days * sxy - sx * sy AS cov_num,
           CASE WHEN n_days * sxx - sx * sx > 0
                 AND n_days * syy - sy * sy > 0
           THEN CAST(n_days * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
           END AS crosscorr
    FROM s ORDER BY lag
    """,
)
def events_daily_crosscorr_view_purchase(spark: SparkSession, sf: str):
    """LEAD-LAG CROSS-CORRELATION between the daily view series and the
    daily purchase series at lags −3..+3 days: ``crosscorr`` at lag L
    is the Pearson correlation of (views on day d, purchases on day
    d+L), so a peak at L>0 reads "views lead purchases by L days" —
    the attribution-window diagnostic next to the ACF family's
    self-correlation.  Per lag, the five moment sums over the aligned
    day pairs are exact int64 (daily counts squared times the
    day-domain size stays far under 2^63 at any plausible SF) and r is
    one fixed float tree over them, guarded against zero variance; the
    exact covariance numerator ``n·sxy − sx·sy`` is emitted alongside
    so the float's integer provenance is itself gated.  Scale: the day
    domain is |days|-bounded (one map-side-combined groupBy from rows
    to days), the 7-lag self-join is |days|×7 — constant-sized
    downstream of the first aggregation, the aggregation-first
    discipline of the trend family."""
    ev = t(spark, sf, "events").withColumn("ts_us", F.expr("ts DIV 1000"))
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .select(F.expr("ts_us DIV 86400000000").alias("day"), "event_type")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("v"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("p"),
        )
    )
    a = daily.select(F.col("day").alias("a_day"), F.col("v"))
    b = daily.select(F.col("day").alias("b_day"), F.col("p"))
    lags = spark.range(-3, 4).select(F.col("id").cast("long").alias("lag"))
    s = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b_day") == F.col("a_day") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("v").cast("long").alias("sx"),
            F.sum("p").cast("long").alias("sy"),
            F.sum(F.col("v") * F.col("p")).cast("long").alias("sxy"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("sxx"),
            F.sum(F.col("p") * F.col("p")).cast("long").alias("syy"),
        )
    )
    n = F.col("n_days")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "lag",
        "n_days",
        cov.alias("cov_num"),
        F.when(
            (varx > 0) & (vary > 0),
            cov.cast("double")
            / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))),
        ).alias("crosscorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
@register(
    "trade_degree_assortativity",
    """
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    dc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS dx FROM e GROUP BY c),
    ds AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dy FROM e GROUP BY s),
    ej AS (
      SELECT dc.dx, ds.dy FROM e JOIN dc USING (c) JOIN ds USING (s)
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dy) AS BIGINT) AS sy,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dy * dy) AS BIGINT) AS syy
      FROM ej
    )
    SELECT m AS m_edges, sx AS sum_dc, sy AS sum_ds, sxy AS sum_dcds,
           sxx AS sum_dc_sq, syy AS sum_ds_sq,
           CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
           THEN (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS r_assortativity
    FROM m
    """,
)
def trade_degree_assortativity(spark: SparkSession, sf: str):
    """DEGREE ASSORTATIVITY of the bipartite customer→supplier trade
    graph (Newman 2002): the Pearson correlation of (deg(c), deg(s))
    across distinct trade EDGES — positive means busy customers buy
    from busy suppliers, negative means hubs serve the periphery.  The
    graph family's per-EDGE mixing statistic, complementing per-node
    (degree histogram, clustering coefficient) and per-graph (PageRank,
    HITS) members.  The six moment SUMS stay exact int64 (Σdx·dy over
    4.5e7 sf10 edges with typical degrees 40×450 is ~8e11; the TPC-H
    degree distribution is uniform, and each sum's bound Σ ≤ m·max_deg²
    is documented here so a skewed deployment knows the DECIMAL upgrade
    point); the CROSS products m·Σ — which DO pass 2^63 at sf10 — are
    computed in DOUBLE as one fixed tree over the exact sums, with
    every exact sum emitted alongside so the float's provenance is
    itself gated.  Scale: degrees are two map-side-combined groupBys of
    the edge list; the decoration join ships two node-sized tables onto
    edges; the fold is one row.  Same static edge-list backbone as
    PageRank/HITS — no iteration here at all."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    dc = e.groupBy("c").agg(F.count("*").cast("long").alias("dx"))
    ds = e.groupBy("s").agg(F.count("*").cast("long").alias("dy"))
    ej = e.join(dc, "c").join(ds, "s").select("dx", "dy")
    m = ej.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    m_d = F.col("m").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    varx = m_d * F.col("sxx").cast("double") - sx_d * sx_d
    vary = m_d * F.col("syy").cast("double") - sy_d * sy_d
    cov = m_d * F.col("sxy").cast("double") - sx_d * sy_d
    return m.select(
        F.col("m").alias("m_edges"),
        F.col("sx").alias("sum_dc"),
        F.col("sy").alias("sum_ds"),
        F.col("sxy").alias("sum_dcds"),
        F.col("sxx").alias("sum_dc_sq"),
        F.col("syy").alias("sum_ds_sq"),
        F.when(
            (varx > 0) & (vary > 0),
            cov / (F.sqrt(varx) * F.sqrt(vary)),
        ).alias("r_assortativity"),
    )


# ---------------------------------------------------------------------------
def _mg_oracle() -> str:
    from byte_convert_avro_spark.operators.sketch import mg_sql

    mg = mg_sql(
        "(SELECT t.token FROM documents, LATERAL (SELECT"
        " unnest(string_split(text, ' ')) AS token) t WHERE t.token <> '')",
        "token",
        16,
        8,
    )
    return f"""
    WITH tok AS (
      SELECT t.token FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token) t
      WHERE t.token <> ''
    ), exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY token
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok),
    mg AS ({mg}),
    missed AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS missed_heavy
      FROM exact CROSS JOIN n
      WHERE exact_cnt * 17 > n_total
        AND token NOT IN (SELECT token FROM mg)
    ),
    top AS (
      SELECT token, est FROM mg ORDER BY est DESC, token LIMIT 10
    )
    SELECT top.token, top.est AS est_cnt, exact.exact_cnt,
           exact.exact_cnt - top.est AS deficit,
           n.n_total,
           (exact.exact_cnt - top.est) * 17 <= n.n_total AS bound_ok,
           missed.missed_heavy
    FROM top JOIN exact USING (token)
    CROSS JOIN n CROSS JOIN missed
    """


@register("token_misra_gries_vs_exact", _mg_oracle())
def token_misra_gries_vs_exact(spark: SparkSession, sf: str):
    """MISRA-GRIES HEAVY-HITTER SUMMARY vs exact — the DETERMINISTIC
    dual of the count-min entry (``token_count_min_vs_exact``):
    count-min OVERcounts probabilistically; a Misra-Gries k-summary
    UNDERcounts by at most N/(k+1) total, so every token with true
    frequency > N/(k+1) is guaranteed kept (Misra & Gries 1982), and
    the summary is MERGEABLE under any merge tree (Agarwal et al.,
    PODS'12) — the property ``operators/sketch.misra_gries_summary``
    exploits to distribute it: per-hash-chunk exact counts reduce to
    k-summaries independently, one union+reduce merges them.  k=16 on
    a vocabulary far beyond 16 makes the deficit column non-trivially
    positive, and the md5-chunked + (count DESC, token)-pivot spelling
    makes every estimate a pinned VALUE cross-engine.  The gate checks
    the top-10 estimates, each row's exact integer bound
    ``deficit·(k+1) <= N``, and ``missed_heavy = 0`` (no guaranteed
    heavy hitter absent from the summary).  Scale: the sketch is
    k-bounded at every level (per-chunk window over domain/chunks
    rows, final window over <= chunks·k rows); the guarantee is
    relative to N, so the design is scale-free."""
    from byte_convert_avro_spark.operators.sketch import misra_gries_summary

    k = 16
    tok = (
        t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    exact = tok.groupBy("token").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    n = tok.agg(F.count("*").cast("long").alias("n_total"))
    mg = misra_gries_summary(tok, "token", k=k, chunks=8)
    missed = (
        exact.crossJoin(F.broadcast(n))
        .join(mg, "token", "left_anti")
        .filter(F.col("exact_cnt") * (k + 1) > F.col("n_total"))
        .agg(F.count("*").cast("long").alias("missed_heavy"))
    )
    top = mg.orderBy(F.col("est").desc(), "token").limit(10)
    return (
        top.join(exact, "token")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(missed))
        .select(
            "token",
            F.col("est").alias("est_cnt"),
            "exact_cnt",
            (F.col("exact_cnt") - F.col("est")).alias("deficit"),
            "n_total",
            (
                (F.col("exact_cnt") - F.col("est")) * (k + 1)
                <= F.col("n_total")
            ).alias("bound_ok"),
            "missed_heavy",
        )
    )


# ---------------------------------------------------------------------------
# Feature-engineering family: the two workhorse encodings an ML data
# pipeline applies before training — the HASHING TRICK (project an
# unbounded token vocabulary into a fixed B-dim feature space, signed to
# debias collisions) and SMOOTHED TARGET ENCODING (replace a
# high-cardinality categorical with a shrunk per-category target mean).
# Both are pure relational algebra here, exactly gateable.


@register(
    "doc_feature_hashing_load",
    """
    WITH tok AS (
      SELECT t.token FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token) t
      WHERE t.token <> ''
    ), cnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), h AS (
      SELECT token, c,
             ('0x' || substr(md5(token || ':fh'), 1, 8))::BIGINT % 256
               AS bucket,
             1 - 2 * (('0x' || substr(md5(token || ':sg'), 1, 8))::BIGINT
                      % 2) AS sign
      FROM cnt
    ), b AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(c) AS BIGINT) AS n_occurrences,
             CAST(SUM(sign * c) AS BIGINT) AS signed_net
      FROM h GROUP BY bucket
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS buckets_used,
             CAST(MAX(n_tokens) AS BIGINT) AS max_tokens_per_bucket,
             CAST(SUM(n_tokens) AS BIGINT) AS vocab_size
      FROM b
    )
    SELECT b.bucket, b.n_tokens, b.n_occurrences, b.signed_net,
           g.buckets_used, g.max_tokens_per_bucket, g.vocab_size
    FROM b CROSS JOIN g
    ORDER BY b.n_occurrences DESC, b.bucket LIMIT 10
    """,
)
def doc_feature_hashing_load(spark: SparkSession, sf: str):
    """FEATURE HASHING (the hashing trick, Weinberger et al. 2009) over
    the document vocabulary: every token maps to one of B=256 buckets
    by the md5 ``:fh`` hash, with a second independent ``:sg`` hash
    choosing a ±1 sign so colliding tokens cancel in expectation
    instead of stacking (the signed variant's unbiasedness argument).
    The gate pins the 10 heaviest buckets' load (distinct tokens,
    occurrences, signed net) plus the global collision profile
    (buckets_used, max_tokens_per_bucket, vocab_size) — i.e. the
    entire materialized feature-space layout is a checked VALUE.
    Scale: one map-side-combined groupBy to the vocab domain, one
    256-ary groupBy after a narrow hash projection; B is a constant, so
    the feature space never grows with the corpus — that is the trick's
    point, and why this is THE encoding for 100 TB text features."""
    tok = (
        t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    cnt = tok.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    bucket = md5_long(F.concat(F.col("token"), F.lit(":fh"))) % 256
    sign = 1 - 2 * (md5_long(F.concat(F.col("token"), F.lit(":sg"))) % 2)
    b = (
        cnt.select("token", "c", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("c").cast("long").alias("n_occurrences"),
            F.sum(F.col("sign") * F.col("c")).cast("long").alias("signed_net"),
        )
    )
    g = b.agg(
        F.count("*").cast("long").alias("buckets_used"),
        F.max("n_tokens").cast("long").alias("max_tokens_per_bucket"),
        F.sum("n_tokens").cast("long").alias("vocab_size"),
    )
    return (
        b.crossJoin(F.broadcast(g))
        .orderBy(F.col("n_occurrences").desc(), "bucket")
        .limit(10)
    )


# ---------------------------------------------------------------------------
@register(
    "customer_target_encoding_smoothed",
    """
    WITH o AS (
      SELECT o_custkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), g AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM o
    ), c AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM o GROUP BY o_custkey
    )
    SELECT c.o_custkey, c.n_orders, c.sum_cents,
           CAST(c.sum_cents AS DOUBLE) / CAST(c.n_orders AS DOUBLE) / 100.0
             AS raw_mean,
           (CAST(c.sum_cents AS DOUBLE)
            + 10.0 * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)))
             / (CAST(c.n_orders AS DOUBLE) + 10.0) / 100.0
             AS enc_smoothed,
           g.n AS n_total
    FROM c CROSS JOIN g
    ORDER BY c.n_orders DESC, c.o_custkey LIMIT 20
    """,
)
def customer_target_encoding_smoothed(spark: SparkSession, sf: str):
    """SMOOTHED TARGET ENCODING of the high-cardinality ``o_custkey``
    column against order value — the mean-encoding every tabular-ML
    pipeline applies where one-hot would explode: enc = (Σy_c + m·ȳ) /
    (n_c + m) with m=10, shrinking rare clerks toward the global prior
    (empirical-Bayes form).  All sums are exact integer cents (Σ cents
    < 2^53 through sf100); both means are fixed float trees over them
    (the exact-sum/count division discipline), so every encoding is a
    pinned value.  The full-data prior is DISCLOSED leakage: the
    leakage-safe deployment computes g on the TRAIN split only (the
    ``leakage_safe_split_by_content`` assignment composes directly);
    out-of-fold encoding is the same plan per fold.  Scale: one
    map-side-combined groupBy to the customer domain + a 1-row
    broadcast prior — nothing row-scaled
    downstream of the first aggregation."""
    o = t(spark, sf, "orders").select(
        "o_custkey", cents("o_totalprice").alias("cents")
    )
    g = o.agg(
        F.sum("cents").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    c = o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    sc_d = F.col("sum_cents").cast("double")
    no_d = F.col("n_orders").cast("double")
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            "o_custkey",
            "n_orders",
            "sum_cents",
            (sc_d / no_d / F.lit(100.0)).alias("raw_mean"),
            (
                (
                    sc_d
                    + F.lit(10.0)
                    * (F.col("s").cast("double") / F.col("n").cast("double"))
                )
                / (no_d + F.lit(10.0))
                / F.lit(100.0)
            ).alias("enc_smoothed"),
            F.col("n").alias("n_total"),
        )
        .orderBy(F.col("n_orders").desc(), "o_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
@register(
    "bucketed_colocated_segment_revenue",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def bucketed_colocated_segment_revenue(spark: SparkSession, sf: str):
    """BUCKETED CO-LOCATED JOIN — the storage-layout scale lever as a
    gated query: both join sides are written as 8-bucket tables on the
    join key (``sources/sinks.write_bucketed`` → catalog bucketing
    metadata), so the orders↔customer join plans with ZERO shuffle
    exchange under the SortMergeJoin (pinned by
    ``tests/test_plans.py::test_r14e_bucketed_join_zero_exchange``) —
    the one exchange left in the whole plan is the final 5-row segment
    rollup.  The ``merge`` hint forces SMJ so the pin is not at the
    mercy of the broadcast threshold at small SF; on a 100 TB lake this
    layout turns every recurring key-join against the same tables from
    a full two-sided shuffle into a local merge — THE standard warehouse
    design for fact↔dimension co-location.  Values are gated against
    the plain (layout-free) SQL join, proving the layout changes the
    PLAN and never the result.  Table names carry an sf-dir tag;
    rewrite is idempotent (mode=overwrite)."""
    import hashlib
    import shutil
    from urllib.parse import urlparse

    from byte_convert_avro_spark.sources.sinks import write_bucketed

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    ot, ct = f"bca_orders_{tag}", f"bca_customer_{tag}"
    # cross-process leftovers: a prior session's managed-table location
    # survives in the warehouse dir while THIS session's catalog has no
    # such table, and saveAsTable then refuses (LOCATION_ALREADY_EXISTS).
    # Drop both the catalog entry and the directory before writing.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in (ot, ct):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    o = t(spark, sf, "orders").select(
        "o_custkey", cents("o_totalprice").alias("cents")
    )
    c = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed(o, ot, "o_custkey", 8, sort_by="o_custkey")
    write_bucketed(
        c.withColumnRenamed("c_custkey", "o_custkey"),
        ct,
        "o_custkey",
        8,
        sort_by="o_custkey",
    )
    ob, cb = spark.table(ot), spark.table(ct)
    return (
        ob.join(cb.hint("merge"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Data-governance family member: k-anonymity / l-diversity profiling —
# the privacy-risk audit next to PII redaction (documents_pii_
# redaction_stats) and right-to-be-forgotten propagation
# (user_deletion_audit).


@register(
    "orders_k_anonymity_profile",
    """
    WITH q AS (
      SELECT o_orderpriority AS qi1, o_orderstatus AS qi2,
             CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS qi3,
             (CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 1000000)
               // 5000000 AS sens
      FROM orders
    ), cls AS (
      SELECT qi1, qi2, qi3,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT sens) AS BIGINT) AS l
      FROM q GROUP BY qi1, qi2, qi3
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MIN(k) AS BIGINT) AS min_k,
             CAST(MIN(l) AS BIGINT) AS min_l,
             CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
               AS records_below_k5,
             CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_l3
      FROM cls
    ), h AS (
      SELECT CASE WHEN k = 1 THEN '1' WHEN k < 5 THEN '2-4'
                  WHEN k < 10 THEN '5-9' WHEN k < 100 THEN '10-99'
                  ELSE '100+' END AS k_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_classes_in_bucket,
             CAST(SUM(k) AS BIGINT) AS n_records_in_bucket
      FROM cls GROUP BY 1
    )
    SELECT h.k_bucket, h.n_classes_in_bucket, h.n_records_in_bucket,
           g.n_classes, g.min_k, g.min_l, g.records_below_k5,
           g.classes_below_l3
    FROM h CROSS JOIN g ORDER BY h.k_bucket
    """,
)
def orders_k_anonymity_profile(spark: SparkSession, sf: str):
    """K-ANONYMITY / L-DIVERSITY PROFILE (Sweeney 2002; Machanavajjhala
    et al. 2007) of orders under the quasi-identifier (priority, status,
    order month) with the $50k-banded total as the sensitive attribute:
    every QI equivalence class's size k and sensitive-diversity l,
    rolled into the class-size histogram plus the audit globals a
    privacy review reads first (min k, min l, records in classes below
    k=5, classes below l=3).  The data-governance member next to PII
    redaction and deletion-audit: those scrub and propagate; this
    MEASURES re-identification risk before release.  All counts exact
    integers; the sensitive band uses an offset integer division so
    truncation equals floor on both engines despite negative-capable
    inputs.  Scale: one map-side-combined groupBy to the QI-class
    domain (bounded by the QI value product, not rows) + one
    histogram rollup + a 1-row broadcast of the globals."""
    o = t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("qi1"),
        F.col("o_orderstatus").alias("qi2"),
        F.date_format("o_orderdate", "yyyy-MM").alias("qi3"),
        F.expr(
            "(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 1000000)"
            " DIV 5000000"
        ).alias("sens"),
    )
    cls = o.groupBy("qi1", "qi2", "qi3").agg(
        F.count("*").cast("long").alias("k"),
        F.countDistinct("sens").cast("long").alias("l"),
    )
    g = cls.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("records_below_k5"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_l3"),
    )
    h = (
        cls.select(
            F.when(F.col("k") == 1, "1")
            .when(F.col("k") < 5, "2-4")
            .when(F.col("k") < 10, "5-9")
            .when(F.col("k") < 100, "10-99")
            .otherwise("100+")
            .alias("k_bucket"),
            "k",
        )
        .groupBy("k_bucket")
        .agg(
            F.count("*").cast("long").alias("n_classes_in_bucket"),
            F.sum("k").cast("long").alias("n_records_in_bucket"),
        )
    )
    return h.crossJoin(F.broadcast(g)).orderBy("k_bucket")


# ---------------------------------------------------------------------------
def _kappa_oracle() -> str:
    from byte_convert_avro_spark.queries.text import _LANGID_CTE

    return f"""
    {_LANGID_CTE}
    , r AS (
      SELECT lang AS lbl, CAST(COUNT(*) AS BIGINT) AS rn
      FROM pred GROUP BY lang
    ), c AS (
      SELECT guessed_lang AS lbl, CAST(COUNT(*) AS BIGINT) AS cn
      FROM pred GROUP BY guessed_lang
    ), m AS (
      SELECT CAST(SUM(COALESCE(r.rn, 0) * COALESCE(c.cn, 0)) AS BIGINT)
               AS pe_num
      FROM r FULL OUTER JOIN c USING (lbl)
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN lang = guessed_lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree
      FROM pred
    )
    SELECT g.n AS n_docs, g.agree AS agree_docs, m.pe_num,
           CASE WHEN g.n > 0 THEN
             CAST(g.agree AS DOUBLE) / CAST(g.n AS DOUBLE)
           END AS po,
           CASE WHEN g.n > 0 THEN
             CAST(m.pe_num AS DOUBLE)
               / (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE))
           END AS pe,
           CASE WHEN g.n * g.n - m.pe_num <> 0 THEN
             CAST(g.n * g.agree - m.pe_num AS DOUBLE)
               / CAST(g.n * g.n - m.pe_num AS DOUBLE)
           END AS kappa
    FROM g CROSS JOIN m
    """


@register("langid_cohens_kappa", _kappa_oracle())
def langid_cohens_kappa(spark: SparkSession, sf: str):
    """COHEN'S KAPPA between the langid heuristic and the labeled
    ``lang`` column — chance-corrected agreement, the
    classifier-evaluation statistic the raw confusion matrix
    (``langid_confusion_matrix``) and accuracy miss: a classifier that
    always guesses the majority language scores high accuracy but
    kappa ~ 0.  The exact-integer insight: kappa = (p_o − p_e)/(1 −
    p_e) clears its denominators as (N·agree − Σ_l r_l·c_l)/(N² −
    Σ_l r_l·c_l) — BOTH numerator and denominator exact int64 (bound:
    N² < 2^63 to N ~ 3e9 docs), so the statistic is one guarded
    division.  Marginal products use a full outer join over the label
    union with COALESCE 0, so one-sided labels (a language never
    guessed, or a guess absent from truth) contribute exactly zero.
    Scale: the prediction pass is the langid CTE (one pruned documents
    scan); everything after lives on the |labels|-sized domain."""
    from byte_convert_avro_spark.queries.text import lang_id_heuristic

    pred = lang_id_heuristic(spark, sf).select("lang", "guessed_lang")
    r = pred.groupBy(F.col("lang").alias("lbl")).agg(
        F.count("*").cast("long").alias("rn")
    )
    c = pred.groupBy(F.col("guessed_lang").alias("lbl")).agg(
        F.count("*").cast("long").alias("cn")
    )
    m = (
        r.join(c, "lbl", "full_outer")
        .select(
            (
                F.coalesce(F.col("rn"), F.lit(0))
                * F.coalesce(F.col("cn"), F.lit(0))
            ).alias("p")
        )
        .agg(F.sum("p").cast("long").alias("pe_num"))
    )
    g = pred.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("guessed_lang"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    n, agree, pe = F.col("n"), F.col("agree"), F.col("pe_num")
    return g.crossJoin(F.broadcast(m)).select(
        n.alias("n_docs"),
        agree.alias("agree_docs"),
        "pe_num",
        F.when(n > 0, agree.cast("double") / n.cast("double")).alias("po"),
        F.when(
            n > 0, pe.cast("double") / (n.cast("double") * n.cast("double"))
        ).alias("pe"),
        F.when(
            n * n - pe != 0,
            (n * agree - pe).cast("double") / (n * n - pe).cast("double"),
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
@register(
    "orders_feature_information_gain",
    """
    WITH o AS (
      SELECT o_orderpriority AS f_priority, o_orderstatus AS f_status,
             CAST(strftime(o_orderdate, '%m') AS VARCHAR) AS f_month,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS vc
      FROM orders
    ), dom AS (
      SELECT vc, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(COUNT(*)) OVER (ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM o GROUP BY vc
    ), med AS (
      SELECT MIN(vc) AS med FROM dom
      CROSS JOIN (SELECT CAST(SUM(t) AS BIGINT) AS n FROM dom)
      WHERE cum * 2 >= n + 1
    ), lab AS (
      SELECT f_priority, f_status, f_month,
             CASE WHEN vc > med THEN 1 ELSE 0 END AS y
      FROM o CROSS JOIN med
    ), u AS (
      SELECT 'priority' AS feature, f_priority AS level, y FROM lab
      UNION ALL
      SELECT 'status' AS feature, f_status AS level, y FROM lab
      UNION ALL
      SELECT 'month' AS feature, f_month AS level, y FROM lab
    ), vc_counts AS (
      SELECT feature, level, y, CAST(COUNT(*) AS BIGINT) AS nvc
      FROM u GROUP BY feature, level, y
    ), v_counts AS (
      SELECT feature, level, CAST(SUM(nvc) AS BIGINT) AS nv
      FROM vc_counts GROUP BY feature, level
    ), cond AS (
      SELECT vc_counts.feature,
             CAST(SUM(nvc * ((LENGTH(BIN(nv)) - 1)
                             - (LENGTH(BIN(nvc)) - 1))) AS BIGINT)
               AS cond_num,
             CAST(COUNT(DISTINCT vc_counts.level) AS BIGINT) AS n_levels
      FROM vc_counts JOIN v_counts USING (feature, level)
      GROUP BY vc_counts.feature
    ), yc AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS nc FROM lab GROUP BY y
    ), hy AS (
      SELECT CAST(SUM(nc * ((LENGTH(BIN(n)) - 1)
                            - (LENGTH(BIN(nc)) - 1))) AS BIGINT) AS hy_num,
             CAST(MAX(n) AS BIGINT) AS n
      FROM yc CROSS JOIN (SELECT CAST(SUM(nc) AS BIGINT) AS n FROM yc)
    )
    SELECT cond.feature, cond.n_levels, hy.hy_num, cond.cond_num,
           hy.hy_num - cond.cond_num AS ig_num, hy.n AS n_total,
           CASE WHEN hy.n > 0 THEN
             CAST(hy.hy_num - cond.cond_num AS DOUBLE)
               / CAST(hy.n AS DOUBLE)
           END AS ig_floorbits
    FROM cond CROSS JOIN hy ORDER BY cond.feature
    """,
)
def orders_feature_information_gain(spark: SparkSession, sf: str):
    """INFORMATION GAIN per candidate feature (priority, status, order
    month) on the binary target "order above the exact median total" —
    the decision-tree / feature-selection scoring pass, spelled in the
    engine's exact floor-log2 surprisal system (the
    ``events_user_type_entropy_bits`` discipline): every per-class term
    is ``n·(flog2(group) − flog2(class))`` with ``flog2 x =
    length(bin(x)) − 1``, so H(Y), the conditional entropy, and IG all
    carry EXACT integer numerators over the shared denominator N —
    ig_floorbits is one guarded division.  The median label boundary is
    the exact order statistic at position ceil((N+1)/2) picked from the
    distinct-cents DOMAIN cumulative (the MW/QQ machinery), never a row
    sort.  Scale: one
    domain cumulative + three feature-level groupBys over enumerable
    (feature, level, y) domains; the union triples the projection
    width, not the shuffle depth — each branch reduces map-side."""
    o = t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("f_priority"),
        F.col("o_orderstatus").alias("f_status"),
        F.date_format("o_orderdate", "MM").alias("f_month"),
        cents("o_totalprice").alias("vc"),
    )
    wcum = W.orderBy("vc").rowsBetween(W.unboundedPreceding, 0)
    dom = (
        o.groupBy("vc")
        .agg(F.count("*").cast("long").alias("t"))
        .select(
            "vc", "t", F.sum("t").over(wcum).cast("long").alias("cum")
        )
    )
    ntot = dom.agg(F.sum("t").cast("long").alias("n"))
    med = (
        dom.crossJoin(F.broadcast(ntot))
        .filter(F.col("cum") * 2 >= F.col("n") + 1)
        .agg(F.min("vc").alias("med"))
    )
    lab = o.crossJoin(F.broadcast(med)).select(
        "f_priority",
        "f_status",
        "f_month",
        F.when(F.col("vc") > F.col("med"), 1).otherwise(0).alias("y"),
    )
    u = (
        # row-local explode, not unionByName(self ×3) — one evaluation
        # of the labeled-orders subtree for all three feature melts
        lab.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("priority").alias("feature"),
                        F.col("f_priority").alias("level"),
                        F.col("y"),
                    ),
                    F.struct(
                        F.lit("status").alias("feature"),
                        F.col("f_status").alias("level"),
                        F.col("y"),
                    ),
                    F.struct(
                        F.lit("month").alias("feature"),
                        F.col("f_month").alias("level"),
                        F.col("y"),
                    ),
                )
            ).alias("_f")
        ).select("_f.feature", "_f.level", "_f.y")
    )
    vc_counts = u.groupBy("feature", "level", "y").agg(
        F.count("*").cast("long").alias("nvc")
    )
    v_counts = vc_counts.groupBy("feature", "level").agg(
        F.sum("nvc").cast("long").alias("nv")
    )
    flog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731
    cond = (
        vc_counts.join(v_counts, ["feature", "level"])
        .groupBy("feature")
        .agg(
            F.sum(
                F.col("nvc")
                * (flog2(F.col("nv")) - flog2(F.col("nvc")))
            )
            .cast("long")
            .alias("cond_num"),
            F.countDistinct("level").cast("long").alias("n_levels"),
        )
    )
    yc = lab.groupBy("y").agg(F.count("*").cast("long").alias("nc"))
    hy = yc.crossJoin(
        F.broadcast(yc.agg(F.sum("nc").cast("long").alias("n")))
    ).agg(
        F.sum(F.col("nc") * (flog2(F.col("n")) - flog2(F.col("nc"))))
        .cast("long")
        .alias("hy_num"),
        F.max("n").cast("long").alias("n"),
    )
    return (
        cond.crossJoin(F.broadcast(hy))
        .select(
            "feature",
            "n_levels",
            "hy_num",
            "cond_num",
            (F.col("hy_num") - F.col("cond_num")).alias("ig_num"),
            F.col("n").alias("n_total"),
            F.when(
                F.col("n") > 0,
                (F.col("hy_num") - F.col("cond_num")).cast("double")
                / F.col("n").cast("double"),
            ).alias("ig_floorbits"),
        )
        .orderBy("feature")
    )


# ---------------------------------------------------------------------------
@register(
    "copurchase_rich_club",
    """
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), e AS MATERIALIZED (
      -- MATERIALIZED is load-bearing at large SF (the HITS lesson):
      -- e is referenced three times (both endpoint-degree scans + the
      -- decoration join); re-deriving the ~30M-pair (sf1) self-join
      -- per reference spilled >60 GiB of DuckDB temp
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
    ), nodes AS MATERIALIZED (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e
      ) GROUP BY n
    ), na AS (
      SELECT CAST(SUM(CASE WHEN deg > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN deg > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN deg > 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(SUM(CASE WHEN deg > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n8,
             CAST(SUM(CASE WHEN deg > 16 THEN 1 ELSE 0 END) AS BIGINT) AS n16
      FROM nodes
    ), dec AS (
      SELECT da.deg AS dega, db.deg AS degb
      FROM e JOIN nodes da ON da.n = e.a JOIN nodes db ON db.n = e.b
    ), ea AS (
      SELECT CAST(SUM(CASE WHEN dega > 1 AND degb > 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
             CAST(SUM(CASE WHEN dega > 2 AND degb > 2 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
             CAST(SUM(CASE WHEN dega > 4 AND degb > 4 THEN 1 ELSE 0 END) AS BIGINT) AS e4,
             CAST(SUM(CASE WHEN dega > 8 AND degb > 8 THEN 1 ELSE 0 END) AS BIGINT) AS e8,
             CAST(SUM(CASE WHEN dega > 16 AND degb > 16 THEN 1 ELSE 0 END) AS BIGINT) AS e16
      FROM dec
    ), u AS (
      SELECT 1 AS k, n1 AS n_k, e1 AS e_k FROM na CROSS JOIN ea
      UNION ALL
      SELECT 2 AS k, n2 AS n_k, e2 AS e_k FROM na CROSS JOIN ea
      UNION ALL
      SELECT 4 AS k, n4 AS n_k, e4 AS e_k FROM na CROSS JOIN ea
      UNION ALL
      SELECT 8 AS k, n8 AS n_k, e8 AS e_k FROM na CROSS JOIN ea
      UNION ALL
      SELECT 16 AS k, n16 AS n_k, e16 AS e_k FROM na CROSS JOIN ea
    )
    SELECT k, n_k, e_k,
           CASE WHEN n_k >= 2 THEN
             2.0 * CAST(e_k AS DOUBLE)
               / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0))
           END AS phi
    FROM u ORDER BY k
    """,
)
def copurchase_rich_club(spark: SparkSession, sf: str):
    """RICH-CLUB COEFFICIENT of the part co-purchase graph (Zhou &
    Mondragón 2004): at each degree threshold k, the density φ(k) =
    2·E_k / (n_k·(n_k−1)) among the nodes with degree > k — do the
    hubs form a club?  The graph-STRUCTURE companion of assortativity
    (assortativity is one correlation over all edges; φ(k) profiles
    the hub core specifically) and the degree histogram.  All counts
    exact int64; φ is one guarded fixed float tree per threshold row
    (thresholds are a 5-row literal frame).  Scale: degrees are one
    union+groupBy over the edge list; E_k decorates edges with both
    endpoint degrees (two node-sized equi joins — same decoration
    backbone as assortativity) and folds ONCE into 5 conditional
    sums (no threshold join at all); nothing grows beyond |edges|."""
    li = t(spark, sf, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b = op.select("ok", F.col("p").alias("p2"))
    e = (
        op.join(b, "ok")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )
    nodes = (
        endpoints(e, "a", "b", "n")
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    ks = [1, 2, 4, 8, 16]
    na = nodes.agg(
        *[
            F.sum(F.when(F.col("deg") > k, 1).otherwise(0))
            .cast("long")
            .alias(f"n{k}")
            for k in ks
        ]
    )
    dec = (
        e.join(
            nodes.select(F.col("n").alias("a"), F.col("deg").alias("dega")),
            "a",
        )
        .join(
            nodes.select(F.col("n").alias("b"), F.col("deg").alias("degb")),
            "b",
        )
        .select("dega", "degb")
    )
    ea = dec.agg(
        *[
            F.sum(
                F.when((F.col("dega") > k) & (F.col("degb") > k), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"e{k}")
            for k in ks
        ]
    )
    u = (
        na.crossJoin(F.broadcast(ea))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("long").alias("k"),
                            F.col(f"n{k}").alias("n_k"),
                            F.col(f"e{k}").alias("e_k"),
                        )
                        for k in ks
                    ]
                )
            ).alias("r")
        )
        .select("r.k", "r.n_k", "r.e_k")
    )
    nk_d = F.col("n_k").cast("double")
    return u.select(
        "k",
        "n_k",
        "e_k",
        F.when(
            F.col("n_k") >= 2,
            F.lit(2.0) * F.col("e_k").cast("double")
            / (nk_d * (nk_d - F.lit(1.0))),
        ).alias("phi"),
    ).orderBy("k")


# ---------------------------------------------------------------------------
@register(
    "bigram_pmi_collocations",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bg AS (
      SELECT w[i] AS a, w[i + 1] AS b
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - 1)) AS i
            FROM words)
    ), cab AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM bg GROUP BY a, b
    ), ca AS (
      SELECT a, CAST(COUNT(*) AS BIGINT) AS n_a FROM bg GROUP BY a
    ), cb AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b FROM bg GROUP BY b
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg FROM bg),
    scored AS (
      SELECT cab.a || ' ' || cab.b AS bigram, cab.c_ab, ca.n_a, cb.n_b,
             n.n_bg,
             CAST((LENGTH(BIN(cab.c_ab * n.n_bg)) - 1)
                  - (LENGTH(BIN(ca.n_a * cb.n_b)) - 1) AS BIGINT)
               AS pmi_floorbits
      FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN n
      WHERE cab.c_ab >= 5
    )
    SELECT bigram, c_ab, n_a, n_b, n_bg, pmi_floorbits
    FROM scored
    ORDER BY pmi_floorbits DESC, c_ab DESC, bigram LIMIT 20
    """,
)
def bigram_pmi_collocations(spark: SparkSession, sf: str):
    """COLLOCATION EXTRACTION by pointwise mutual information over the
    corpus bigram table: PMI(a,b) = log2( c_ab·N / (n_a·n_b) ) with
    first-position/second-position marginals — high-PMI pairs are
    phrases (tokens that co-occur far above chance), the classic
    collocation detector next to the bigram LM's conditional scoring
    (bitscore asks "how surprising is b AFTER a"; PMI asks "are a and b
    ASSOCIATED at all").  Spelled in exact floor-log2 bits as
    flog2(c_ab·N) − flog2(n_a·n_b) — two integer products (each
    ≤ N² < 2^63 to ~3e9 bigrams) and two exact bin-length logs, so the
    score, the min-support filter (c_ab ≥ 5, the standard collocation
    floor), and the (score, support, bigram) ordering are all pinned
    values.  Scale: three map-side-combined groupBys on their own
    natural keys + a 1-row broadcast total; the candidate set is the
    bigram VOCABULARY (Heaps-sublinear), never occurrences."""
    docs = t(spark, sf, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    bg = (
        words.select(
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                " (a, b) -> named_struct('a', a, 'b', b))"
            ).alias("ps")
        )
        .select(F.explode("ps").alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    cab = bg.groupBy("a", "b").agg(F.count("*").cast("long").alias("c_ab"))
    ca = bg.groupBy("a").agg(F.count("*").cast("long").alias("n_a"))
    cb = bg.groupBy("b").agg(F.count("*").cast("long").alias("n_b"))
    n = bg.agg(F.count("*").cast("long").alias("n_bg"))
    flog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731
    scored = (
        cab.filter(F.col("c_ab") >= 5)
        .join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(n))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "c_ab",
            "n_a",
            "n_b",
            "n_bg",
            (
                flog2(F.col("c_ab") * F.col("n_bg"))
                - flog2(F.col("n_a") * F.col("n_b"))
            )
            .cast("long")
            .alias("pmi_floorbits"),
        )
    )
    return scored.orderBy(
        F.col("pmi_floorbits").desc(), F.col("c_ab").desc(), "bigram"
    ).limit(20)


# ---------------------------------------------------------------------------
@register(
    "orders_woe_iv_cells",
    """
    WITH o AS (
      SELECT o_orderpriority AS level,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS vc
      FROM orders
    ), dom AS (
      SELECT vc, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(COUNT(*)) OVER (ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM o GROUP BY vc
    ), med AS (
      SELECT MIN(vc) AS med FROM dom
      CROSS JOIN (SELECT CAST(SUM(t) AS BIGINT) AS n FROM dom)
      WHERE cum * 2 >= n + 1
    ), lab AS (
      SELECT level, CASE WHEN vc > med THEN 1 ELSE 0 END AS y
      FROM o CROSS JOIN med
    ), cells AS (
      SELECT level,
             CAST(SUM(1 - y) AS BIGINT) AS n0,
             CAST(SUM(y) AS BIGINT) AS n1
      FROM lab GROUP BY level
    ), g AS (
      SELECT CAST(SUM(n0) AS BIGINT) AS tn0, CAST(SUM(n1) AS BIGINT) AS tn1,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM cells
    )
    SELECT c.level, c.n0, c.n1,
           CAST((LENGTH(BIN((c.n1 + 1) * (g.tn0 + g.v))) - 1)
                - (LENGTH(BIN((c.n0 + 1) * (g.tn1 + g.v))) - 1) AS BIGINT)
             AS woe_floorbits,
           (CAST(c.n1 + 1 AS DOUBLE) / CAST(g.tn1 + g.v AS DOUBLE)
            - CAST(c.n0 + 1 AS DOUBLE) / CAST(g.tn0 + g.v AS DOUBLE))
             * CAST((LENGTH(BIN((c.n1 + 1) * (g.tn0 + g.v))) - 1)
                    - (LENGTH(BIN((c.n0 + 1) * (g.tn1 + g.v))) - 1)
                    AS DOUBLE) AS iv_contrib,
           g.tn0 AS total_n0, g.tn1 AS total_n1
    FROM cells c CROSS JOIN g ORDER BY c.level
    """,
)
def orders_woe_iv_cells(spark: SparkSession, sf: str):
    """WEIGHT OF EVIDENCE / INFORMATION VALUE cells for the priority
    feature on the above-median binary target — the credit-scoring
    standard next to information gain (IG scores a SPLIT; WoE/IV score
    each LEVEL's evidence direction and the feature's total separating
    power, and WoE is itself the encoding scorecards deploy).  Spelled
    in the engine's exact floor-log2 system with add-1 smoothing:
    woe_floorbits = flog2((n1+1)·(N0+V)) − flog2((n0+1)·(N1+V)) — two
    integer products under bin-length logs — and each IV contribution
    is one per-row fixed float tree over exact ints (the cells
    discipline: IV itself is a reader-side Σ over ≤|levels| rows).
    The target boundary reuses the exact domain-cumulative median pick.
    Scale: one domain cumulative + one |levels|-sized cell rollup + a
    1-row totals broadcast."""
    o = t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("level"),
        cents("o_totalprice").alias("vc"),
    )
    wcum = W.orderBy("vc").rowsBetween(W.unboundedPreceding, 0)
    dom = (
        o.groupBy("vc")
        .agg(F.count("*").cast("long").alias("t"))
        .select("vc", "t", F.sum("t").over(wcum).cast("long").alias("cum"))
    )
    ntot = dom.agg(F.sum("t").cast("long").alias("n"))
    med = (
        dom.crossJoin(F.broadcast(ntot))
        .filter(F.col("cum") * 2 >= F.col("n") + 1)
        .agg(F.min("vc").alias("med"))
    )
    lab = o.crossJoin(F.broadcast(med)).select(
        "level", F.when(F.col("vc") > F.col("med"), 1).otherwise(0).alias("y")
    )
    cells = lab.groupBy("level").agg(
        F.sum(1 - F.col("y")).cast("long").alias("n0"),
        F.sum("y").cast("long").alias("n1"),
    )
    g = cells.agg(
        F.sum("n0").cast("long").alias("tn0"),
        F.sum("n1").cast("long").alias("tn1"),
        F.count("*").cast("long").alias("v"),
    )
    flog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731
    woe = (
        flog2((F.col("n1") + 1) * (F.col("tn0") + F.col("v")))
        - flog2((F.col("n0") + 1) * (F.col("tn1") + F.col("v")))
    ).cast("long")
    return (
        cells.crossJoin(F.broadcast(g))
        .select(
            "level",
            "n0",
            "n1",
            woe.alias("woe_floorbits"),
            (
                (
                    (F.col("n1") + 1).cast("double")
                    / (F.col("tn1") + F.col("v")).cast("double")
                    - (F.col("n0") + 1).cast("double")
                    / (F.col("tn0") + F.col("v")).cast("double")
                )
                * woe.cast("double")
            ).alias("iv_contrib"),
            F.col("tn0").alias("total_n0"),
            F.col("tn1").alias("total_n1"),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
@register(
    "events_class_weights",
    """
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_c
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    ), g AS (
      SELECT CAST(SUM(n_c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
      FROM c
    )
    SELECT c.event_type, c.n_c, g.n AS n_total, g.k AS n_classes,
           g.n AS w_num, g.k * c.n_c AS w_den,
           CAST(g.n AS DOUBLE) / CAST(g.k * c.n_c AS DOUBLE) AS weight
    FROM c CROSS JOIN g ORDER BY c.event_type
    """,
)
def events_class_weights(spark: SparkSession, sf: str):
    """INVERSE-FREQUENCY CLASS WEIGHTS per event type — the rebalancing
    table every imbalanced-training pipeline computes first: w_c =
    N/(K·n_c), normalized so Σ_c n_c·w_c = N by construction.  The
    weight is carried as the exact integer rational (w_num, w_den)
    with ONE division for the double (the exact-sum/count discipline),
    so downstream sampling/loss-weighting can stay in integer
    arithmetic.  Scale: one map-side-combined groupBy + a 1-row fold;
    |classes| rows out."""
    c = (
        t(spark, sf, "events")
        .filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_c"))
    )
    g = c.agg(
        F.sum("n_c").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
    )
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_c",
            F.col("n").alias("n_total"),
            F.col("k").alias("n_classes"),
            F.col("n").alias("w_num"),
            (F.col("k") * F.col("n_c")).alias("w_den"),
            (
                F.col("n").cast("double")
                / (F.col("k") * F.col("n_c")).cast("double")
            ).alias("weight"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
@register(
    "customer_part_negative_samples",
    """
    WITH top5 AS (
      SELECT o_custkey AS c, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
      ORDER BY n_orders DESC, c LIMIT 5
    ), pos AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN top5 ON top5.c = o.o_custkey
    ), pospc AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n_purchased FROM pos GROUP BY c
    ), cand AS (
      SELECT top5.c, part.p_partkey AS p,
             ('0x' || substr(md5(CAST(top5.c AS VARCHAR) || ':ns:'
                                 || CAST(part.p_partkey AS VARCHAR)),
                             1, 13))::BIGINT AS hv
      FROM top5 CROSS JOIN part
      WHERE NOT EXISTS (
        SELECT 1 FROM pos WHERE pos.c = top5.c AND pos.p = part.p_partkey
      )
    ), ranked AS (
      SELECT c, p, hv,
             ROW_NUMBER() OVER (PARTITION BY c ORDER BY hv, p) AS rnk
      FROM cand
    )
    SELECT r.c AS custkey, r.p AS partkey, r.hv, r.rnk,
           pospc.n_purchased
    FROM ranked r JOIN pospc ON pospc.c = r.c
    WHERE r.rnk <= 5
    ORDER BY custkey, rnk
    """,
)
def customer_part_negative_samples(spark: SparkSession, sf: str):
    """DETERMINISTIC NEGATIVE SAMPLING for contrastive / recsys
    training pairs: for the 5 heaviest customers, 5 parts they have
    NEVER purchased, drawn by the md5 ``:ns`` bottom-k discipline
    (every sampling primitive in the engine shares it) — the
    (user, positive, negatives) triple builder every two-tower /
    matrix-factorization data pipeline needs, with the negatives
    reproducible across runs and engines by construction.  The
    anti-join ships the (tiny) positive set against the broadcast
    user list; ranking is one per-user window over the candidate
    hash.  Scale: candidates are |users_batch| × |parts| with the
    user batch broadcast — embarrassingly parallel, no shuffle on the
    parts side until the k-bounded window; at 100 TB the same plan
    runs per user-shard, and the bottom-k-by-hash sample is mergeable
    across shards like every other bottom-k in the engine."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf, "part").select("p_partkey")
    top5 = (
        o.groupBy(F.col("o_custkey").alias("c"))
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "c")
        .limit(5)
    )
    pos = (
        o.join(F.broadcast(top5), o.o_custkey == top5.c)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select("c", F.col("l_partkey").alias("p"))
        .distinct()
    )
    pospc = pos.groupBy("c").agg(
        F.count("*").cast("long").alias("n_purchased")
    )
    hv = md5_long(
        F.concat(
            F.col("c").cast("string"), F.lit(":ns:"), F.col("p_partkey").cast("string")
        ),
        13,
    )
    cand = (
        part.crossJoin(F.broadcast(top5.select("c")))
        .join(
            pos.withColumnRenamed("p", "p_partkey"),
            ["c", "p_partkey"],
            "left_anti",
        )
        .select("c", F.col("p_partkey").alias("p"), hv.alias("hv"))
    )
    wr = W.partitionBy("c").orderBy("hv", "p")
    ranked = cand.select("c", "p", "hv", F.row_number().over(wr).alias("rnk"))
    return (
        ranked.filter(F.col("rnk") <= 5)
        .join(F.broadcast(pospc), "c")
        .select(
            F.col("c").alias("custkey"),
            F.col("p").alias("partkey"),
            "hv",
            "rnk",
            "n_purchased",
        )
        .orderBy("custkey", "rnk")
    )


# ---------------------------------------------------------------------------
@register(
    "users_logrank_view_vs_other_cells",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), life AS (
      SELECT user_id,
             (MAX(ts_us) - MIN(ts_us)) // 86400000000 AS t
      FROM ev GROUP BY user_id
    ), first_ev AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS rn
        FROM ev
      ) WHERE rn = 1
    ), lab AS (
      SELECT life.user_id, life.t,
             CASE WHEN first_ev.event_type = 'view' THEN 1 ELSE 0 END AS g
      FROM life JOIN first_ev USING (user_id)
    ), cells0 AS (
      SELECT t,
             CAST(SUM(g) AS BIGINT) AS d1,
             CAST(SUM(1 - g) AS BIGINT) AS d2
      FROM lab GROUP BY t
    ), cells AS (
      SELECT t, d1, d2,
             CAST(SUM(d1) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n1,
             CAST(SUM(d2) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n2
      FROM cells0
    )
    SELECT t AS lifespan_d, n1 AS at_risk_view, n2 AS at_risk_other,
           d1 AS died_view, d2 AS died_other,
           CASE WHEN n1 + n2 > 0 THEN
             CAST(d1 AS DOUBLE)
               - CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE)
           END AS o_minus_e,
           CASE WHEN n1 + n2 > 1 THEN
             (CAST(d1 + d2 AS DOUBLE)
              * CAST(n1 + n2 - d1 - d2 AS DOUBLE)
              * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                * (CAST(n1 + n2 AS DOUBLE) - 1.0))
           END AS var_term
    FROM cells ORDER BY lifespan_d
    """,
)
def users_logrank_view_vs_other_cells(spark: SparkSession, sf: str):
    """LOG-RANK TEST cells between two user cohorts (first event was a
    'view' vs anything else) on the observed activity-lifespan
    distribution — the standard two-group survival comparison next to
    the single-curve ``events_user_survival_curve``: at each distinct
    lifespan t, the at-risk counts n_j(t) (suffix sums over the
    lifespan DOMAIN — never per-user-per-day scans), the 'deaths'
    d_j(t), the hypergeometric expectation residual O−E and the
    variance term, per the chi2-cells emission rule (the z statistic
    is the reader-side Σ(O−E)/√ΣV over ≤|lifespan domain| rows; both
    per-row floats are fixed trees over the exact integer counts).
    Lifespans here are fully observed, so no censoring branch exists —
    the censored KM form changes only the at-risk rule.  Scale: one
    user-keyed reduction + one user-keyed first-event window share the
    same exchange; everything after lives on the lifespan domain
    (calendar-bounded)."""
    ev = (
        t(spark, sf, "events")
        .withColumn("ts_us", F.expr("ts DIV 1000"))
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts_us", "event_id")
    )
    life = ev.groupBy("user_id").agg(
        F.expr("(max(ts_us) - min(ts_us)) DIV 86400000000").alias("t")
    )
    wfirst = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    first_ev = (
        ev.select(
            "user_id", "event_type", F.row_number().over(wfirst).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type")
    )
    lab = life.join(first_ev, "user_id").select(
        "t",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("g"),
    )
    cells0 = lab.groupBy("t").agg(
        F.sum("g").cast("long").alias("d1"),
        F.sum(1 - F.col("g")).cast("long").alias("d2"),
    )
    wsuf = W.orderBy(F.col("t").desc()).rowsBetween(W.unboundedPreceding, 0)
    cells = cells0.select(
        "t",
        "d1",
        "d2",
        F.sum("d1").over(wsuf).cast("long").alias("n1"),
        F.sum("d2").over(wsuf).cast("long").alias("n2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    dd = (F.col("d1") + F.col("d2")).cast("double")
    nn = (F.col("n1") + F.col("n2")).cast("double")
    return cells.select(
        F.col("t").alias("lifespan_d"),
        F.col("n1").alias("at_risk_view"),
        F.col("n2").alias("at_risk_other"),
        F.col("d1").alias("died_view"),
        F.col("d2").alias("died_other"),
        F.when(
            F.col("n1") + F.col("n2") > 0,
            F.col("d1").cast("double") - dd * n1d / nn,
        ).alias("o_minus_e"),
        F.when(
            F.col("n1") + F.col("n2") > 1,
            (
                dd
                * (F.col("n1") + F.col("n2") - F.col("d1") - F.col("d2")).cast(
                    "double"
                )
                * n1d
                * n2d
            )
            / (nn * nn * (nn - F.lit(1.0))),
        ).alias("var_term"),
    ).orderBy("lifespan_d")


# ---------------------------------------------------------------------------
def _prf_oracle() -> str:
    from byte_convert_avro_spark.queries.text import _LANGID_CTE

    return f"""
    {_LANGID_CTE}
    , r AS (
      SELECT lang AS lbl, CAST(COUNT(*) AS BIGINT) AS actual_n
      FROM pred GROUP BY lang
    ), c AS (
      SELECT guessed_lang AS lbl, CAST(COUNT(*) AS BIGINT) AS guessed_n
      FROM pred GROUP BY guessed_lang
    ), d AS (
      SELECT lang AS lbl, CAST(COUNT(*) AS BIGINT) AS tp
      FROM pred WHERE lang = guessed_lang GROUP BY lang
    )
    SELECT lbl AS label,
           COALESCE(d.tp, 0) AS tp,
           COALESCE(c.guessed_n, 0) - COALESCE(d.tp, 0) AS fp,
           COALESCE(r.actual_n, 0) - COALESCE(d.tp, 0) AS fn,
           CASE WHEN COALESCE(c.guessed_n, 0) > 0 THEN
             CAST(COALESCE(d.tp, 0) AS DOUBLE)
               / CAST(c.guessed_n AS DOUBLE)
           END AS precision_,
           CASE WHEN COALESCE(r.actual_n, 0) > 0 THEN
             CAST(COALESCE(d.tp, 0) AS DOUBLE)
               / CAST(r.actual_n AS DOUBLE)
           END AS recall_,
           CASE WHEN 2 * COALESCE(d.tp, 0) + COALESCE(c.guessed_n, 0)
                     - COALESCE(d.tp, 0) + COALESCE(r.actual_n, 0)
                     - COALESCE(d.tp, 0) > 0 THEN
             CAST(2 * COALESCE(d.tp, 0) AS DOUBLE)
               / CAST(COALESCE(c.guessed_n, 0) + COALESCE(r.actual_n, 0)
                      AS DOUBLE)
           END AS f1
    FROM r FULL OUTER JOIN c USING (lbl) LEFT JOIN d USING (lbl)
    ORDER BY label
    """


@register("langid_precision_recall_f1", _prf_oracle())
def langid_precision_recall_f1(spark: SparkSession, sf: str):
    """PER-CLASS PRECISION / RECALL / F1 for the langid heuristic —
    completing the classifier-evaluation ladder (confusion matrix →
    chance-corrected kappa → the per-class operating report every model
    card prints).  The exact-rational insight: F1 = 2·tp/(2·tp+fp+fn)
    = 2·tp/(guessed_n + actual_n) — ONE guarded division per label, no
    harmonic-mean float chain; precision and recall are single
    divisions of exact counts.  Labels are the full outer union of
    actual and guessed marginals, so a never-guessed language still
    reports recall 0 and a hallucinated guess reports precision 0.
    Macro/micro averages are reader-side folds over ≤|labels| rows
    (cells discipline).  Scale: the prediction pass is the langid CTE;
    everything after lives on the |labels| domain."""
    from byte_convert_avro_spark.queries.text import lang_id_heuristic

    pred = lang_id_heuristic(spark, sf).select("lang", "guessed_lang")
    r = pred.groupBy(F.col("lang").alias("lbl")).agg(
        F.count("*").cast("long").alias("actual_n")
    )
    c = pred.groupBy(F.col("guessed_lang").alias("lbl")).agg(
        F.count("*").cast("long").alias("guessed_n")
    )
    d = (
        pred.filter(F.col("lang") == F.col("guessed_lang"))
        .groupBy(F.col("lang").alias("lbl"))
        .agg(F.count("*").cast("long").alias("tp"))
    )
    j = (
        r.join(c, "lbl", "full_outer")
        .join(d, "lbl", "left")
        .select(
            "lbl",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            F.coalesce(F.col("guessed_n"), F.lit(0)).alias("gn"),
            F.coalesce(F.col("actual_n"), F.lit(0)).alias("an"),
        )
    )
    return j.select(
        F.col("lbl").alias("label"),
        "tp",
        (F.col("gn") - F.col("tp")).alias("fp"),
        (F.col("an") - F.col("tp")).alias("fn"),
        F.when(
            F.col("gn") > 0, F.col("tp").cast("double") / F.col("gn").cast("double")
        ).alias("precision_"),
        F.when(
            F.col("an") > 0, F.col("tp").cast("double") / F.col("an").cast("double")
        ).alias("recall_"),
        F.when(
            F.col("gn") + F.col("an") > 0,
            (F.lit(2) * F.col("tp")).cast("double")
            / (F.col("gn") + F.col("an")).cast("double"),
        ).alias("f1"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
def _lpa_modularity_oracle() -> str:
    from byte_convert_avro_spark.queries.relational_r12 import _LPA_ROUND

    return (
        """
    WITH os AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), dir_e AS MATERIALIZED (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM os a JOIN os b ON b.ok = a.ok AND a.p < b.p
    ), e AS MATERIALIZED (
      SELECT a, b FROM dir_e UNION ALL SELECT b AS a, a AS b FROM dir_e
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT a AS n, a AS lbl FROM e
    )"""
        + _LPA_ROUND.format(r=1, p=0)
        + _LPA_ROUND.format(r=2, p=1)
        + _LPA_ROUND.format(r=3, p=2)
        + """
    , m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM dir_e),
    deg AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY a),
    dsum AS (
      SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(deg.d) AS BIGINT) AS d_c
      FROM l3 l JOIN deg ON deg.n = l.n GROUP BY l.lbl
    ), mc AS (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS m_c
      FROM dir_e de
      JOIN l3 la ON la.n = de.a
      JOIN l3 lb ON lb.n = de.b AND lb.lbl = la.lbl
      GROUP BY la.lbl
    )
    SELECT d.lbl AS community, d.n_nodes,
           COALESCE(mc.m_c, 0) AS m_c, d.d_c, m.m AS m_edges,
           CASE WHEN m.m > 0 THEN
             CAST(COALESCE(mc.m_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
             - (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
               * (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
           END AS q_contrib
    FROM dsum d LEFT JOIN mc ON mc.lbl = d.lbl CROSS JOIN m
    ORDER BY community
    """
    )


@register("copurchase_lpa_modularity", _lpa_modularity_oracle())
def copurchase_lpa_modularity(spark: SparkSession, sf: str):
    """MODULARITY Q cells for the LPA communities (Newman-Girvan): per
    community the intra-edge count m_c, the degree mass d_c, and the
    contribution m_c/m − (d_c/2m)² — Q = Σ contributions is the
    standard "did the community detector find real structure" score
    (Q≈0 for random cuts), completing the community family: LPA
    PRODUCES labels, this SCORES them, re-deriving the identical label
    trajectory through the same 3-round deterministic sweep on both
    engines.  Counts exact int64; each contribution is one fixed float
    tree; Q is the reader-side fold over ≤|communities| rows (the cells
    discipline).  Scale: modularity adds to LPA's per-sweep exchanges
    only two degree/label decorations and one label-equality edge join
    — all equi-keyed; nothing beyond |edges| appears anywhere."""
    from byte_convert_avro_spark.operators.graph import (
        both_directions,
        label_propagation_rounds,
    )

    li = t(spark, sf, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b = os_.select(F.col("ok"), F.col("p").alias("p2"))
    dir_e = (
        os_.join(b, "ok")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )
    labels = label_propagation_rounds(
        dir_e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        rounds=3,
    )
    e = both_directions(dir_e, "a", "b")
    deg = e.groupBy(F.col("a").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    m = dir_e.agg(F.count("*").cast("long").alias("m"))
    dsum = (
        labels.join(deg, labels.node == deg.n)
        .groupBy("lbl")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_c"),
        )
    )
    la = labels.select(F.col("node").alias("a"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("lbl").alias("lb"))
    mc = (
        dir_e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count("*").cast("long").alias("m_c"))
    )
    md = F.col("m").cast("double")
    half = F.col("d_c").cast("double") / (F.lit(2.0) * md)
    return (
        dsum.join(mc, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("lbl").alias("community"),
            "n_nodes",
            F.coalesce(F.col("m_c"), F.lit(0)).alias("m_c"),
            "d_c",
            F.col("m").alias("m_edges"),
            F.when(
                F.col("m") > 0,
                F.coalesce(F.col("m_c"), F.lit(0)).cast("double") / md
                - half * half,
            ).alias("q_contrib"),
        )
        .orderBy("community")
    )
