"""Round-14 session-7 additions: the classical variance-analysis pair,
the privacy-triad completion, multiclass MCC, and calibration summary
statistics.

Families and why they are NEW surface, not respellings:

- **One-way ANOVA cells** (``events_value_anova_cells``): the rank
  battery has Kruskal-Wallis (the rank analog) but the PARAMETRIC
  omnibus test — partitioning total variance into between-group and
  within-group sums of squares — was missing.  Every moment is an
  exact int64 over value cents (n_g, Σvc, Σvc²); the F statistic is
  one fixed DOUBLE tree whose only order-sensitive piece (Σ_g S_g²/n_g
  over the ≤|event types| groups) is a bounded ordered fold keyed by
  event_type, identical in both engines.
- **Brown-Forsythe robust variance-homogeneity test**
  (``events_value_brown_forsythe_cells``): ANOVA's F assumes equal
  group variances; Brown-Forsythe TESTS that assumption — the same F
  machinery applied to z = |x − median_g|, with each group median an
  EXACT order statistic from the per-group value-domain cumulative
  (the calibration-bins/QQ convention: min vc with 2·cum ≥ n_g + 1).
  Because values are cents, z is again an exact integer and the whole
  statistic stays in the gated-int + fixed-tree system.
- **t-closeness profile** (``orders_t_closeness_profile``): completes
  the privacy triad next to ``orders_k_anonymity_profile`` (k-anon +
  l-diversity): per quasi-identifier class, the Earth Mover's Distance
  between the class's sensitive-attribute distribution and the global
  one over the ORDERED sensitive domain.  1-D ordered EMD is the sum
  of absolute prefix-CDF gaps, and with the common denominator n_c·N
  cleared it is the exact integer Σ_r |N·cum_c(r) − n_c·cum_N(r)| —
  conveyed as a digit string, with t itself one guarded division.
- **Multiclass Matthews correlation** (``langid_mcc_cells``): the
  eval ladder has kappa (chance-corrected agreement); MCC/R_K
  (Gorodkin 2004) is the HARDER summary — it shares kappa's exact
  integer numerator N·ΣC_kk − Σ_k t_k·p_k but normalizes by the
  geometric mean of the two marginal dispersions
  √(N²−Σp_k²)·√(N²−Σt_k²), so a degenerate always-one-class guess
  scores 0 with a defined denominator where kappa's collapses.  All
  four moments exact int64 over the label-domain marginals.
- **Expected calibration error** (``orders_calibration_ece``): the
  one-number summary of ``orders_target_calibration_bins`` — ECE =
  Σ_b w_b·|acc_b − conf_b| (order-weighted) plus MCE = max_b gap.
  acc_b is a guarded division of exact ints; conf_b needs the sum of
  per-customer DOUBLE predictions, which is order-sensitive, so it
  runs through the two-level custkey-ordered chunk fold
  (functions.bounded_ordered_agg, chunk 4096) with the oracle
  spelling the identical chunking; the final Σ over ≤21 bins is a
  bounded ordered fold keyed by bin.

Cross-engine float discipline (the welch_t/KW rules): every float is
ONE fixed expression tree over exact-integer (or pinned-double)
inputs with conditionally-evaluated guarded divisions; integers that
can pass 2^53 convey as digit strings via the DECIMAL(38,0) rule.

Reference parity note: the reference (AvroTransform.java, 337-LoC
Kafka-Connect SMT) has none of these operators — all belong to the
analytics/LLM-pipeline addendum SURVEY.md §2 mandates on top of the
decode pipeline.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import bounded_ordered_agg, ordered_fold
from byte_convert_avro_spark.queries.base import cents, register, t

_DEC_STR = "CAST(CAST({x} AS DECIMAL(38,0)) AS VARCHAR)"


def _dec_str(col: F.Column) -> F.Column:
    """int64 -> exact digit string (the >2^53 conveyance rule)."""
    return col.cast("decimal(38,0)").cast("string")


# ---------------------------------------------------------------------------
# One-way ANOVA + Brown-Forsythe share the F-statistic tail: given
# per-group exact moments (n_g, s_g = Σx, q_g = Σx²) the F tree is
#   sb   = Σ_g s_g²/n_g              (bounded ordered fold by group key)
#   ssb  = sb − S²/N
#   ssw  = Q − sb
#   F    = (ssb/(k−1)) / (ssw/(N−k))
# with every division conditionally guarded.

_ANOVA_TAIL_SQL = """
    fold AS (
      SELECT list_reduce(
               list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE) ORDER BY event_type),
               (a, b) -> a + b) AS sb
      FROM g
    ), tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             CAST(SUM(q_g) AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    ), stat AS (
      SELECT tot.n, tot.k,
             fold.sb - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                       / CAST(tot.n AS DOUBLE) AS ssb,
             CAST(tot.q AS DOUBLE) - fold.sb AS ssw
      FROM tot CROSS JOIN fold
    ), fstat AS (
      SELECT n, k, ssb, ssw,
             CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
               (ssb / CAST(k - 1 AS DOUBLE))
                 / (ssw / CAST(n - k AS DOUBLE))
             END AS f_stat
      FROM stat
    )"""


def _anova_tail(g):
    """Spark twin of _ANOVA_TAIL_SQL over a (event_type, n_g, s_g, q_g
    [, extra...]) group frame: returns the per-group rows cross-joined
    with the single-row (n, k, ssb, ssw, f_stat) statistic block."""
    term = (
        F.col("s_g").cast("double")
        * F.col("s_g").cast("double")
        / F.col("n_g").cast("double")
    )
    folded = g.select(
        "event_type", "n_g", "s_g", "q_g", term.alias("term")
    ).agg(
        ordered_fold("event_type", "term").alias("sb"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.count("*").cast("long").alias("k"),
    )
    n_d = F.col("n").cast("double")
    ssb = F.col("sb") - F.col("s").cast("double") * F.col("s").cast("double") / n_d
    stat = folded.select(
        "n",
        "k",
        ssb.alias("ssb"),
        (F.col("q").cast("double") - F.col("sb")).alias("ssw"),
    ).select(
        "n",
        "k",
        "ssb",
        "ssw",
        F.when(
            (F.col("k") > 1) & (F.col("n") > F.col("k")) & (F.col("ssw") > 0),
            (F.col("ssb") / (F.col("k") - 1).cast("double"))
            / (F.col("ssw") / (F.col("n") - F.col("k")).cast("double")),
        ).alias("f_stat"),
    )
    return g.crossJoin(F.broadcast(stat))


@register(
    "events_value_anova_cells",
    f"""
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
    """,
)
def events_value_anova_cells(spark: SparkSession, sf: str):
    """ONE-WAY ANOVA over event-value cents by event type — the
    parametric omnibus "do group means differ" test next to the rank
    battery (Kruskal-Wallis / Mann-Whitney / Welch).  Per-group moments
    (n_g, Σvc, Σvc²) are exact int64 (Σvc² stays under 2^63 to ~10^9
    rows at this value range — the sf1000 bound, documented); the F
    statistic is one fixed DOUBLE tree whose group-sum Σ s_g²/n_g is a
    bounded ordered fold over the ≤|event types| groups keyed by
    event_type.  Scale: one map-side-combined groupBy on a ~5-key
    domain, then constant-size arithmetic; nothing row-scaled after
    the first aggregation."""
    ev = t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    g = (
        ev.select("event_type", cents("value").alias("vc"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum("vc").cast("long").alias("s_g"),
            F.sum(F.col("vc") * F.col("vc")).cast("long").alias("q_g"),
        )
    )
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


# ---------------------------------------------------------------------------
@register(
    "events_value_brown_forsythe_cells",
    f"""
    WITH f AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), dom AS (
      SELECT event_type, vc, CAST(COUNT(*) AS BIGINT) AS tcnt,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM f GROUP BY event_type, vc
    ), ng AS (
      SELECT event_type, CAST(SUM(tcnt) AS BIGINT) AS n_g
      FROM dom GROUP BY event_type
    ), med AS (
      SELECT dom.event_type, MIN(dom.vc) AS med_g
      FROM dom JOIN ng ON dom.event_type = ng.event_type
      WHERE dom.cum * 2 >= ng.n_g + 1
      GROUP BY dom.event_type
    ), z AS (
      SELECT dom.event_type, dom.tcnt,
             ABS(dom.vc - med.med_g) AS zc
      FROM dom JOIN med ON dom.event_type = med.event_type
    ), g AS (
      SELECT event_type,
             CAST(SUM(tcnt) AS BIGINT) AS n_g,
             CAST(SUM(tcnt * zc) AS BIGINT) AS s_g,
             CAST(SUM(tcnt * zc * zc) AS BIGINT) AS q_g
      FROM z GROUP BY event_type
    ), {_ANOVA_TAIL_SQL}
    SELECT g.event_type, g.n_g, med.med_g, g.s_g,
           {_DEC_STR.format(x='g.q_g')} AS q_g_str,
           fs.n, fs.k, fs.ssb, fs.ssw, fs.f_stat
    FROM g
    JOIN med ON g.event_type = med.event_type
    CROSS JOIN fstat fs
    ORDER BY g.event_type
    """,
)
def events_value_brown_forsythe_cells(spark: SparkSession, sf: str):
    """BROWN-FORSYTHE robust variance-homogeneity test — "are the group
    SPREADS equal", the assumption check behind ANOVA's F (and the
    robust median-centered form of Levene's test, which makes it exact
    here): z = |vc − median_g| with median_g the EXACT per-group order
    statistic (min vc with 2·cum ≥ n_g + 1 on the per-group value-domain
    cumulative — the calibration-bins convention), then the one-way F
    machinery on the z values, which are again exact integers.  Scale:
    the domain cumulative is one window over per-(type, value) counts
    (domain-sized, not row-sized); z-moments aggregate the SAME domain
    rows weighted by their counts — no second pass over raw rows."""
    ev = t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    wcum = W.partitionBy("event_type").orderBy("vc").rowsBetween(
        W.unboundedPreceding, 0
    )
    dom = (
        ev.select("event_type", cents("value").alias("vc"))
        .groupBy("event_type", "vc")
        .agg(F.count("*").cast("long").alias("tcnt"))
        .select(
            "event_type",
            "vc",
            "tcnt",
            F.sum("tcnt").over(wcum).cast("long").alias("cum"),
        )
    )
    ng = dom.groupBy("event_type").agg(F.sum("tcnt").cast("long").alias("n_g"))
    med = (
        dom.join(ng, "event_type")
        .filter(F.col("cum") * 2 >= F.col("n_g") + 1)
        .groupBy("event_type")
        .agg(F.min("vc").alias("med_g"))
    )
    z = dom.join(F.broadcast(med), "event_type").select(
        "event_type", "tcnt", F.abs(F.col("vc") - F.col("med_g")).alias("zc")
    )
    g = z.groupBy("event_type").agg(
        F.sum("tcnt").cast("long").alias("n_g"),
        F.sum(F.col("tcnt") * F.col("zc")).cast("long").alias("s_g"),
        F.sum(F.col("tcnt") * F.col("zc") * F.col("zc"))
        .cast("long")
        .alias("q_g"),
    )
    out = _anova_tail(g).join(F.broadcast(med), "event_type")
    return out.select(
        "event_type",
        "n_g",
        "med_g",
        "s_g",
        _dec_str(F.col("q_g")).alias("q_g_str"),
        "n",
        "k",
        "ssb",
        "ssw",
        "f_stat",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
@register(
    "orders_t_closeness_profile",
    """
    WITH q AS (
      SELECT o_orderpriority AS qi1, o_orderstatus AS qi2,
             CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS qi3,
             (CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 1000000)
               // 5000000 AS sens
      FROM orders
    ), sdom AS (
      SELECT DISTINCT sens FROM q
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sdom
    ), cls AS (
      SELECT qi1, qi2, qi3, CAST(COUNT(*) AS BIGINT) AS n_c
      FROM q GROUP BY qi1, qi2, qi3
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q
    ), gcnt AS (
      SELECT sens, CAST(COUNT(*) AS BIGINT) AS gl_cnt
      FROM q GROUP BY sens
    ), ccnt AS (
      SELECT qi1, qi2, qi3, sens, CAST(COUNT(*) AS BIGINT) AS c_cnt
      FROM q GROUP BY qi1, qi2, qi3, sens
    ), grid AS (
      SELECT cls.qi1, cls.qi2, cls.qi3, cls.n_c, sdom.sens,
             COALESCE(ccnt.c_cnt, 0) AS c_cnt,
             gcnt.gl_cnt
      FROM cls CROSS JOIN sdom
      LEFT JOIN ccnt ON ccnt.qi1 = cls.qi1 AND ccnt.qi2 = cls.qi2
                    AND ccnt.qi3 = cls.qi3 AND ccnt.sens = sdom.sens
      JOIN gcnt ON gcnt.sens = sdom.sens
    ), cum AS (
      SELECT qi1, qi2, qi3, n_c, sens,
             CAST(SUM(c_cnt) OVER (PARTITION BY qi1, qi2, qi3 ORDER BY sens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_c,
             CAST(SUM(gl_cnt) OVER (PARTITION BY qi1, qi2, qi3 ORDER BY sens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n
      FROM grid
    ), d AS (
      SELECT qi1, qi2, qi3, n_c,
             CAST(SUM(ABS(tot.n * cum_c - n_c * cum_n)) AS DECIMAL(38,0))
               AS d_scaled
      FROM cum CROSS JOIN tot
      GROUP BY qi1, qi2, qi3, n_c
    )
    SELECT d.qi1, d.qi2, d.qi3, d.n_c,
           CAST(d.d_scaled AS VARCHAR) AS d_scaled_str,
           CASE WHEN d.n_c > 0 AND m.m > 1 THEN
             CAST(d.d_scaled AS DOUBLE)
               / (CAST(d.n_c AS DOUBLE) * CAST(tot.n AS DOUBLE)
                  * CAST(m.m - 1 AS DOUBLE))
           END AS t_closeness
    FROM d CROSS JOIN tot CROSS JOIN m
    ORDER BY d.qi1, d.qi2, d.qi3
    """,
)
def orders_t_closeness_profile(spark: SparkSession, sf: str):
    """T-CLOSENESS (Li et al. 2007) — the privacy-triad member after
    k-anonymity and l-diversity (``orders_k_anonymity_profile``, same
    quasi-identifier (priority, status, order month) and the same
    bucketed order-value sensitive attribute): per QI class, the Earth
    Mover's Distance between the class's sensitive distribution and
    the global one over the ORDERED sensitive domain.  1-D ordered EMD
    = mean absolute prefix-CDF gap; clearing the common denominator
    n_c·N makes the numerator the exact integer
    Σ_r |N·cum_c(r) − n_c·cum_N(r)| (digit-string conveyed; the final
    domain position contributes identically 0 so summing all m terms
    equals the m−1-term definition), and t is ONE guarded division by
    n_c·N·(m−1).  Scale: class×domain grid is |classes|·m rows (both
    bounded: 5 priorities × 3 statuses × months × ~11 value buckets);
    raw rows are touched once by two domain-sized groupBys."""
    o = t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("qi1"),
        F.col("o_orderstatus").alias("qi2"),
        F.date_format("o_orderdate", "yyyy-MM").alias("qi3"),
        F.call_function(
            "div", cents("o_totalprice") + 1_000_000, F.lit(5_000_000)
        ).alias("sens"),
    )
    sdom = o.select("sens").distinct()
    m = sdom.agg(F.count("*").cast("long").alias("m"))
    cls = o.groupBy("qi1", "qi2", "qi3").agg(
        F.count("*").cast("long").alias("n_c")
    )
    tot = o.agg(F.count("*").cast("long").alias("n"))
    gcnt = o.groupBy("sens").agg(F.count("*").cast("long").alias("gl_cnt"))
    ccnt = o.groupBy("qi1", "qi2", "qi3", "sens").agg(
        F.count("*").cast("long").alias("c_cnt")
    )
    grid = (
        cls.crossJoin(F.broadcast(sdom))
        .join(ccnt, ["qi1", "qi2", "qi3", "sens"], "left")
        .join(F.broadcast(gcnt), "sens")
        .select(
            "qi1",
            "qi2",
            "qi3",
            "n_c",
            "sens",
            F.coalesce(F.col("c_cnt"), F.lit(0)).alias("c_cnt"),
            "gl_cnt",
        )
    )
    wc = W.partitionBy("qi1", "qi2", "qi3").orderBy("sens").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = grid.select(
        "qi1",
        "qi2",
        "qi3",
        "n_c",
        "sens",
        F.sum("c_cnt").over(wc).cast("long").alias("cum_c"),
        F.sum("gl_cnt").over(wc).cast("long").alias("cum_n"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "qi1",
            "qi2",
            "qi3",
            "n_c",
            F.abs(
                F.col("n") * F.col("cum_c") - F.col("n_c") * F.col("cum_n")
            ).alias("gap"),
        )
        .groupBy("qi1", "qi2", "qi3", "n_c")
        .agg(F.sum(F.col("gap").cast("decimal(38,0)")).alias("d_scaled"))
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(m))
        .select(
            "qi1",
            "qi2",
            "qi3",
            "n_c",
            F.col("d_scaled").cast("decimal(38,0)").cast("string").alias(
                "d_scaled_str"
            ),
            F.when(
                (F.col("n_c") > 0) & (F.col("m") > 1),
                F.col("d_scaled").cast("double")
                / (
                    F.col("n_c").cast("double")
                    * F.col("n").cast("double")
                    * (F.col("m") - 1).cast("double")
                ),
            ).alias("t_closeness"),
        )
        .orderBy("qi1", "qi2", "qi3")
    )


# ---------------------------------------------------------------------------
def _mcc_oracle() -> str:
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
               AS pe_num,
             CAST(SUM(COALESCE(r.rn, 0) * COALESCE(r.rn, 0)) AS BIGINT)
               AS sum_r_sq,
             CAST(SUM(COALESCE(c.cn, 0) * COALESCE(c.cn, 0)) AS BIGINT)
               AS sum_c_sq
      FROM r FULL OUTER JOIN c USING (lbl)
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN lang = guessed_lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree
      FROM pred
    )
    SELECT g.n AS n_docs, g.agree AS agree_docs, m.pe_num,
           m.sum_r_sq, m.sum_c_sq,
           CASE WHEN (g.n * g.n - m.sum_r_sq) > 0
                 AND (g.n * g.n - m.sum_c_sq) > 0 THEN
             CAST(g.n * g.agree - m.pe_num AS DOUBLE)
               / (sqrt(CAST(g.n * g.n - m.sum_r_sq AS DOUBLE))
                  * sqrt(CAST(g.n * g.n - m.sum_c_sq AS DOUBLE)))
           END AS mcc
    FROM g CROSS JOIN m
    """


@register("langid_mcc_cells", _mcc_oracle())
def langid_mcc_cells(spark: SparkSession, sf: str):
    """MULTICLASS MATTHEWS CORRELATION (Gorodkin 2004's R_K) of the
    langid heuristic against the labeled ``lang`` column — the eval
    ladder's last summary statistic: it shares Cohen's kappa's exact
    integer numerator N·agree − Σ_l r_l·c_l but normalizes by
    √(N²−Σ r_l²)·√(N²−Σ c_l²), the geometric mean of the two marginal
    dispersions — so a degenerate always-majority guesser gets MCC = 0
    with a DEFINED denominator exactly where kappa degenerates.  All
    moments are exact int64 over the label-domain marginals (full
    outer join + COALESCE 0 for one-sided labels, the kappa rule); the
    statistic is one guarded fixed DOUBLE tree.  Scale: one pruned
    documents scan for the langid CTE, then |labels|-domain
    arithmetic."""
    from byte_convert_avro_spark.queries.text import lang_id_heuristic

    pred = lang_id_heuristic(spark, sf).select("lang", "guessed_lang")
    r = pred.groupBy(F.col("lang").alias("lbl")).agg(
        F.count("*").cast("long").alias("rn")
    )
    c = pred.groupBy(F.col("guessed_lang").alias("lbl")).agg(
        F.count("*").cast("long").alias("cn")
    )
    rr = F.coalesce(F.col("rn"), F.lit(0))
    cc = F.coalesce(F.col("cn"), F.lit(0))
    m = (
        r.join(c, "lbl", "full_outer")
        .select(
            (rr * cc).alias("p"),
            (rr * rr).alias("r2"),
            (cc * cc).alias("c2"),
        )
        .agg(
            F.sum("p").cast("long").alias("pe_num"),
            F.sum("r2").cast("long").alias("sum_r_sq"),
            F.sum("c2").cast("long").alias("sum_c_sq"),
        )
    )
    g = pred.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("guessed_lang"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    n, agree = F.col("n"), F.col("agree")
    dr = n * n - F.col("sum_r_sq")
    dc = n * n - F.col("sum_c_sq")
    return g.crossJoin(F.broadcast(m)).select(
        n.alias("n_docs"),
        agree.alias("agree_docs"),
        "pe_num",
        "sum_r_sq",
        "sum_c_sq",
        F.when(
            (dr > 0) & (dc > 0),
            (n * agree - F.col("pe_num")).cast("double")
            / (F.sqrt(dr.cast("double")) * F.sqrt(dc.cast("double"))),
        ).alias("mcc"),
    )


# ---------------------------------------------------------------------------
#: The empirical-Bayes prediction prefix shared with
#: ``orders_target_calibration_bins`` (same median, same shrinkage m=10,
#: same bin rule) — ECE summarizes that entry's table into one number.
_ENC_SQL = """
    o AS (
      SELECT o_custkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS vc
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
      SELECT o_custkey, CASE WHEN vc > med THEN 1 ELSE 0 END AS y
      FROM o CROSS JOIN med
    ), gg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS d
      FROM lab
    ), cc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(y) AS BIGINT) AS y_c
      FROM lab GROUP BY o_custkey
    ), enc AS (
      SELECT cc.o_custkey, cc.n_c, cc.y_c,
             (CAST(cc.y_c AS DOUBLE)
              + 10.0 * (CAST(gg.d AS DOUBLE) / CAST(gg.n AS DOUBLE)))
               / (CAST(cc.n_c AS DOUBLE) + 10.0) AS p
      FROM cc CROSS JOIN gg
    )"""


@register(
    "orders_calibration_ece",
    f"""
    WITH {_ENC_SQL}, b AS (
      SELECT CAST(FLOOR(p * 20.0) AS BIGINT) AS bin, o_custkey, n_c, y_c,
             CAST(n_c AS DOUBLE) * p AS wp
      FROM enc
    ), ch AS (
      SELECT bin, o_custkey // 4096 AS chk,
             list_reduce(list(wp ORDER BY o_custkey), (a, b) -> a + b)
               AS csum,
             CAST(SUM(n_c) AS BIGINT) AS cn, CAST(SUM(y_c) AS BIGINT) AS cy
      FROM b GROUP BY bin, chk
    ), binagg AS (
      SELECT bin,
             list_reduce(list(csum ORDER BY chk), (a, b) -> a + b) AS wpsum,
             CAST(SUM(cn) AS BIGINT) AS n_orders,
             CAST(SUM(cy) AS BIGINT) AS n_pos
      FROM ch GROUP BY bin
    ), gaps AS (
      SELECT bin, n_orders,
             ABS(CAST(n_pos AS DOUBLE) / CAST(n_orders AS DOUBLE)
                 - wpsum / CAST(n_orders AS DOUBLE)) AS gap
      FROM binagg WHERE n_orders > 0
    ), tot AS (
      SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM gaps
    ), folded AS (
      SELECT list_reduce(
               list(CAST(n_orders AS DOUBLE) * gap ORDER BY bin),
               (a, b) -> a + b) AS wsum,
             MAX(gap) AS mce
      FROM gaps
    )
    SELECT tot.n_bins, tot.n_total,
           CASE WHEN tot.n_total > 0 THEN
             folded.wsum / CAST(tot.n_total AS DOUBLE)
           END AS ece,
           folded.mce
    FROM tot CROSS JOIN folded
    """,
)
def orders_calibration_ece(spark: SparkSession, sf: str):
    """EXPECTED CALIBRATION ERROR — the one-number summary of
    ``orders_target_calibration_bins`` (same empirical-Bayes
    predictions, same 20 literal bins): ECE = Σ_b w_b·|acc_b − conf_b|
    with order weights w_b, plus MCE = max_b gap.  acc_b is a guarded
    division of exact ints; conf_b = Σ n_c·p / Σ n_c needs a sum of
    per-customer DOUBLES, which is order-sensitive — it runs through
    the two-level custkey-ordered chunk fold
    (functions.bounded_ordered_agg, chunk 4096; the oracle spells the
    identical chunking) so the value is bit-stable at any partitioning;
    the final Σ over ≤21 bins is a bounded ordered fold keyed by bin.
    Scale: one customer-domain groupBy, then ≤21-row arithmetic."""
    o = t(spark, sf, "orders").select(
        "o_custkey", cents("o_totalprice").alias("vc")
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
        "o_custkey", F.when(F.col("vc") > F.col("med"), 1).otherwise(0).alias("y")
    )
    gg = lab.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("d")
    )
    cc = lab.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_c"),
        F.sum("y").cast("long").alias("y_c"),
    )
    p = (
        F.col("y_c").cast("double")
        + F.lit(10.0) * (F.col("d").cast("double") / F.col("n").cast("double"))
    ) / (F.col("n_c").cast("double") + F.lit(10.0))
    b = cc.crossJoin(F.broadcast(gg)).select(
        F.floor(p * F.lit(20.0)).cast("long").alias("bin"),
        "o_custkey",
        "n_c",
        "y_c",
        (F.col("n_c").cast("double") * p).alias("wp"),
    )
    binagg = bounded_ordered_agg(
        b,
        ["bin"],
        "o_custkey",
        "wp",
        chunk=4096,
        chunk_aggs={
            "cn": F.sum("n_c").cast("long"),
            "cy": F.sum("y_c").cast("long"),
        },
        final_aggs={
            "n_orders": F.sum("cn").cast("long"),
            "n_pos": F.sum("cy").cast("long"),
        },
    )
    gaps = binagg.filter(F.col("n_orders") > 0).select(
        "bin",
        "n_orders",
        F.abs(
            F.col("n_pos").cast("double") / F.col("n_orders").cast("double")
            - F.col("osum") / F.col("n_orders").cast("double")
        ).alias("gap"),
    )
    tot = gaps.agg(
        F.sum("n_orders").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_bins"),
    )
    folded = gaps.select(
        "bin", (F.col("n_orders").cast("double") * F.col("gap")).alias("wgap"),
        "gap",
    ).agg(
        ordered_fold("bin", "wgap").alias("wsum"), F.max("gap").alias("mce")
    )
    return tot.crossJoin(F.broadcast(folded)).select(
        "n_bins",
        "n_total",
        F.when(
            F.col("n_total") > 0, F.col("wsum") / F.col("n_total").cast("double")
        ).alias("ece"),
        "mce",
    )


# ---------------------------------------------------------------------------
# Count-sketch family (the SIGNED sketch next to count-min, plus the
# AMS F2 moment it carries for free) — operators/sketch.py
# count_sketch_build / count_sketch_estimate / ams_f2_estimate.

_CS_TOK_SQL = """
    tok AS (
      SELECT t.token FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token) t
      WHERE t.token <> ''
    )"""


def _cs_pos_sql(item: str, i: str, w: int) -> str:
    return (
        f"('0x' || substr(md5({item} || ':cs' || CAST({i} AS VARCHAR)),"
        f" 1, 8))::BIGINT % {w}"
    )


def _cs_sign_sql(item: str, i: str) -> str:
    return (
        f"(1 - 2 * (('0x' || substr(md5({item} || ':css'"
        f" || CAST({i} AS VARCHAR)), 1, 8))::BIGINT % 2))"
    )


@register(
    "token_count_sketch_vs_exact",
    f"""
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
    """,
)
def token_count_sketch_vs_exact(spark: SparkSession, sf: str):
    """COUNT-SKETCH vs EXACT — the SIGNED frequency sketch (Charikar-
    Chen-Farach-Colton) next to the count-min entry
    (``token_count_min_vs_exact``, same undersized 3x32 geometry, same
    corpus): each increment is multiplied by a ±1 sign hash, so
    collision mass CANCELS in expectation, the median-of-3 point
    estimate is UNBIASED, and the ``err`` column runs BOTH directions —
    the structural contrast to count-min's overestimate-only contract,
    checked as pinned VALUES because the md5-salted matrix is
    byte-identical cross-engine.  The median of the d=3 signed reads is
    the exact order statistic at position 2 of the sorted reads.
    Scale: identical plan shape to count-min — one explode(3) +
    one (i, pos) map-side-combined groupBy into a 96-cell matrix,
    then a broadcast probe join."""
    from byte_convert_avro_spark.operators.sketch import (
        count_sketch_build,
        count_sketch_estimate,
    )

    tok = (
        t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    exact = tok.groupBy("token").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), "token").limit(10)
    sk = count_sketch_build(tok, "token", d=3, w=32)
    est = count_sketch_estimate(sk, top.select("token"), "token", d=3, w=32)
    return top.join(est, "token").select(
        "token",
        "exact_cnt",
        F.col("est").alias("est_cnt"),
        (F.col("est") - F.col("exact_cnt")).alias("err"),
    )


# ---------------------------------------------------------------------------
@register(
    "token_ams_f2_sketch_vs_exact",
    f"""
    WITH {_CS_TOK_SQL}, exact AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt * cnt) AS DECIMAL(38,0)) AS f2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token)
    ), ds AS (
      SELECT unnest([0, 1, 2, 3, 4]) AS i
    ), cells AS (
      SELECT d.i,
             {_cs_pos_sql('tok.token', 'd.i', 64)} AS pos,
             CAST(SUM({_cs_sign_sql('tok.token', 'd.i')}) AS BIGINT) AS c
      FROM tok CROSS JOIN ds d
      GROUP BY 1, 2
    ), per_row AS (
      SELECT i, CAST(SUM(c * c) AS BIGINT) AS f2r
      FROM cells GROUP BY i
    ), med AS (
      SELECT CAST(list(f2r ORDER BY f2r)[3] AS DECIMAL(38,0)) AS est_f2
      FROM per_row
    )
    SELECT exact.n_tokens,
           CAST(exact.f2 AS VARCHAR) AS exact_f2_str,
           CAST(med.est_f2 AS VARCHAR) AS est_f2_str,
           CASE WHEN exact.f2 > 0 THEN
             (CAST(med.est_f2 AS DOUBLE) - CAST(exact.f2 AS DOUBLE))
               / CAST(exact.f2 AS DOUBLE)
           END AS rel_err
    FROM exact CROSS JOIN med
    """,
)
def token_ams_f2_sketch_vs_exact(spark: SparkSession, sf: str):
    """AMS SECOND-FREQUENCY-MOMENT estimate (Alon-Matias-Szegedy 1996 —
    the founding streaming-sketch result) vs the exact F2 = Σ_tok f²:
    the same signed count-sketch cells (d=5 rows, w=64), each row's
    Σ_j C[i,j]² an unbiased F2 estimate, the median of the 5 row
    estimates the returned value.  F2 is the self-join size of the
    token table — the statistic query planners want for equi-join
    cardinality — and the relative error of a 320-cell summary against
    the true moment is a pinned VALUE here because the hash family is
    content-deterministic.  Both moments convey as digit strings (F2
    passes 2^53 at corpus scale); the relative error is one guarded
    fixed tree on int64-exact inputs cast to double.  Scale: the
    sketch is one map-side-combined groupBy into 320 cells; the exact
    side is one token-domain groupBy — the sketch is the piece that
    survives at 100 TB, the exact side is the gate's referee."""
    from byte_convert_avro_spark.operators.sketch import (
        ams_f2_estimate,
        count_sketch_build,
    )

    tok = (
        t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    exact = (
        tok.groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("cnt"))
            .cast("decimal(38,0)")
            .alias("f2"),
        )
    )
    sk = count_sketch_build(tok, "token", d=5, w=64)
    med = ams_f2_estimate(sk, d=5).select(
        F.col("est_f2").cast("decimal(38,0)").alias("est_f2")
    )
    return exact.crossJoin(F.broadcast(med)).select(
        "n_tokens",
        F.col("f2").cast("string").alias("exact_f2_str"),
        F.col("est_f2").cast("string").alias("est_f2_str"),
        F.when(
            F.col("f2") > 0,
            (F.col("est_f2").cast("double") - F.col("f2").cast("double"))
            / F.col("f2").cast("double"),
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023) — semantic dedup with CLUSTER-BOUNDED
# pairwise comparison: assign embeddings to the trained k-means cells,
# compare cosines only WITHIN a cell, drop any vector with a lower-id
# near-duplicate in its cell.  The existing dedup ladder is lexical
# (exact hash / MinHash / SimHash / prefix-filter on token sets) or
# global-geometric (all-pairs + sign-LSH); SemDeDup is the
# EMBEDDING-space production recipe: the cluster assignment bounds the
# candidate set by construction (Σ_c |c|² instead of N²), and in the
# 100 TB deployment k grows ~N/target_cell_size so the per-cell
# population — and with it every task's pair fan-out — stays constant.
# Here k=8 is pinned to the same bit-gated Lloyd's training the
# silhouette/Davies-Bouldin entries verify.

_SEMDEDUP_TAU = 0.4  # raw-cosine threshold, calibrated to this corpus
                     # (the embedding_near_dup_pairs operating point)

_SEMDEDUP_ASSIGN_SQL = """
    dist AS (
      SELECT v.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS d2
      FROM v CROSS JOIN cent3 c
    ), asg AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS rn
        FROM dist)
      WHERE rn = 1
    ), nrm AS (
      SELECT vec_id,
             sqrt(list_reduce(list_transform(generate_series(1, 64),
                  i -> e[i] * e[i]), (a, b) -> a + b)) AS nr
      FROM v
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      JOIN nrm na ON na.vec_id = a.vec_id
      JOIN nrm nb ON nb.vec_id = b.vec_id
      WHERE list_reduce(list_transform(generate_series(1, 64),
              i -> va.e[i] * vb.e[i]), (x, y) -> x + y)
            / (na.nr * nb.nr) >= {tau}
    ), prior AS (
      SELECT id_b AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_prior_dups
      FROM pairs GROUP BY id_b
    )"""


def _semdedup_flags_sql() -> str:
    from byte_convert_avro_spark.queries.relational_r14f import (
        _kmeans_cent3_prefix,
    )

    return f"""
    WITH {_kmeans_cent3_prefix()},
    {_SEMDEDUP_ASSIGN_SQL.format(tau=_SEMDEDUP_TAU)}
    SELECT asg.vec_id, asg.cell,
           COALESCE(prior.n_prior_dups, 0) AS n_prior_dups,
           CASE WHEN prior.vec_id IS NOT NULL THEN 1 ELSE 0 END AS dropped
    FROM asg LEFT JOIN prior ON prior.vec_id = asg.vec_id
    ORDER BY asg.vec_id
    """


def _semdedup_assignments(spark: SparkSession, sf: str):
    """(vec_id, e, cell, nr) over the pinned k=8/3-round Lloyd's
    centroids: cell via the row-local literal-argmin pattern (zero
    shuffle — every row carries its own fixed distance trees), norm as
    the same sequential self-dot fold the oracle spells."""
    from byte_convert_avro_spark.queries.relational_r14f import (
        _lloyd_cents,
        _point_cells,
    )

    e, _, lits = _lloyd_cents(spark, sf)
    cell, _, _ = _point_cells(lits)
    dot_self = F.aggregate(
        F.transform("e", lambda x: x * x),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id", "e", cell, F.sqrt(dot_self).alias("nr")
    )


def _semdedup_flags(spark: SparkSession, sf: str):
    asg = _semdedup_assignments(spark, sf)
    a = asg.select(
        F.col("vec_id").alias("id_a"),
        F.col("cell").alias("cell_a"),
        F.col("e").alias("ea"),
        F.col("nr").alias("na"),
    )
    b = asg.select(
        F.col("vec_id").alias("id_b"),
        F.col("cell").alias("cell_b"),
        F.col("e").alias("eb"),
        F.col("nr").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(dot / (F.col("na") * F.col("nb")) >= F.lit(_SEMDEDUP_TAU))
        .select("id_a", "id_b")
    )
    prior = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.count("*").cast("long").alias("n_prior_dups")
    )
    return (
        asg.select("vec_id", "cell")
        .join(prior, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("n_prior_dups"), F.lit(0)).alias("n_prior_dups"),
            F.when(F.col("n_prior_dups").isNotNull(), 1)
            .otherwise(0)
            .alias("dropped"),
        )
    )


@register("semdedup_prune_flags", _semdedup_flags_sql())
def semdedup_prune_flags(spark: SparkSession, sf: str):
    """SEMDEDUP per-vector verdict: (cell, number of lower-id
    near-duplicates in the cell, dropped flag) for every embedding —
    the greedy lowest-id-survivor rule of the exact-dedup keeper
    discipline applied in embedding space (a vector survives iff NO
    lower-id cell-mate has cosine ≥ τ=0.4 with it; the relation is not
    transitively closed, matching the SemDeDup recipe of one pruning
    sweep, not connected components).  The cluster assignment is
    row-local (literal centroid trees, zero shuffle); the ONLY shuffle
    is the within-cell self-join whose fan-out is Σ_c |c|² by
    construction — the scale contract that makes semantic dedup
    feasible where all-pairs (``embedding_near_dup_pairs``) is the
    correctness referee.  Output is integer-only (counts + flags), so
    the gate is insensitive to display rounding; the threshold
    compares the RAW sequential-fold cosine (the
    operators/dedup.embedding_near_dup rule)."""
    return _semdedup_flags(spark, sf).orderBy("vec_id")


def _semdedup_summary_sql() -> str:
    from byte_convert_avro_spark.queries.relational_r14f import (
        _kmeans_cent3_prefix,
    )

    return f"""
    WITH {_kmeans_cent3_prefix()},
    {_SEMDEDUP_ASSIGN_SQL.format(tau=_SEMDEDUP_TAU)}
    , flags AS (
      SELECT asg.vec_id, asg.cell,
             CASE WHEN prior.vec_id IS NOT NULL THEN 1 ELSE 0 END AS dropped
      FROM asg LEFT JOIN prior ON prior.vec_id = asg.vec_id
    )
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(dropped) AS BIGINT) AS n_kept,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(COUNT(*) - SUM(dropped) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)
           END AS keep_rate
    FROM flags GROUP BY cell ORDER BY cell
    """


@register("semdedup_cell_summary", _semdedup_summary_sql())
def semdedup_cell_summary(spark: SparkSession, sf: str):
    """SEMDEDUP per-cell report — the curation dashboard row: members,
    dropped, kept and keep-rate per k-means cell (k=8 pinned training).
    The cells with denser semantic mass show lower keep rates — the
    "prune where the corpus over-represents" story SemDeDup runs on.
    One groupBy over the flags frame; keep_rate is a single guarded
    division of exact counts."""
    flags = _semdedup_flags(spark, sf)
    n_kept = F.count("*") - F.sum("dropped")
    return (
        flags.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            n_kept.cast("long").alias("n_kept"),
            F.when(
                F.count("*") > 0,
                n_kept.cast("double") / F.count("*").cast("double"),
            ).alias("keep_rate"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference strength — the pairwise-comparison model
# behind preference/reward data pipelines: observe "A beat B" events,
# estimate a latent strength per item via Hunter's (2004) MM update
#   p_i <- W_i / Σ_j n_ij / (p_i + p_j)
# unrolled for 3 fixed rounds from p⁰ = 1 (the pagerank/kmeans bounded-
# rounds discipline).  Comparisons: within each order, every pair of
# lineitems with DISTINCT brands is one duel, won by the higher line
# revenue (exact integer units); revenue ties produce no comparison.

_BT_EDGES_SQL = """
    li AS (
      SELECT l_orderkey, p_brand AS b,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ), cmp AS (
      SELECT a.b AS i, b.b AS j,
             CASE WHEN a.rev > b.rev THEN 1 ELSE 0 END AS win_i
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.b < b.b
      WHERE a.rev <> b.rev
    ), und AS (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(win_i) AS BIGINT) AS w
      FROM cmp GROUP BY i, j
    ), edges AS (
      SELECT i, j, n, w FROM und
      UNION ALL
      SELECT j AS i, i AS j, n, n - w AS w FROM und
    ), wt AS (
      SELECT i, CAST(SUM(w) AS BIGINT) AS w_tot,
             CAST(SUM(n) AS BIGINT) AS n_tot
      FROM edges GROUP BY i
    )"""


def _bt_round_sql(r: int, prev: str) -> str:
    """One unrolled MM round: fold n_ij/(p_i+p_j) over j (ordered), then
    one guarded division of W_i by the fold."""
    return f"""r{r} AS (
      SELECT e.i,
             CASE WHEN list_reduce(list(CAST(e.n AS DOUBLE)
                    / (pi.p + pj.p) ORDER BY e.j), (a, b) -> a + b) > 0
             THEN CAST(wt.w_tot AS DOUBLE)
                    / list_reduce(list(CAST(e.n AS DOUBLE)
                        / (pi.p + pj.p) ORDER BY e.j), (a, b) -> a + b)
             ELSE 0.0 END AS p
      FROM edges e
      JOIN {prev} pi ON pi.i = e.i
      JOIN {prev} pj ON pj.i = e.j
      JOIN wt ON wt.i = e.i
      GROUP BY e.i, wt.w_tot
    )"""


@register(
    "brand_bradley_terry_strength",
    f"""
    WITH {_BT_EDGES_SQL},
    r0 AS (SELECT i, 1.0 AS p FROM wt),
    {_bt_round_sql(1, 'r0')},
    {_bt_round_sql(2, 'r1')},
    {_bt_round_sql(3, 'r2')}
    SELECT wt.i AS brand, wt.w_tot, wt.n_tot, r3.p AS strength,
           ROW_NUMBER() OVER (ORDER BY r3.p DESC, wt.i) AS rnk
    FROM wt JOIN r3 ON r3.i = wt.i
    ORDER BY rnk
    """,
)
def brand_bradley_terry_strength(spark: SparkSession, sf: str):
    """BRADLEY-TERRY preference strengths from pairwise duels — the
    model behind preference-ranking / reward-model data prep (turn "A
    beat B" events into a latent strength per item): within each order,
    every pair of distinct-brand lineitems is one comparison won by the
    higher exact-integer line revenue; Hunter's MM update runs 3 FIXED
    unrolled rounds from p⁰=1 (the pagerank bounded-rounds discipline —
    no driver collects, each round is a |brands|-row broadcast join
    back onto the 25×24-row directed edge table).  The only
    order-sensitive float — Σ_j n_ij/(p_i+p_j) over a brand's ≤24
    opponents — is a bounded ordered fold keyed by opponent; the round
    update is one guarded division.  Scale: duels explode ≤C(7,2)
    pairs per order and aggregate map-side onto the brand-pair domain;
    every round after that lives on ≤|brands|² rows regardless of
    corpus size."""
    li = (
        t(spark, sf, "lineitem")
        .join(
            t(spark, sf, "part").select(
                F.col("p_partkey"), F.col("p_brand").alias("b")
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            "l_orderkey",
            "b",
            (
                cents("l_extendedprice") * (100 - cents("l_discount"))
            ).alias("rev"),
        )
    )
    # Row-local duel enumeration (r14): the previous a⋈bb self-join on
    # l_orderkey referenced ``li`` (the lineitem⋈part join) twice and
    # streamed every ≤7×7 per-order combination through a join; orders
    # are ≤7 lineitems, so collecting each order's (brand, rev) structs
    # once and enumerating the cross-brand duels inside one projection
    # is bounded at C(7,2) emitted rows per order BY CONSTRUCTION —
    # same (i, j, win_i) multiset as the join (every unordered lineitem
    # pair with distinct brands and distinct revenue, oriented i < j).
    items = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("b", "rev")).alias("_it")
    )
    cmp_ = items.select(
        F.explode(
            F.expr(
                "flatten(transform(_it, u -> "
                "transform(filter(_it, v -> u.b < v.b AND u.rev != v.rev), "
                "v -> named_struct('i', u.b, 'j', v.b, "
                "'win_i', CASE WHEN u.rev > v.rev THEN 1 ELSE 0 END))))"
            )
        ).alias("_c")
    ).select("_c.i", "_c.j", "_c.win_i")
    und = cmp_.groupBy("i", "j").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("win_i").cast("long").alias("w"),
    )
    # row-local explode, not unionByName(self): the union re-evaluated
    # the brand-duel aggregation once per branch, and the 3 MM rounds
    # below re-evaluate ``edges`` again each round
    edges = und.select(
        F.explode(
            F.array(
                F.struct(F.col("i"), F.col("j"), F.col("n"), F.col("w")),
                F.struct(
                    F.col("j").alias("i"),
                    F.col("i").alias("j"),
                    F.col("n"),
                    (F.col("n") - F.col("w")).alias("w"),
                ),
            )
        ).alias("_e")
    ).select("_e.i", "_e.j", "_e.n", "_e.w")
    # lazy checkpoint (the CC/LPA discipline): the ≤|brands|² directed
    # edge frame is referenced by wt plus every unrolled MM round, and
    # each round's p chains all previous rounds — without truncation the
    # physical plan replicated the full duel subtree 184× (368× before
    # the explode fix above; plans/r14/brand_bradley_terry_strength_*).
    # Checkpointing a few-hundred-row frame costs one tiny job; the
    # rounds stay broadcast-only (plan pin test_r14g_bradley_terry_
    # rounds_broadcast).
    edges = edges.localCheckpoint(eager=False)
    wt = edges.groupBy("i").agg(
        F.sum("w").cast("long").alias("w_tot"),
        F.sum("n").cast("long").alias("n_tot"),
    )
    p = wt.select("i", F.lit(1.0).cast("double").alias("p"))
    for _ in range(3):
        pi = p.select(F.col("i"), F.col("p").alias("p_i"))
        pj = p.select(F.col("i").alias("j"), F.col("p").alias("p_j"))
        term = edges.join(F.broadcast(pi), "i").join(
            F.broadcast(pj), "j"
        ).select(
            "i",
            "j",
            (F.col("n").cast("double") / (F.col("p_i") + F.col("p_j"))).alias(
                "term"
            ),
        )
        denom = term.groupBy("i").agg(
            ordered_fold("j", "term").alias("den")
        )
        p = (
            denom.join(F.broadcast(wt.select("i", "w_tot")), "i")
            .select(
                "i",
                F.when(
                    F.col("den") > 0,
                    F.col("w_tot").cast("double") / F.col("den"),
                )
                .otherwise(F.lit(0.0))
                .alias("p"),
            )
        )
    out = wt.join(p, "i")
    wrnk = W.orderBy(F.col("p").desc(), "i")
    return out.select(
        F.col("i").alias("brand"),
        "w_tot",
        "n_tot",
        F.col("p").alias("strength"),
        F.row_number().over(wrnk).cast("long").alias("rnk"),
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
@register(
    "orc_roundtrip_supplier",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def orc_roundtrip_supplier(spark: SparkSession, sf: str):
    """ORC under the oracle gate — the columnar at-rest format the
    engine had not yet exercised (parquet is the native driver format;
    Avro OCF covers the row-major rung; ``federated_three_format_union``
    adds CSV/JSON): the supplier projection writes as Spark-native ORC
    (one file per partition, zlib default codec, min/max stripe stats)
    and reads back distributed, identity-compared against the parquet
    original read by DuckDB.  Any type mapping fault (BIGINT/DOUBLE/
    VARCHAR through the ORC writer), stripe framing fault, or dropped
    row breaks the hash.  Scale: per-partition files, bounded stripe
    buffers, zero driver involvement — the same contract as the OCF
    round-trips (avro_pipeline.py)."""
    from byte_convert_avro_spark.queries.base import scratch_dir, spread

    sel = t(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    d = scratch_dir("orc_")
    spread(sel, "s_suppkey").write.mode("overwrite").orc(d)
    return spark.read.orc(d)


# ---------------------------------------------------------------------------
# Hilbert-curve layout — the locality-preserving alternative to the
# Morton/Z-order entry (zorder_layout_effectiveness): the Hilbert curve
# never takes the long diagonal jumps Morton's bit-interleave does, so
# equal-size curve segments have tighter (custkey x day) bounding boxes
# and therefore better scan pruning.  The xy2d index is the classic
# iterative rotate-and-accumulate, UNROLLED to 8 integer steps (one per
# bit, most-significant first) spelled as the SAME CASE/arithmetic
# expressions in both engines — no bit-twiddling builtins needed, so
# the spelling is portable and exact.


def _hilbert_step_exprs(s: int) -> tuple[str, str, str]:
    """One unrolled Hilbert step at quadrant side ``s`` (a power of two).

    INVARIANT: on entry x, y ∈ [0, 2s) — the previous step reduced them
    into its quadrant — so the top bit reads as the portable
    ``x >= s`` test and every value stays NON-NEGATIVE (no engine
    divergence on negative DIV/%, the reason the canonical
    negative-intermediate bit-twiddling loop is NOT used here).  The
    recursive definition: quadrant index in curve order
    (0,0)->0, (0,1)->1, (1,1)->2, (1,0)->3; lower bits recurse with the
    quadrant's transform (q0: transpose; q1/q2: identity; q3: rotate
    180° then transpose).  Returns (d_new, x_new, y_new) SQL expression
    strings over columns (x, y, d), shared VERBATIM by both engines."""
    quad = (
        f"(CASE WHEN x < {s} AND y < {s} THEN 0"
        f" WHEN x < {s} THEN 1 WHEN y >= {s} THEN 2 ELSE 3 END)"
    )
    d_new = f"d + {s} * {s} * {quad}"
    x_new = (
        f"(CASE WHEN y >= {s} THEN x % {s}"
        f" WHEN x >= {s} THEN {s} - 1 - (y % {s})"
        f" ELSE y % {s} END)"
    )
    y_new = (
        f"(CASE WHEN y >= {s} THEN y % {s}"
        f" WHEN x >= {s} THEN {s} - 1 - (x % {s})"
        f" ELSE x % {s} END)"
    )
    return d_new, x_new, y_new


def _hilbert_sql_chain(src: str) -> str:
    """The 8 unrolled steps as chained CTEs h0..h8 over ``src`` (which
    must expose o_orderkey, cb, db): ends with h8(o_orderkey, cb0, db0,
    hval).  Every step's expressions come from _hilbert_step_exprs —
    byte-identical to the Spark chain."""
    parts = [
        f"h0 AS (SELECT o_orderkey, cb AS cb0, db AS db0,"
        f" cb AS x, db AS y, 0 AS d FROM {src})"
    ]
    for step in range(8):
        s = 1 << (7 - step)
        d_new, x_new, y_new = _hilbert_step_exprs(s)
        parts.append(
            f"h{step + 1} AS (SELECT o_orderkey, cb0, db0,"
            f" {x_new} AS x, {y_new} AS y, {d_new} AS d FROM h{step})"
        )
    return ",\n    ".join(parts)


def _hilbert_spark(bucketed):
    """Spark twin of _hilbert_sql_chain over a (o_orderkey, cb, db)
    frame: the same 8 unrolled selects, expressions verbatim."""
    cur = bucketed.selectExpr(
        "o_orderkey", "cb AS cb0", "db AS db0", "cb AS x", "db AS y", "0 AS d"
    )
    for step in range(8):
        s = 1 << (7 - step)
        d_new, x_new, y_new = _hilbert_step_exprs(s)
        cur = cur.selectExpr(
            "o_orderkey",
            "cb0",
            "db0",
            f"{x_new} AS x",
            f"{y_new} AS y",
            f"{d_new} AS d",
        )
    return cur


def _hilbert_oracle() -> str:
    from byte_convert_avro_spark.queries.pipeline_ops import _ZVAL_EXPR

    return f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             (epoch_us(o_orderdate) // 86400000000) AS day_idx
      FROM orders
    ), stats AS (
      SELECT MIN(o_custkey) AS mnc, MAX(o_custkey) AS mxc,
             MIN(day_idx) AS mnd, MAX(day_idx) AS mxd
      FROM o
    ), bucketed AS (
      SELECT o_orderkey,
             CAST(((o.o_custkey - s.mnc) * 256) // (s.mxc - s.mnc + 1) AS BIGINT) AS cb,
             CAST(((o.day_idx - s.mnd) * 256) // (s.mxd - s.mnd + 1) AS BIGINT) AS db
      FROM o CROSS JOIN stats s
    ),
    {_hilbert_sql_chain('bucketed')},
    z AS (
      SELECT h8.o_orderkey, h8.cb0 AS cb, h8.db0 AS db, h8.d AS hval,
             {_ZVAL_EXPR.replace('cb', 'h8.cb0').replace('db', 'h8.db0')} AS zval
      FROM h8
    ), assigned AS (
      SELECT 'hilbert' AS layout, hval // 384 AS file_id, cb, db FROM z
      UNION ALL
      SELECT 'zorder', zval // 384, cb, db FROM z
      UNION ALL
      SELECT 'linear', db, cb, db FROM z
    ), perfile AS (
      SELECT layout, file_id,
             MAX(cb) - MIN(cb) + 1 AS cb_span,
             MAX(db) - MIN(db) + 1 AS db_span
      FROM assigned GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(cb_span) AS DOUBLE) / COUNT(*) AS avg_cb_span,
           CAST(SUM(db_span) AS DOUBLE) / COUNT(*) AS avg_db_span,
           CAST(SUM(cb_span * db_span) AS DOUBLE) / COUNT(*) AS avg_volume
    FROM perfile GROUP BY layout
    """


@register("hilbert_layout_effectiveness", _hilbert_oracle())
def hilbert_layout_effectiveness(spark: SparkSession, sf: str):
    """DATA-LAYOUT ENGINEERING, part 2: the HILBERT curve head-to-head
    against Morton/Z-order (``zorder_layout_effectiveness``, same
    bucketing, same bounding-box statistic).  Files are 384-point curve
    segments — deliberately NOT a power of 4: length-4^k segments are
    exactly quadrant-aligned in BOTH curves, making them provably
    identical (the 256-point variant measures byte-equal boxes), so an
    aligned benchmark can never show the difference.  Off alignment,
    Morton's diagonal jumps cost ~2x: on the full 256x256 grid the avg
    box volume is 434 (Hilbert) vs 847 (Morton), and the same gap shows
    on the data below, with 'linear' as the unclustered baseline.  The xy2d index is the recursive quadrant
    reduction UNROLLED to 8 integer steps (most-significant bit first);
    each step is three CASE/%-only expressions over non-negative ints,
    shared VERBATIM between the Spark chain and the oracle CTE chain —
    no bit-twiddling builtins, no negative intermediates (the canonical
    loop's negative flips would hit engine-divergent DIV/% semantics).
    At deployment hval feeds ``repartitionByRange`` + sorted writes
    exactly like zval; everything here is row-local until the tiny
    per-file rollup."""
    o = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "datediff(cast(o_orderdate as date), date'1970-01-01')"
        ).cast("long").alias("day_idx"),
    )
    stats = o.agg(
        F.min("o_custkey").alias("mnc"),
        F.max("o_custkey").alias("mxc"),
        F.min("day_idx").alias("mnd"),
        F.max("day_idx").alias("mxd"),
    )
    bucketed = o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.expr("((o_custkey - mnc) * 256) DIV (mxc - mnc + 1)").alias("cb"),
        F.expr("((day_idx - mnd) * 256) DIV (mxd - mnd + 1)").alias("db"),
    )
    from byte_convert_avro_spark.queries.pipeline_ops import _ZVAL_EXPR

    h = _hilbert_spark(bucketed).select(
        "o_orderkey",
        F.col("cb0").alias("cb"),
        F.col("db0").alias("db"),
        F.col("d").alias("hval"),
    )
    z = h.withColumn("zval", F.expr(_ZVAL_EXPR))
    assigned = (
        # row-local explode, not unionAll(self ×3): the union's branches
        # each re-evaluated the 8-step Hilbert quadrant chain + z-value
        # interleave per row
        z.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("hilbert").alias("layout"),
                        F.expr("hval DIV 384").alias("file_id"),
                        F.col("cb"),
                        F.col("db"),
                    ),
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        F.expr("zval DIV 384").alias("file_id"),
                        F.col("cb"),
                        F.col("db"),
                    ),
                    F.struct(
                        F.lit("linear").alias("layout"),
                        F.col("db").alias("file_id"),
                        F.col("cb"),
                        F.col("db"),
                    ),
                )
            ).alias("_l")
        ).select("_l.layout", "_l.file_id", "_l.cb", "_l.db")
    )
    perfile = assigned.groupBy("layout", "file_id").agg(
        (F.max("cb") - F.min("cb") + 1).alias("cb_span"),
        (F.max("db") - F.min("db") + 1).alias("db_span"),
    )
    return perfile.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        (F.sum("cb_span").cast("double") / F.count("*")).alias("avg_cb_span"),
        (F.sum("db_span").cast("double") / F.count("*")).alias("avg_db_span"),
        (
            F.sum(F.col("cb_span") * F.col("db_span")).cast("double")
            / F.count("*")
        ).alias("avg_volume"),
    )


# ---------------------------------------------------------------------------
@register(
    "events_effect_sizes_view_purchase",
    """
    WITH f AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS vc,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
    ), dom AS (
      SELECT vc, CAST(SUM(pos) AS BIGINT) AS t1,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS t2
      FROM f GROUP BY vc
    ), gt AS (
      SELECT vc, t1, t2,
             COALESCE(CAST(SUM(t2) OVER (ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS w2
      FROM dom
    ), cnt AS (
      SELECT CAST(SUM(t1) AS BIGINT) AS n1, CAST(SUM(t2) AS BIGINT) AS n2,
             CAST(SUM(t1 * w2) AS DECIMAL(38,0)) AS wins,
             CAST(SUM(t1 * t2) AS DECIMAL(38,0)) AS ties,
             CAST(SUM(t1 * vc) AS BIGINT) AS s1,
             CAST(SUM(t2 * vc) AS BIGINT) AS s2,
             CAST(SUM(t1 * vc * vc) AS BIGINT) AS q1,
             CAST(SUM(t2 * vc * vc) AS BIGINT) AS q2
      FROM gt
    ), eff AS (
      SELECT n1, n2, wins, ties,
             CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
               - wins - ties AS losses,
             s1, s2, q1, q2
      FROM cnt
    )
    SELECT n1, n2,
           CAST(wins AS VARCHAR) AS wins_str,
           CAST(losses AS VARCHAR) AS losses_str,
           CAST(ties AS VARCHAR) AS ties_str,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             (CAST(wins AS DOUBLE) - CAST(losses AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
           END AS cliffs_delta,
           CASE WHEN n1 > 1 AND n2 > 1 AND n1 + n2 > 2
                 AND ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                           * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) > 0
           THEN
             (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
               / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                          * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                            * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
                      / CAST(n1 + n2 - 2 AS DOUBLE))
           END AS cohens_d,
           CASE WHEN n1 > 1 AND n2 > 1 AND n1 + n2 > 2
                 AND ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                           * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) > 0
           THEN
             ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                           * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                        + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                             * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
                       / CAST(n1 + n2 - 2 AS DOUBLE)))
               * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0))
           END AS hedges_g
    FROM eff
    """,
)
def events_effect_sizes_view_purchase(spark: SparkSession, sf: str):
    """EFFECT SIZES for the view-vs-purchase value comparison — the
    "how big, not just how significant" readouts the NHST battery
    (Welch t / Mann-Whitney / KS on these same two samples) reports
    next to its p-machinery: CLIFF'S DELTA (= rank-biserial r for two
    samples) from the EXACT win/loss/tie counts over the shared value
    domain — wins = Σ t₁(v)·cum₂(<v), the Mann-Whitney doubled-rank
    machinery re-read as pair counts, conveyed as digit strings
    (n₁·n₂ passes 2^53 at ~1e8×1e8 pooled rows) — plus COHEN'S D on
    the pooled-variance scale and its small-sample HEDGES' G
    correction, both single fixed DOUBLE trees over exact int64
    moments.  Scale: one domain groupBy + one domain window; nothing
    row-scaled after the first aggregation."""
    ev = t(spark, sf, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("view", "purchase")
    )
    f = ev.select(
        cents("value").alias("vc"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    dom = f.groupBy("vc").agg(
        F.sum("pos").cast("long").alias("t1"),
        (F.count("*") - F.sum("pos")).cast("long").alias("t2"),
    )
    wbelow = W.orderBy("vc").rowsBetween(W.unboundedPreceding, -1)
    gt = dom.select(
        "vc",
        "t1",
        "t2",
        F.coalesce(F.sum("t2").over(wbelow), F.lit(0))
        .cast("long")
        .alias("w2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cnt = gt.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum("t2").cast("long").alias("n2"),
        F.sum(dec(F.col("t1") * F.col("w2"))).alias("wins"),
        F.sum(dec(F.col("t1") * F.col("t2"))).alias("ties"),
        F.sum(F.col("t1") * F.col("vc")).cast("long").alias("s1"),
        F.sum(F.col("t2") * F.col("vc")).cast("long").alias("s2"),
        F.sum(F.col("t1") * F.col("vc") * F.col("vc"))
        .cast("long")
        .alias("q1"),
        F.sum(F.col("t2") * F.col("vc") * F.col("vc"))
        .cast("long")
        .alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    eff = cnt.select(
        "n1",
        "n2",
        "wins",
        "ties",
        (dec(n1) * dec(n2) - F.col("wins") - F.col("ties")).alias("losses"),
        "s1",
        "s2",
        "q1",
        "q2",
    )
    n1d, n2d = n1.cast("double"), n2.cast("double")
    ss1 = F.col("q1").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ).cast("double") / n1d
    ss2 = F.col("q2").cast("double") - F.col("s2").cast("double") * F.col(
        "s2"
    ).cast("double") / n2d
    mean_gap = F.col("s1").cast("double") / n1d - F.col("s2").cast("double") / n2d
    sp = F.sqrt((ss1 + ss2) / (n1 + n2 - 2).cast("double"))
    d_ok = (n1 > 1) & (n2 > 1) & (n1 + n2 > 2) & ((ss1 + ss2) > 0)
    d_expr = mean_gap / sp
    return eff.select(
        "n1",
        "n2",
        F.col("wins").cast("string").alias("wins_str"),
        F.col("losses").cast("string").alias("losses_str"),
        F.col("ties").cast("string").alias("ties_str"),
        F.when(
            (n1 > 0) & (n2 > 0),
            (F.col("wins").cast("double") - F.col("losses").cast("double"))
            / (n1d * n2d),
        ).alias("cliffs_delta"),
        F.when(d_ok, d_expr).alias("cohens_d"),
        F.when(
            d_ok,
            d_expr
            * (
                F.lit(1.0)
                - F.lit(3.0) / (F.lit(4.0) * (n1 + n2).cast("double") - F.lit(9.0))
            ),
        ).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
@register(
    "lineitem_ols_conformal_coverage",
    """
    WITH base AS (
      SELECT l_orderkey % 2 AS half,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS y
      FROM lineitem
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM base WHERE half = 1
    ), fit AS (
      SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
             (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS icept,
             CAST(n AS BIGINT) AS n_cal
      FROM s
    ), calres AS (
      SELECT ABS(CAST(b.y AS DOUBLE)
                 - (fit.slope * CAST(b.x AS DOUBLE) + fit.icept)) AS r
      FROM base b CROSS JOIN fit WHERE b.half = 1
    ), rdom AS (
      SELECT r, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(COUNT(*)) OVER (ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM calres GROUP BY r
    ), kq AS (
      SELECT fit.n_cal,
             CAST(CEIL(0.9 * (CAST(fit.n_cal AS DOUBLE) + 1.0)) AS BIGINT)
               AS k
      FROM fit
    ), qhat AS (
      SELECT kq.n_cal, kq.k, MIN(rdom.r) AS q_hat
      FROM rdom CROSS JOIN kq WHERE rdom.cum >= kq.k
      GROUP BY kq.n_cal, kq.k
    ), test AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(CAST(b.y AS DOUBLE)
                        - (fit.slope * CAST(b.x AS DOUBLE) + fit.icept))
                        <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM base b CROSS JOIN fit CROSS JOIN qhat q WHERE b.half = 0
    )
    SELECT qhat.n_cal, qhat.k, qhat.q_hat, test.n_test, test.covered,
           CASE WHEN test.n_test > 0 THEN
             CAST(test.covered AS DOUBLE) / CAST(test.n_test AS DOUBLE)
           END AS coverage
    FROM qhat CROSS JOIN test
    """,
)
def lineitem_ols_conformal_coverage(spark: SparkSession, sf: str):
    """SPLIT-CONFORMAL PREDICTION over the OLS family — the
    distribution-free uncertainty wrapper every deployed regressor now
    ships (Vovk et al.; the modern recipe of Lei et al. 2018): fit
    price-on-quantity OLS on the odd-orderkey half (exact integer
    moment sums, the lineitem_ols tree), take q̂ = the
    ⌈0.9·(n_cal+1)⌉-th smallest absolute calibration residual (an EXACT
    order statistic from the residual-domain cumulative — residuals are
    pinned per-row fixed trees, so both engines group and rank the
    identical doubles), and measure empirical coverage of ŷ ± q̂ on the
    even-orderkey half, which the conformal guarantee puts at ≥ 90%
    marginally.  Scale: two pruned scans + one residual-domain window;
    the quantile never sorts rows, only the distinct-residual domain.
    The orderkey-parity split is the engine's deterministic stand-in
    for the i.i.d. calibration split."""
    base = t(spark, sf, "lineitem").select(
        (F.col("l_orderkey") % 2).alias("half"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice"), 0).cast("long").alias("y"),
    )
    cal = base.filter(F.col("half") == 1)
    s = cal.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / den
    icept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / nd
    fit = s.select(
        slope.alias("slope"),
        icept.alias("icept"),
        F.col("n").cast("long").alias("n_cal"),
    )
    res = F.abs(
        F.col("y").cast("double")
        - (F.col("slope") * F.col("x").cast("double") + F.col("icept"))
    )
    calres = cal.crossJoin(F.broadcast(fit)).select(res.alias("r"))
    wcum = W.orderBy("r").rowsBetween(W.unboundedPreceding, 0)
    rdom = (
        calres.groupBy("r")
        .agg(F.count("*").cast("long").alias("t"))
        .select("r", F.sum("t").over(wcum).cast("long").alias("cum"))
    )
    kq = fit.select(
        "n_cal",
        F.ceil(F.lit(0.9) * (F.col("n_cal").cast("double") + F.lit(1.0)))
        .cast("long")
        .alias("k"),
    )
    qhat = (
        rdom.crossJoin(F.broadcast(kq))
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("n_cal", "k")
        .agg(F.min("r").alias("q_hat"))
    )
    test = (
        base.filter(F.col("half") == 0)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qhat.select("q_hat")))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.when(res <= F.col("q_hat"), 1).otherwise(0))
            .cast("long")
            .alias("covered"),
        )
    )
    return qhat.crossJoin(F.broadcast(test)).select(
        "n_cal",
        "k",
        "q_hat",
        "n_test",
        "covered",
        F.when(
            F.col("n_test") > 0,
            F.col("covered").cast("double") / F.col("n_test").cast("double"),
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# TextRank (Mihalcea & Tarau 2004) — keyword extraction as PageRank on
# the token co-occurrence graph: the name-brand graph-ranking member of
# the text family (PMI finds PHRASES — associated pairs; TextRank finds
# KEYWORDS — tokens central to the co-occurrence topology).

_TEXTRANK_GRAPH_SQL = """
    words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bg AS (
      SELECT w[i] AS a, w[i + 1] AS b
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - 1)) AS i
            FROM words)
    ), sym AS (
      SELECT a AS u, b AS v FROM bg WHERE a <> b AND a <> '' AND b <> ''
      UNION ALL
      SELECT b AS u, a AS v FROM bg WHERE a <> b AND a <> '' AND b <> ''
    ), e AS (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM sym GROUP BY u, v
    ), st AS (
      SELECT u, CAST(SUM(w) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS deg
      FROM e GROUP BY u
    )"""


def _textrank_round_sql(r: int, prev: str) -> str:
    return f"""t{r} AS (
      SELECT e.v AS u,
             0.15 + 0.85 * list_reduce(
               list((CAST(e.w AS DOUBLE) / CAST(st.s AS DOUBLE)) * {prev}.tr
                    ORDER BY e.u), (a, b) -> a + b) AS tr
      FROM e JOIN st ON st.u = e.u JOIN {prev} ON {prev}.u = e.u
      GROUP BY e.v
    )"""


@register(
    "corpus_textrank_keywords",
    f"""
    WITH {_TEXTRANK_GRAPH_SQL},
    t0 AS (SELECT u, 1.0 AS tr FROM st),
    {_textrank_round_sql(1, 't0')},
    {_textrank_round_sql(2, 't1')},
    {_textrank_round_sql(3, 't2')}
    SELECT st.u AS token, st.deg, st.s AS strength, t3.tr,
           CAST(ROW_NUMBER() OVER (ORDER BY t3.tr DESC, st.u) AS BIGINT)
             AS rnk
    FROM st JOIN t3 ON t3.u = st.u
    ORDER BY rnk LIMIT 15
    """,
)
def corpus_textrank_keywords(spark: SparkSession, sf: str):
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank on the undirected token co-occurrence graph (adjacent-pair
    window, both directions materialized so the edge table is
    symmetric), 3 FIXED unrolled rounds from TR⁰=1 with the literal
    d=0.85 — the pagerank/Bradley-Terry bounded-rounds discipline.
    Each round is one equi join of the strength-decorated edge table
    against the previous scores; the per-node neighbor sum is an
    ordered fold keyed by the contributing neighbor (degree-bounded —
    at most the token VOCABULARY, Heaps-sublinear in the corpus; the
    production form for web-scale hub degrees is the chunked
    bounded_ordered_agg, as in the HITS entry).  Top-15 by (TR desc,
    token).  Scale: the graph lives on the bigram vocabulary, never
    occurrences; rounds never touch raw text again."""
    from byte_convert_avro_spark.operators.graph import both_directions

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
        .filter((F.col("a") != F.col("b")) & (F.col("a") != "") & (F.col("b") != ""))
    )
    sym = both_directions(bg, "a", "b", names=("u", "v"))
    e = sym.groupBy("u", "v").agg(F.count("*").cast("long").alias("w"))
    st = e.groupBy("u").agg(
        F.sum("w").cast("long").alias("s"),
        F.count("*").cast("long").alias("deg"),
    )
    tr = st.select("u", F.lit(1.0).cast("double").alias("tr"))
    for _ in range(3):
        contrib = (
            e.join(st.select("u", "s"), "u")
            .join(tr, "u")
            .select(
                F.col("v"),
                F.col("u").alias("src"),
                (
                    (F.col("w").cast("double") / F.col("s").cast("double"))
                    * F.col("tr")
                ).alias("term"),
            )
        )
        tr = contrib.groupBy(F.col("v").alias("u")).agg(
            (F.lit(0.15) + F.lit(0.85) * ordered_fold("src", "term")).alias(
                "tr"
            )
        )
    wrnk = W.orderBy(F.col("tr").desc(), "u")
    return (
        st.join(tr, "u")
        .select(
            F.col("u").alias("token"),
            "deg",
            F.col("s").alias("strength"),
            "tr",
            F.row_number().over(wrnk).cast("long").alias("rnk"),
        )
        .orderBy("rnk")
        .limit(15)
    )
