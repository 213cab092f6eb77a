"""Round-14 additions.

**Capped prefix-filter Jaccard join** (r13 verdict #5): the EXACT
similarity join's PLAN is right (rare-token prefix equi-join, integer
threshold math, plan-pinned) but its uncapped OUTPUT is the scale
killer — on a replicated corpus qualifying pairs grow ~100x per 10x
data (7.1M pairs / 113 s at sf0.1).  The capped rung applies the LSH
ladder's ``max_pairs_per_doc`` discipline (``cap_pairs_per_doc``:
top-k by similarity on BOTH endpoints) to the exact join's output, so
every doc's degree — and therefore total output — is hard-bounded at
k x |docs| / 2 regardless of corpus duplication.  Both the kept-pair
set AND the cap's effect (pair counts, degree bound) are oracle-gated.

Reference parity note: the reference (AvroTransform.java, 337 LoC SMT)
has no similarity operators — this belongs to the analytics/LLM-
pipeline addendum SURVEY.md §2 requires on top.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import md5_long
from byte_convert_avro_spark.operators.dedup import (
    cap_pairs_per_doc,
    overlap_join,
    prefix_filter_jaccard,
)
from byte_convert_avro_spark.operators.sampling import (
    weighted_bottom_k,
    weighted_bottom_k_sql,
)
from byte_convert_avro_spark.operators.strsim import edit1_pairs
from byte_convert_avro_spark.queries.base import cents, register, t

# Shared oracle CTE chain: brute-force all-pairs Jaccard >= 3/5, then
# the SAME both-endpoints top-k cap spelled as SQL windows.  The
# brute-force side makes the gate a zero-false-negative proof for the
# prefix filter AND a semantics pin for the cap; it is quadratic BY
# DESIGN (the disclosed-cap treatment at sf >= 1, like its uncapped
# sibling).
_CAP_K = 5
_CAPPED_CTES = f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk,
             LEN(list_distinct(string_split(text, ' '))) AS s
      FROM documents
    ), rawpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             LEN(list_intersect(a.tk, b.tk)) AS inter_sz,
             a.s + b.s - LEN(list_intersect(a.tk, b.tk)) AS union_sz
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id_a, id_b,
             CAST(inter_sz AS BIGINT) AS inter_sz,
             CAST(union_sz AS BIGINT) AS union_sz,
             CAST(inter_sz AS DOUBLE) / union_sz AS jacc
      FROM rawpairs
      WHERE inter_sz * 5 >= union_sz * 3
    ), directed AS (
      SELECT id_a AS doc, id_b AS partner, inter_sz, union_sz, jacc
      FROM pairs
      UNION ALL
      SELECT id_b AS doc, id_a AS partner, inter_sz, union_sz, jacc
      FROM pairs
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc ORDER BY jacc DESC, partner
             ) AS rk
      FROM directed
    ), kept AS (
      SELECT LEAST(doc, partner) AS id_a, GREATEST(doc, partner) AS id_b,
             inter_sz, union_sz, jacc
      FROM ranked WHERE rk <= {_CAP_K}
    ), surv AS (
      SELECT id_a, id_b, inter_sz, union_sz, jacc
      FROM kept GROUP BY ALL HAVING COUNT(*) = 2
    )
"""


def _capped_pairs(spark: SparkSession, sf: str):
    toks = (
        t(spark, sf, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    pairs = prefix_filter_jaccard(toks, "doc_id", "token", t_num=3, t_den=5)
    return pairs, cap_pairs_per_doc(pairs, _CAP_K)


# The sub-quadratic DuckDB twin of the whole ladder (vocab-rank ->
# prefix -> candidates -> verify -> cap), used by large-SF audits where
# the brute-force base cannot run; equivalence to the primary is pinned
# by tests/test_queries_oracle.py::test_scale_oracles_agree_with_primary.
# Integer threshold math: ceil(3s/5) = (3s+4)//5, alpha = ceil(3(sa+sb)/8).
_CAPPED_SCALE_CTES = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), vocab AS (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY COUNT(*), token) AS trank
      FROM toks GROUP BY token
    ), tk AS (
      SELECT doc_id, token,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY trank) AS pos,
             COUNT(*) OVER (PARTITION BY doc_id) AS s
      FROM toks JOIN vocab USING (token)
    ), pre AS (
      SELECT * FROM tk WHERE pos <= s - (3 * s + 4) // 5 + 1
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.s AS sa, b.s AS sb
      FROM pre a JOIN pre b USING (token)
      WHERE a.doc_id < b.doc_id
        AND a.s * 5 >= b.s * 3 AND b.s * 5 >= a.s * 3
        AND 1 + LEAST(a.s - a.pos, b.s - b.pos)
              >= (3 * (a.s + b.s) + 7) // 8
    ), inter AS (
      SELECT c.id_a, c.id_b, c.sa, c.sb, COUNT(*) AS i_sz
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.id_a
      JOIN toks tb ON tb.doc_id = c.id_b AND tb.token = ta.token
      GROUP BY c.id_a, c.id_b, c.sa, c.sb
    ), pairs AS (
      SELECT id_a, id_b,
             CAST(i_sz AS BIGINT) AS inter_sz,
             CAST(sa + sb - i_sz AS BIGINT) AS union_sz,
             CAST(i_sz AS DOUBLE) / (sa + sb - i_sz) AS jacc
      FROM inter WHERE i_sz * 5 >= (sa + sb - i_sz) * 3
    ), directed AS (
      SELECT id_a AS doc, id_b AS partner, inter_sz, union_sz, jacc
      FROM pairs
      UNION ALL
      SELECT id_b AS doc, id_a AS partner, inter_sz, union_sz, jacc
      FROM pairs
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc ORDER BY jacc DESC, partner
             ) AS rk
      FROM directed
    ), kept AS (
      SELECT LEAST(doc, partner) AS id_a, GREATEST(doc, partner) AS id_b,
             inter_sz, union_sz, jacc
      FROM ranked WHERE rk <= {_CAP_K}
    ), surv AS (
      SELECT id_a, id_b, inter_sz, union_sz, jacc
      FROM kept GROUP BY ALL HAVING COUNT(*) = 2
    )
"""


# ---------------------------------------------------------------------------
@register(
    "docs_jaccard_prefix_filter_capped",
    _CAPPED_CTES
    + """
    SELECT id_a, id_b, inter_sz, union_sz, jacc
    FROM surv
    ORDER BY id_a, id_b
    """,
    scale_oracle=_CAPPED_SCALE_CTES
    + """
    SELECT id_a, id_b, inter_sz, union_sz, jacc
    FROM surv
    ORDER BY id_a, id_b
    """,
)
def docs_jaccard_prefix_filter_capped(spark: SparkSession, sf: str):
    """The CAPPED rung of the exact Jaccard join: every pair with
    J >= 0.6 that ranks within each endpoint's top-5 most-similar
    partners (``cap_pairs_per_doc`` — similarity DESC, partner-id
    tie-break, both-endpoints rule).  The gate proves the Spark window
    cap and the SQL window cap keep the IDENTICAL pair set on top of a
    zero-false-negative brute-force base.

    Scale: this is the 100 TB operating point for the exact rung —
    output <= k x |docs| / 2 rows BY CONSTRUCTION (vs ~quadratic in
    corpus duplication uncapped; measured at sf0.01: 70,998 -> 127).
    The disclosed trade (same as the LSH ladder's cap): a clique
    larger than ~k collapses to its top-k-by-id band and far members
    drop out — mega-duplicate clusters are the job of the CHEAPER
    exact-hash rung run first, after which surviving near-dup degrees
    are small and the cap is inert.  Cost on top of the uncapped join:
    one window shuffle over the pair stream."""
    _, capped = _capped_pairs(spark, sf)
    return capped.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
_EFFECT_TAIL = f"""
    , deg AS (
      SELECT doc, COUNT(*) AS d FROM (
        SELECT id_a AS doc FROM surv
        UNION ALL SELECT id_b AS doc FROM surv
      ) GROUP BY doc
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS uncapped_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM surv) AS capped_pairs,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree_capped,
           CAST({_CAP_K} AS BIGINT) AS cap_k
    """


@register(
    "docs_jaccard_capped_effect",
    _CAPPED_CTES + _EFFECT_TAIL,
    scale_oracle=_CAPPED_SCALE_CTES + _EFFECT_TAIL,
)
def docs_jaccard_capped_effect(spark: SparkSession, sf: str):
    """The cap's EFFECT, oracle-gated (r13 verdict #5 asked for both
    the kept pairs and the effect under a gate): uncapped vs capped
    pair counts and the capped maximum degree, which the both-endpoints
    rule bounds at ``cap_k`` BY CONSTRUCTION — a green gate plus
    max_degree_capped <= cap_k is the output-boundedness certificate
    for the 100 TB story."""
    pairs, capped = _capped_pairs(spark, sf)
    un = pairs.agg(F.count("*").cast("long").alias("uncapped_pairs"))
    cp = capped.agg(F.count("*").cast("long").alias("capped_pairs"))
    deg = (
        capped.select(F.col("id_a").alias("doc"))
        .unionByName(capped.select(F.col("id_b").alias("doc")))
        .groupBy("doc")
        .agg(F.count("*").alias("d"))
        .agg(F.max("d").cast("long").alias("max_degree_capped"))
    )
    return (
        un.crossJoin(cp)
        .crossJoin(deg)
        .withColumn("cap_k", F.lit(_CAP_K).cast("long"))
    )


# ---------------------------------------------------------------------------
@register(
    "customer_name_edit1_fastss",
    """
    WITH c AS (SELECT c_custkey, c_name FROM customer)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
    scale_oracle="""
    WITH c AS (SELECT c_custkey, c_name FROM customer),
    vars AS (
      SELECT c_custkey, c_name AS variant FROM c
      UNION
      SELECT c_custkey,
             substr(c_name, 1, i - 1) || substr(c_name, i + 1) AS variant
      FROM (
        SELECT c_custkey, c_name,
               unnest(generate_series(1, length(c_name))) AS i
        FROM c
      )
    ), cand AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM vars a JOIN vars b USING (variant)
      WHERE a.c_custkey < b.c_custkey
    )
    SELECT id_a, id_b, a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM cand JOIN c a ON a.c_custkey = id_a JOIN c b ON b.c_custkey = id_b
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
)
def customer_name_edit1_fastss(spark: SparkSession, sf: str):
    """TYPO-TOLERANT exact join, UNBLOCKED: every customer-name pair
    within edit distance 1 over the WHOLE table, via FastSS
    deletion-neighborhood blocking (``operators/strsim.edit1_pairs``) —
    the scale upgrade of ``customer_fuzzy_match_pairs``, whose
    nation-blocking runs |block|² comparisons inside each block and
    misses cross-block matches by construction.  Candidates here are an
    EQUI-JOIN on 1-deletion variants (the FastSS theorem: ed<=1 ⟹ a
    shared variant), verified by the built-in ``levenshtein``; the
    brute-force all-pairs oracle makes a green gate a
    zero-false-negative proof.

    Scale: the variant table is O(total chars) (len+1 variants per
    string); candidate fan-out is bounded per variant key (the hub cap
    ``max_strings_per_variant`` exists for adversarial corpora, unused
    here); verification touches candidates only — no |block|² anywhere.
    The ORACLE is the quadratic side (disclosed-skip treatment at
    sf >= 1, like the other brute-force referees)."""
    return edit1_pairs(
        t(spark, sf, "customer"), "c_custkey", "c_name"
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
_OVERLAP_C = 28


@register(
    "docs_overlap_containment_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk,
             LEN(list_distinct(string_split(text, ' '))) AS s
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(LEN(list_intersect(a.tk, b.tk)) AS BIGINT) AS inter_sz,
           CAST(LEN(list_intersect(a.tk, b.tk)) AS DOUBLE) / a.s AS cont_a,
           CAST(LEN(list_intersect(a.tk, b.tk)) AS DOUBLE) / b.s AS cont_b
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE LEN(list_intersect(a.tk, b.tk)) >= {_OVERLAP_C}
    ORDER BY id_a, id_b
    """,
    scale_oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), vocab AS (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY COUNT(*), token) AS trank
      FROM toks GROUP BY token
    ), tk AS (
      SELECT doc_id, token,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY trank) AS pos,
             COUNT(*) OVER (PARTITION BY doc_id) AS s
      FROM toks JOIN vocab USING (token)
    ), pre AS (
      SELECT * FROM tk WHERE pos <= s - {_OVERLAP_C} + 1
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.s AS sa, b.s AS sb
      FROM pre a JOIN pre b USING (token)
      WHERE a.doc_id < b.doc_id
        AND a.s >= {_OVERLAP_C} AND b.s >= {_OVERLAP_C}
        AND 1 + LEAST(a.s - a.pos, b.s - b.pos) >= {_OVERLAP_C}
    ), inter AS (
      SELECT c.id_a, c.id_b, c.sa, c.sb, COUNT(*) AS i_sz
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.id_a
      JOIN toks tb ON tb.doc_id = c.id_b AND tb.token = ta.token
      GROUP BY c.id_a, c.id_b, c.sa, c.sb
    )
    SELECT id_a, id_b,
           CAST(i_sz AS BIGINT) AS inter_sz,
           CAST(i_sz AS DOUBLE) / sa AS cont_a,
           CAST(i_sz AS DOUBLE) / sb AS cont_b
    FROM inter WHERE i_sz >= {_OVERLAP_C}
    ORDER BY id_a, id_b
    """,
)
def docs_overlap_containment_pairs(spark: SparkSession, sf: str):
    """ABSOLUTE-OVERLAP set join (``operators/dedup.overlap_join``,
    SSJoin prefix theorem): every doc pair sharing >= 28 distinct
    tokens, with both directed containments — the t-overlap sibling of
    the Jaccard rung, and the right metric for SHORT-DOC-INSIDE-LONG-DOC
    dedup where Jaccard's union denominator hides the containment.
    Candidates come from an equi-join on each doc's (s - c + 1)
    rarest-token prefix (the minimal common token is always a shared
    prefix witness), witness-locally filtered by the positional bound,
    verified pair-keyed — zero false negatives vs the brute-force
    all-pairs oracle.

    Scale: same shape as the Jaccard rung — the prefix for a
    high-threshold overlap is TINY (s - c + 1 tokens per doc), so
    candidate volume collapses as c grows; the quadratic side is the
    ORACLE only (disclosed-skip treatment at sf >= 1)."""
    toks = (
        t(spark, sf, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    return overlap_join(
        toks, "doc_id", "token", min_overlap=_OVERLAP_C
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
@register(
    "lineitem_weighted_sample_by_flag",
    weighted_bottom_k_sql(
        "(SELECT l_returnflag, "
        " CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
        "   AS li_id, "
        " CAST(l_quantity AS BIGINT) AS qty FROM lineitem)",
        "l_returnflag",
        "li_id",
        "qty",
        5,
    )
    + " ORDER BY l_returnflag, rank",
)
def lineitem_weighted_sample_by_flag(spark: SparkSession, sf: str):
    """WEIGHTED SAMPLING without replacement, engine-exact: per return
    flag, 5 line items drawn with probability proportional to quantity
    (``operators/sampling.weighted_bottom_k`` — integer-weight
    Efraimidis–Spirakis bottom-k with the float key u^(1/w) replaced
    by an exact min of w md5 draws, so the whole sample is int64
    arithmetic and the gate is bit-exact; the float form's JVM-vs-libm
    ``pow`` ulp hazard is the documented reason).

    Scale: expansion is Σ quantity <= 50x rows, collapsed by map-side
    MIN before the one per-stratum window; state per item is one int64
    key.  The sample is REPRODUCIBLE and mergeable (min-of-hash keys
    compose across shards exactly like KMV), which is what makes it a
    training-mix primitive: re-running on a grown corpus preserves
    every previous draw decision."""
    li = t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("li_id"),
        F.col("l_quantity").cast("int").alias("qty"),
    )
    return weighted_bottom_k(
        li, ["l_returnflag"], "li_id", "qty", k=5
    ).orderBy("l_returnflag", "rank")


# ---------------------------------------------------------------------------
EVENTS_WEIGHTED_SAMPLE_SQL = """
    SELECT event_type, user_id, weight, sample_key, rank FROM (
      SELECT event_type, user_id, weight, sample_key,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY sample_key, user_id) AS BIGINT) AS rank
      FROM (
        SELECT event_type, CAST(user_id AS BIGINT) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS weight,
               MIN(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT)
                 AS sample_key
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type, user_id
      )
    ) WHERE rank <= 5
    ORDER BY event_type, rank
    """


def _weighted_user_sample(ev):
    """Occurrence-weighted user sample: each event is one draw (its
    OWN unique id is the hash input), a user's key = min over their
    events — min of w iid uniforms, the same distribution as the
    explicit min-of-w-draws spelling but maintainable as an idempotent
    MIN aggregate (the streaming-twin property)."""
    from pyspark.sql import Window as W

    h = md5_long("event_id")
    keyed = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(
            F.count("*").cast("long").alias("weight"),
            F.min(h).alias("sample_key"),
        )
    )
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
US_PER_WEEK = 7 * 86_400 * 1_000_000


@register(
    "events_pattern_bounded_views_within_7d",
    f"""
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
           CAST(run_start_us AS BIGINT) AS run_start_us,
           CAST(rn - run_start_rn + 1 AS BIGINT) AS run_len,
           CAST(LEAST(rn - run_start_rn + 1, 4) AS BIGINT) AS n_views_matched,
           CAST(p_ts_us AS BIGINT) AS purchase_ts_us,
           p_val_c AS purchase_value_c
    FROM runs
    WHERE event_type = 'view' AND n1 = 'click' AND n2 = 'purchase'
      AND rn - run_start_rn + 1 >= 2
      AND p_ts_us - run_start_us <= {US_PER_WEEK}
    """,
)
def events_pattern_bounded_views_within_7d(spark: SparkSession, sf: str):
    """ROW-PATTERN with a BOUNDED quantifier and a WITHIN clause:
    ``VIEW{2,4} CLICK PURCHASE WITHIN 7 days`` — the third member of
    the pattern family (base ``VIEW+``, alternation, now {m,n} +
    temporal constraint).  On a maximal view run of length L (the
    island), anchored matching with skip-past-last-row admits a match
    iff L >= 2, consuming the LAST min(4, L) views (starts before that
    fail on the quantifier's upper bound and slide right) — so the
    bounded quantifier is a FILTER + LEAST on the same island chain,
    and WITHIN is one integer-µs predicate on the purchase lead vs the
    run start (7 days — sized to the corpus inter-event cadence, whose
    median view->purchase span is ~17 h).  Same one-shuffle contract as the base pattern
    (everything rides one user_id window sort; plan-pinned with the
    family)."""
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
    from pyspark.sql import Window as W

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
        F.max(F.when(F.col("mstart"), F.col("rn"))).over(wr).alias("run_start_rn"),
        F.max(F.when(F.col("mstart"), F.col("ts_us"))).over(wr).alias("run_start_us"),
    )
    run_len = F.col("rn") - F.col("run_start_rn") + 1
    return runs.filter(
        (F.col("event_type") == "view")
        & (F.col("n1") == "click")
        & (F.col("n2") == "purchase")
        & (run_len >= 2)
        & (F.col("p_ts_us") - F.col("run_start_us") <= US_PER_WEEK)
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("run_start_us").cast("long").alias("run_start_us"),
        run_len.cast("long").alias("run_len"),
        F.least(run_len, F.lit(4)).cast("long").alias("n_views_matched"),
        F.col("p_ts_us").cast("long").alias("purchase_ts_us"),
        F.col("p_val_c").alias("purchase_value_c"),
    )


@register("events_weighted_user_sample", EVENTS_WEIGHTED_SAMPLE_SQL)
def events_weighted_user_sample(spark: SparkSession, sf: str):
    """ACTIVITY-WEIGHTED user sampling: per event type, 5 users drawn
    with probability proportional to their event count — the
    occurrence-keyed form of ``weighted_bottom_k`` (each event's own
    unique id is the uniform draw; a user's key = MIN over their
    events, which is min of w iid uniforms — the identical
    distribution — with NO weight expansion and NO bound on w).

    Scale: one groupBy with map-side MIN/COUNT combine (state: one
    int64 + one count per (type, user)), one per-type rank window.
    Because the key is an idempotent MIN over per-event draws, the
    sample is replay-safe and has an exact streaming twin
    (``streaming_weighted_user_sample``) whose state never grows past
    |type x user| — the panel-selection primitive for live A/B
    cohorts."""
    return _weighted_user_sample(t(spark, sf, "events"))


# ---------------------------------------------------------------------------
# Product quantization (the vector-compression ANN rung). The oracle is
# one CTE chain with the SUBSPACE as a column: per-round dist/assign/
# chunk-fold/centroid CTEs keyed on (sub, ...) — the _kmeans_sql_cte
# discipline generalized, same seeds (k smallest vec_ids), same
# fixed-order folds, same lowest-cell tie-break.
_PQ_M, _PQ_K, _PQ_ITER, _PQ_SUBD, _PQ_CHUNK = 4, 4, 2, 16, 128


def _pq_sql_cte() -> str:
    m, k, n_iter, sub_d, chunk = _PQ_M, _PQ_K, _PQ_ITER, _PQ_SUBD, _PQ_CHUNK
    parts = [
        f"""vsub AS (
      SELECT vec_id, sub,
             list_transform(generate_series(1, {sub_d}),
                            i -> e[sub * {sub_d} + i]) AS e
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS sub))""",
        f"""cent0 AS (
      SELECT sub, vec_id AS cell, e AS ce FROM vsub
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}))""",
    ]
    for r in range(n_iter):
        parts.append(
            f"""dist{r} AS (
      SELECT v.sub, v.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, {sub_d}),
                         i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS d2
      FROM vsub v JOIN cent{r} c ON c.sub = v.sub)"""
        )
        parts.append(
            f"""assign{r} AS (
      SELECT sub, vec_id, cell FROM (
        SELECT sub, vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY sub, vec_id
                                  ORDER BY d2, cell) AS rn
        FROM dist{r})
      WHERE rn = 1)"""
        )
        parts.append(
            f"""cch{r} AS (
      SELECT a.sub, a.cell, dd.dim, v.vec_id // {chunk} AS chk,
             list_reduce(list(v.e[dd.dim] ORDER BY v.vec_id),
                         (a2, b2) -> a2 + b2) AS csum,
             COUNT(*) AS cnt
      FROM assign{r} a
      JOIN vsub v ON v.vec_id = a.vec_id AND v.sub = a.sub
      CROSS JOIN (SELECT unnest(generate_series(1, {sub_d})) AS dim) dd
      GROUP BY a.sub, a.cell, dd.dim, chk)"""
        )
        parts.append(
            f"""cdim{r} AS (
      SELECT sub, cell, dim,
             list_reduce(list(csum ORDER BY chk), (x, y) -> x + y) / SUM(cnt) AS c
      FROM cch{r} GROUP BY sub, cell, dim)"""
        )
        parts.append(
            f"cent{r + 1} AS (SELECT sub, cell, list(c ORDER BY dim) AS ce "
            f"FROM cdim{r} GROUP BY sub, cell)"
        )
    return ",\n    ".join(parts)


_PQ_FINAL = f"cent{_PQ_ITER}"
_PQ_ENCODE_CTES = f"""
    , diste AS (
      SELECT v.sub, v.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, {_PQ_SUBD}),
                         i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS d2
      FROM vsub v JOIN {_PQ_FINAL} c ON c.sub = v.sub
    ), assigne AS (
      SELECT sub, vec_id, cell FROM (
        SELECT sub, vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY sub, vec_id
                                  ORDER BY d2, cell) AS rn
        FROM diste)
      WHERE rn = 1
    )
"""


@register(
    "pq_codebooks_m4k4",
    f"""
    WITH {_pq_sql_cte()}
    SELECT sub, cell, CAST(dd.dim AS INT) AS dim, ce[dd.dim] AS c
    FROM {_PQ_FINAL}
    CROSS JOIN (SELECT unnest(generate_series(1, {_PQ_SUBD})) AS dim) dd
    ORDER BY sub, cell, dim
    """,
)
def pq_codebooks_m4k4(spark: SparkSession, sf: str):
    """PRODUCT QUANTIZATION codebooks (m=4 subspaces x k=4 codewords
    over the 64-dim embeddings, 2 Lloyd rounds per subspace) —
    ``operators/similarity.pq_train``, the vector-COMPRESSION rung of
    the ANN family next to IVF: a vector becomes m 2-bit codes, so a
    billion-vector corpus fits in RAM and search reads codes + a
    broadcast lookup table, never raw vectors.  Training reuses the
    gated ``kmeans_lloyd`` per subspace (same seeds-by-smallest-id,
    fixed-order IEEE folds, lowest-cell ties), so the full codebook —
    every float — gates bit-exactly against the one-chain DuckDB unroll
    with the subspace as a column.

    Scale: per round, assignment is a narrow row-local argmin over
    literal centroids; the only shuffle is the (sub, cell, dim)-keyed
    bounded chunk fold; driver state is the m*k*(D/m)-float codebook."""
    from byte_convert_avro_spark.operators import similarity as S
    from byte_convert_avro_spark.queries.base import spread

    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    cb = S.pq_train(emb, "embedding", "vec_id", m=_PQ_M, k=_PQ_K,
                    n_iter=_PQ_ITER, fold_chunk=_PQ_CHUNK)
    return (
        cb.select("sub", "cell", F.posexplode("ce").alias("dim0", "c"))
        .select("sub", "cell", (F.col("dim0") + 1).cast("int").alias("dim"), "c")
        .orderBy("sub", "cell", "dim")
    )


@register(
    "pq_codes_m4k4",
    f"""
    WITH {_pq_sql_cte()}{_PQ_ENCODE_CTES}
    SELECT vec_id,
           MAX(CASE WHEN sub = 0 THEN cell END) AS code_0,
           MAX(CASE WHEN sub = 1 THEN cell END) AS code_1,
           MAX(CASE WHEN sub = 2 THEN cell END) AS code_2,
           MAX(CASE WHEN sub = 3 THEN cell END) AS code_3
    FROM assigne GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def pq_codes_m4k4(spark: SparkSession, sf: str):
    """Every vector's PQ CODES under the m4k4 codebooks
    (``operators/similarity.pq_encode``): the compressed corpus itself,
    gated row-for-row — the strongest possible pin that Spark's
    literal-argmin encoder and the SQL unroll quantize identically.
    Encoding is row-local (no join, no shuffle): m*k literal distance
    expressions per row, ties to the lowest cell."""
    from byte_convert_avro_spark.operators import similarity as S
    from byte_convert_avro_spark.queries.base import spread

    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    cb_rows = S.pq_train(emb, "embedding", "vec_id", m=_PQ_M, k=_PQ_K,
                         n_iter=_PQ_ITER, fold_chunk=_PQ_CHUNK).collect()
    cb = [(r.sub, r.cell, list(r.ce)) for r in cb_rows]
    return (
        S.pq_encode(emb, cb, "embedding", "vec_id")
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


@register(
    "pq_adc_top5_vs_exact",
    f"""
    WITH {_pq_sql_cte()}{_PQ_ENCODE_CTES}
    , q AS (
      SELECT sub, e FROM vsub
      WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
    ), qfull AS (
      SELECT embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
    ), pd AS (
      SELECT c.sub, c.cell,
             list_reduce(list_transform(generate_series(1, {_PQ_SUBD}),
                         i -> (q.e[i] - c.ce[i]) * (q.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS pd2
      FROM {_PQ_FINAL} c JOIN q ON q.sub = c.sub
    ), est AS (
      SELECT k.vec_id,
             list_reduce(list(pd.pd2 ORDER BY pd.sub), (x, y) -> x + y)
               AS est_d2
      FROM assigne k JOIN pd ON pd.sub = k.sub AND pd.cell = k.cell
      GROUP BY k.vec_id
    ), exacts AS (
      SELECT v.vec_id,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - qfull.e[i]) * (v.e[i] - qfull.e[i])),
                         (a, b) -> a + b) AS d2
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) v, qfull
    ), extop AS (
      SELECT vec_id FROM exacts ORDER BY d2, vec_id LIMIT 5
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY est_d2, vec_id) AS BIGINT) AS rank,
           vec_id, est_d2,
           CAST(vec_id IN (SELECT vec_id FROM extop) AS INT) AS in_exact_top5
    FROM est ORDER BY est_d2, vec_id LIMIT 5
    """,
)
def pq_adc_top5_vs_exact(spark: SparkSession, sf: str):
    """ADC SEARCH under the gate: asymmetric-distance top-5 for the
    min-id query vector — est_d2 = the m partial query->codeword
    distances summed in subspace order (every float a fixed-order fold,
    so the ESTIMATES themselves hash-match) — plus the exact-top-5
    membership flag as the recall readout.  Search cost shape: m map
    lookups + m-1 adds per vector over the CODES (no raw vectors
    touched), the property that makes PQ the RAM-resident rung at
    100 TB."""
    from byte_convert_avro_spark.operators import similarity as S
    from byte_convert_avro_spark.queries.base import spread

    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    cb_rows = S.pq_train(emb, "embedding", "vec_id", m=_PQ_M, k=_PQ_K,
                         n_iter=_PQ_ITER, fold_chunk=_PQ_CHUNK).collect()
    cb = [(r.sub, r.cell, list(r.ce)) for r in cb_rows]
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    query = [float(x) for x in qrow.embedding]
    codes = S.pq_encode(emb, cb, "embedding", "vec_id")
    est = S.pq_adc_estimates(codes, cb, query)
    full = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_e")
    )
    from byte_convert_avro_spark.operators.similarity import _sub_d2

    exact_ids = [
        r.vec_id
        for r in full.withColumn("_d2", _sub_d2(F.col("_e"), query))
        .orderBy("_d2", "vec_id")
        .limit(5)
        .collect()
    ]
    from pyspark.sql import Window as W

    top5 = est.orderBy("est_d2", "id").limit(5)
    rk = F.row_number().over(W.orderBy("est_d2", "id"))
    return top5.select(
        rk.cast("long").alias("rank"),
        F.col("id").alias("vec_id"),
        "est_d2",
        F.col("id").isin(exact_ids).cast("int").alias("in_exact_top5"),
    )


# ---------------------------------------------------------------------------
_E1_CAP = 3
# Both-endpoint top-k cap over edit-1 pairs, shared between the
# brute-force primary and the variant-join scale twin: rank partners by
# (dist ASC, partner ASC) — exact duplicates outrank 1-typo matches.
_E1_CAP_TAIL = f"""
    , directed AS (
      SELECT id_a AS doc, id_b AS partner, name_a, name_b, dist FROM pairs
      UNION ALL
      SELECT id_b AS doc, id_a AS partner, name_a, name_b, dist FROM pairs
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc ORDER BY dist, partner
             ) AS rk
      FROM directed
    ), kept AS (
      SELECT LEAST(doc, partner) AS id_a, GREATEST(doc, partner) AS id_b,
             name_a, name_b, dist
      FROM ranked WHERE rk <= {_E1_CAP}
    ), surv AS (
      SELECT id_a, id_b, name_a, name_b, dist
      FROM kept GROUP BY ALL HAVING COUNT(*) = 2
    )
    SELECT id_a, id_b, name_a, name_b, dist FROM surv
    ORDER BY id_a, id_b
"""


@register(
    "customer_name_edit1_capped",
    """
    WITH c AS (SELECT c_custkey, c_name FROM customer),
    pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             a.c_name AS name_a, b.c_name AS name_b,
             CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    )"""
    + _E1_CAP_TAIL,
    scale_oracle="""
    WITH c AS (SELECT c_custkey, c_name FROM customer),
    vars AS (
      SELECT c_custkey, c_name AS variant FROM c
      UNION
      SELECT c_custkey,
             substr(c_name, 1, i - 1) || substr(c_name, i + 1) AS variant
      FROM (
        SELECT c_custkey, c_name,
               unnest(generate_series(1, length(c_name))) AS i
        FROM c
      )
    ), cand AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM vars a JOIN vars b USING (variant)
      WHERE a.c_custkey < b.c_custkey
    ), pairs AS (
      SELECT id_a, id_b, a.c_name AS name_a, b.c_name AS name_b,
             CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      FROM cand JOIN c a ON a.c_custkey = id_a JOIN c b ON b.c_custkey = id_b
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    )"""
    + _E1_CAP_TAIL,
)
def customer_name_edit1_capped(spark: SparkSession, sf: str):
    """The CAPPED rung of the edit-distance family: every customer's
    top-3 nearest names (exact duplicates first, then 1-typo matches,
    partner-id tie-break), a pair surviving only in BOTH endpoints'
    top-3 — ``cap_pairs_per_doc`` applied to the FastSS join's output
    with similarity = -dist.  On the replicated large-SF corpus the
    UNCAPPED true pair set is output-bound (every replica pair matches
    at distance 0, ~100x per 10x data); the cap bounds every name's
    degree at 3, making this the sf >= 1 operating point — and because
    the capped OUTPUT is small, the variant-join scale twin gates it at
    sf10 where the uncapped form cannot run."""
    from byte_convert_avro_spark.operators.dedup import cap_pairs_per_doc

    pairs = edit1_pairs(t(spark, sf, "customer"), "c_custkey", "c_name")
    capped = cap_pairs_per_doc(
        pairs.withColumn("_sim", -F.col("dist")), _E1_CAP, score_col="_sim"
    )
    return capped.drop("_sim").orderBy("id_a", "id_b")
