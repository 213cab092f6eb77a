"""Round-14 session-2 additions: ANN-graph clustering, two-stage
retrieval, KMV set-difference, offline changepoint localization, and a
smoothed bigram-LM quality score.

Families and why they are NEW surface, not respellings:

- **Mutual-kNN / SNN graph (Jarvis-Patrick)**: the dedup ladder ends at
  *pairs* (near-dup candidates) and the vector family at *lists*
  (top-k per query); entity-aware corpus curation needs the GRAPH step
  between them — reciprocal-neighbor edges, shared-neighbor strength,
  density clusters — which is how production pipelines cluster
  embeddings without a parametric k (Jarvis & Patrick 1973, the SNN
  family DBSCAN descends from).
- **Two-stage retrieval (PQ coarse -> exact rerank)**: the serving
  pattern every vector store runs — scan cheap compressed codes for a
  shortlist, re-score only the shortlist with exact distances.  The
  existing ``pq_adc_top5_vs_exact`` gates the ESTIMATES; this entry
  gates the composed retrieval END TO END including the recall repair
  the rerank performs.
- **KMV difference**: completes the sketch set algebra (cardinality /
  union-merge / intersection+Jaccard already gated) with A\\B, B\\A and
  the symmetric difference — audience "reach-only" readouts from the
  same three 32-row sketches, no exact sets materialized.
- **Offline changepoint localization**: ``events_cusum_value_drift``
  is the ONLINE alarm (how often did the drift statistic cross h);
  this is the OFFLINE estimator — argmax_t |S_t*n - t*S_n|, the
  max-CUSUM location statistic at the heart of binary segmentation —
  in exact integer cents so the argmax is bit-deterministic.
- **Smoothed bigram LM bit-score**: ``doc_bigram_familiarity`` scores
  raw corpus frequency; a real CCNet-style quality filter scores the
  add-1-smoothed CONDITIONAL model p(b|a) = (c(a,b)+1)/(c(a)+V) in the
  log domain.  libm log is not bit-portable (the familiarity lesson),
  so the per-occurrence cost uses the exact integer proxy
  floor(log2(x)) = length(bin(x)) - 1 — a -log2 p estimate within 2
  bits, bit-identical on both engines.

Reference parity note: the reference (AvroTransform.java, 337-LoC SMT)
has none of these operators — all belong to the analytics/LLM-pipeline
addendum SURVEY.md §2 mandates on top of the decode pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import md5_long
from byte_convert_avro_spark.queries.base import (
    cents,
    hash_bucket,
    register,
    spread,
    t,
)
from byte_convert_avro_spark.queries.vectors import _DOT, _DOT_SQL, DIM, _emb

# ---------------------------------------------------------------------------
# Mutual-kNN / SNN family.  All three entries share one deterministic
# 5% md5 sample of the embeddings (the hash_bucket discipline) — the
# audit rung of a graph whose 100 TB form is IVF-blocked: route vectors
# to coarse cells (ivf_build, a broadcast join), run the quadratic
# neighbor scan WITHIN cells, and union boundary cells — same
# composition, same operators, cell-bounded cost.  The sample keeps the
# small-SF gate exact end to end (a brute-force kNN base has no
# sub-quadratic exact twin), the disclosed-quadratic treatment of
# ``embedding_near_dup_pairs``.
_SNN_SAMPLE_PCT = 5
_MKNN_K = 3  # mutual-kNN rung: reciprocal top-3
_SNN_K = 5  # SNN rung: shared-neighbor counting over top-5 lists
_SNN_MIN_SHARED = 2

_KNN_BASE_SQL = f"""
    s AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
              % 100 < {_SNN_SAMPLE_PCT}
    ), nrm AS (
      SELECT vec_id, e,
             sqrt({_DOT_SQL.format(n=DIM, a='e', b='e')}) AS nn
      FROM s
    ), sims AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             {_DOT_SQL.format(n=DIM, a='a.e', b='b.e')} / (a.nn * b.nn) AS sim
      FROM nrm a JOIN nrm b ON b.vec_id <> a.vec_id
    ), ranked AS (
      SELECT qid, nid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, nid) AS rk
      FROM sims
    )
"""

# SNN edge CTE chain on top of the ranked lists (shared by the edge
# entry and the cluster entry): mutual top-k pairs weighted by how many
# neighbors the two top-k lists share (endpoints excluded).
_SNN_EDGE_SQL = f"""
    , knn AS (SELECT qid, nid FROM ranked WHERE rk <= {_SNN_K})
    , mutual AS (
      SELECT ab.qid AS id_a, ab.nid AS id_b
      FROM knn ab JOIN knn ba ON ba.qid = ab.nid AND ba.nid = ab.qid
      WHERE ab.qid < ab.nid
    ), snn AS (
      SELECT m.id_a, m.id_b, CAST(COUNT(*) AS BIGINT) AS shared_cnt
      FROM mutual m
      JOIN knn la ON la.qid = m.id_a
      JOIN knn lb ON lb.qid = m.id_b AND lb.nid = la.nid
      WHERE la.nid <> m.id_a AND la.nid <> m.id_b
      GROUP BY m.id_a, m.id_b
      HAVING COUNT(*) >= {_SNN_MIN_SHARED}
    )
"""


def _sample_knn(spark: SparkSession, sf: str, k: int) -> DataFrame:
    """Directed top-``k`` cosine lists over the 5% sample ->
    (qid, nid, sim, rk).  The pair scan is a broadcast nested-loop of
    the sample against itself (the knn_cosine_top5 shape); sim is the
    fixed-order zip_with/aggregate fold, so it is bit-identical to the
    oracle's list_reduce AND symmetric (x*y per dimension, same
    dimension order from either endpoint) — one ranking key serves both
    directions of the mutuality check."""
    e = _emb(spark, sf).filter(hash_bucket("vec_id", 100) < _SNN_SAMPLE_PCT)
    e = e.withColumn("nn", F.sqrt(F.expr(_DOT.format(a="e", b="e"))))
    q = e.select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("nn").alias("qn"),
    )
    sims = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            (
                F.expr(_DOT.format(a="e", b="qe")) / (F.col("nn") * F.col("qn"))
            ).alias("sim"),
        )
    )
    rk = F.row_number().over(W.partitionBy("qid").orderBy(F.desc("sim"), "nid"))
    return sims.withColumn("rk", rk.cast("long")).filter(F.col("rk") <= k)


def _snn_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Jarvis-Patrick edges: mutual top-``_SNN_K`` pairs that share >=
    ``_SNN_MIN_SHARED`` neighbors across their two lists (endpoints
    excluded) -> (id_a, id_b, shared_cnt)."""
    knn = _sample_knn(spark, sf, _SNN_K).select("qid", "nid")
    ba = knn.select(F.col("qid").alias("_bq"), F.col("nid").alias("_bn"))
    mutual = (
        knn.join(
            ba,
            (F.col("_bq") == F.col("nid")) & (F.col("_bn") == F.col("qid")),
        )
        .filter(F.col("qid") < F.col("nid"))
        .select(F.col("qid").alias("id_a"), F.col("nid").alias("id_b"))
    )
    la = knn.select(F.col("qid").alias("id_a"), F.col("nid").alias("shared"))
    lb = knn.select(F.col("qid").alias("id_b"), F.col("nid").alias("shared"))
    return (
        mutual.join(la, "id_a")
        .join(lb, ["id_b", "shared"])
        .filter((F.col("shared") != F.col("id_a")) & (F.col("shared") != F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared_cnt"))
        .filter(F.col("shared_cnt") >= _SNN_MIN_SHARED)
    )


@register(
    "mutual_knn_pairs",
    f"""
    WITH {_KNN_BASE_SQL}
    , knn AS (SELECT qid, nid, sim, rk FROM ranked WHERE rk <= {_MKNN_K})
    SELECT ab.qid AS id_a, ab.nid AS id_b, ab.sim AS sim,
           ab.rk AS rank_ab, ba.rk AS rank_ba
    FROM knn ab JOIN knn ba ON ba.qid = ab.nid AND ba.nid = ab.qid
    WHERE ab.qid < ab.nid
    """,
)
def mutual_knn_pairs(spark: SparkSession, sf: str):
    """RECIPROCAL NEAREST NEIGHBORS: pairs where each vector is in the
    other's cosine top-{k} — the high-precision edge set (mutuality
    filters the hub vectors that pollute one-directional kNN graphs)
    that seeds agglomerative embedding clustering.  The globally
    closest pair is always mutual rank-1, so the result is non-empty at
    every SF.  Columns carry both direction ranks; sim needs no
    symmetrization because the per-dimension fold is identical from
    either endpoint.  Scale: see module header — IVF-blocked at 100 TB;
    here the 5% md5 sample bounds the pair scan and keeps the oracle
    exact.""".replace("{k}", str(_MKNN_K))
    knn = _sample_knn(spark, sf, _MKNN_K)
    ba = knn.select(
        F.col("qid").alias("_bq"), F.col("nid").alias("_bn"),
        F.col("rk").alias("rank_ba"),
    )
    return (
        knn.join(
            ba, (F.col("_bq") == F.col("nid")) & (F.col("_bn") == F.col("qid"))
        )
        .filter(F.col("qid") < F.col("nid"))
        .select(
            F.col("qid").alias("id_a"),
            F.col("nid").alias("id_b"),
            "sim",
            F.col("rk").alias("rank_ab"),
            "rank_ba",
        )
    )


@register(
    "snn_shared_neighbor_edges",
    f"""
    WITH {_KNN_BASE_SQL}{_SNN_EDGE_SQL}
    SELECT id_a, id_b, shared_cnt FROM snn
    """,
)
def snn_shared_neighbor_edges(spark: SparkSession, sf: str):
    """SHARED-NEAREST-NEIGHBOR edge strength (Jarvis-Patrick): for every
    MUTUAL top-{k} pair, how many OTHER vectors appear in both top-{k}
    lists — the density signal (two points deep in the same cluster
    share most of their neighborhoods; a chance-close pair at a cluster
    boundary shares none) that makes SNN clustering robust where raw
    cosine thresholds are not.  Edges with < {s} shared neighbors are
    dropped.  Scale: the join fans each mutual pair out by at most
    2x{k} list rows — output-bounded by construction; the kNN base is
    the sampled/IVF-blocked scan above.""".replace(
        "{k}", str(_SNN_K)
    ).replace("{s}", str(_SNN_MIN_SHARED))
    return _snn_edges(spark, sf)


@register(
    "jarvis_patrick_clusters",
    f"""
    WITH RECURSIVE {_KNN_BASE_SQL}{_SNN_EDGE_SQL}
    , edges AS (
      SELECT id_a AS src, id_b AS dst FROM snn
      UNION
      SELECT id_b AS src, id_a AS dst FROM snn
    ), reach AS (
      SELECT src AS v, src AS label FROM edges
      UNION
      SELECT e.dst AS v, r.label FROM reach r JOIN edges e ON e.src = r.v
    ), comp AS (SELECT v, MIN(label) AS cluster_id FROM reach GROUP BY v)
    SELECT v AS vec_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
)
def jarvis_patrick_clusters(spark: SparkSession, sf: str):
    """JARVIS-PATRICK CLUSTERING end to end: the SNN edges collapsed
    into clusters by connected components (smallest reachable vec_id =
    deterministic cluster id) — the non-parametric embedding-clustering
    composition (kNN -> mutual filter -> shared-neighbor threshold ->
    components) that needs no centroid count and no distance threshold,
    exactly how curation pipelines group near-topic documents.  Only
    vectors on >= 1 surviving edge appear (singletons are noise in SNN
    terms, the DBSCAN convention).  Scale: components is the gated
    diameter-bounded min-label loop (stats-reset, pointer-jumping);
    everything upstream is the sampled/IVF-blocked scan."""
    from byte_convert_avro_spark.operators.dedup import connected_components

    edges = _snn_edges(spark, sf).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    comp = connected_components(edges)
    w = W.partitionBy("cluster_id")
    return comp.select(
        F.col("v").alias("vec_id"), F.col("component").alias("cluster_id")
    ).select(
        "vec_id", "cluster_id", F.count("*").over(w).alias("cluster_size")
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval: ADC shortlist -> exact rerank.  Reuses the PQ
# training/encode CTE chain verbatim from relational_r14 so the two
# entries can never drift apart.
from byte_convert_avro_spark.queries.relational_r14 import (  # noqa: E402
    _PQ_CHUNK,
    _PQ_ENCODE_CTES,
    _PQ_FINAL,
    _PQ_ITER,
    _PQ_K,
    _PQ_M,
    _PQ_SUBD,
    _pq_sql_cte,
)

_RERANK_SHORTLIST = 20
_RERANK_TOPK = 3


@register(
    "pq_rerank_top3_recall",
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
    ), shortlist AS (
      SELECT vec_id, est_d2 FROM est
      ORDER BY est_d2, vec_id LIMIT {_RERANK_SHORTLIST}
    ), rer AS (
      SELECT s.vec_id, s.est_d2,
             list_reduce(list_transform(generate_series(1, {DIM}),
                         i -> (v.e[i] - qfull.e[i]) * (v.e[i] - qfull.e[i])),
                         (a, b) -> a + b) AS d2
      FROM shortlist s
      JOIN (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) v
        ON v.vec_id = s.vec_id
      CROSS JOIN qfull
    ), exacts AS (
      SELECT v.vec_id,
             list_reduce(list_transform(generate_series(1, {DIM}),
                         i -> (v.e[i] - qfull.e[i]) * (v.e[i] - qfull.e[i])),
                         (a, b) -> a + b) AS d2
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) v,
           qfull
    ), extop AS (
      SELECT vec_id FROM exacts ORDER BY d2, vec_id LIMIT {_RERANK_TOPK}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY d2, vec_id) AS BIGINT) AS rank,
           vec_id, d2, est_d2,
           CAST(vec_id IN (SELECT vec_id FROM extop) AS INT) AS in_exact_top3
    FROM rer ORDER BY d2, vec_id LIMIT {_RERANK_TOPK}
    """,
)
def pq_rerank_top3_recall(spark: SparkSession, sf: str):
    """TWO-STAGE RETRIEVAL under the gate: ADC estimates over the PQ
    codes pick a {sl}-deep shortlist, exact squared-L2 re-scores ONLY
    the shortlist, and the final top-{k} carries its exact-top-{k}
    membership flag — the coarse-scan/fine-rerank serving pattern of
    every production vector store, composed from the gated pq_train /
    pq_encode / pq_adc_estimates chain.  The rerank repairs ADC's
    quantization misrankings whenever the true top-{k} survives into
    the shortlist (recall@shortlist), which is the quantity the flag
    column audits.  Scale: stage 1 reads CODES only (m byte-ish columns
    + a broadcast m x k lookup), stage 2 touches raw vectors for
    {sl} rows — the 100 TB read-amplification shape.""".replace(
        "{sl}", str(_RERANK_SHORTLIST)
    ).replace("{k}", str(_RERANK_TOPK))
    from byte_convert_avro_spark.operators import similarity as S
    from byte_convert_avro_spark.operators.similarity import _sub_d2

    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    cb_rows = S.pq_train(
        emb, "embedding", "vec_id", m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER,
        fold_chunk=_PQ_CHUNK,
    ).collect()
    cb = [(r.sub, r.cell, list(r.ce)) for r in cb_rows]
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    query = [float(x) for x in qrow.embedding]
    codes = S.pq_encode(emb, cb, "embedding", "vec_id")
    shortlist = (
        S.pq_adc_estimates(codes, cb, query)
        .orderBy("est_d2", "id")
        .limit(_RERANK_SHORTLIST)
    )
    full = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_e")
    )
    rer = shortlist.join(
        full, shortlist.id == full.vec_id
    ).select(
        "vec_id", "est_d2", _sub_d2(F.col("_e"), query).alias("d2")
    )
    exact_ids = [
        r.vec_id
        for r in full.withColumn("_d2", _sub_d2(F.col("_e"), query))
        .orderBy("_d2", "vec_id")
        .limit(_RERANK_TOPK)
        .collect()
    ]
    top = rer.orderBy("d2", "vec_id").limit(_RERANK_TOPK)
    rk = F.row_number().over(W.orderBy("d2", "vec_id"))
    return top.select(
        rk.cast("long").alias("rank"),
        "vec_id",
        "d2",
        "est_d2",
        F.col("vec_id").isin(exact_ids).cast("int").alias("in_exact_top3"),
    )


# ---------------------------------------------------------------------------
@register(
    "kmv_difference_estimate",
    """
    WITH ha AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL AND event_type = 'view'
    ), hb AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
    ), ska AS (SELECT h FROM ha ORDER BY h LIMIT 32),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT 32),
    u AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
          ORDER BY h LIMIT 32),
    flags AS (
      SELECT u.h,
             CASE WHEN a.h IS NOT NULL AND b.h IS NULL THEN 1 ELSE 0 END AS a_only,
             CASE WHEN b.h IS NOT NULL AND a.h IS NULL THEN 1 ELSE 0 END AS b_only
      FROM u LEFT JOIN ska a ON a.h = u.h LEFT JOIN skb b ON b.h = u.h
    ), agg AS (
      SELECT CAST(SUM(a_only) AS BIGINT) AS n_a_only,
             CAST(SUM(b_only) AS BIGINT) AS n_b_only,
             CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(MAX(h) AS BIGINT) AS kth_union
      FROM flags
    ), exact AS (
      SELECT CAST((SELECT COUNT(*) FROM ha
                   WHERE NOT EXISTS (SELECT 1 FROM hb WHERE hb.h = ha.h))
                  AS BIGINT) AS exact_a_minus_b,
             CAST((SELECT COUNT(*) FROM hb
                   WHERE NOT EXISTS (SELECT 1 FROM ha WHERE ha.h = hb.h))
                  AS BIGINT) AS exact_b_minus_a
    )
    SELECT n_a_only, n_b_only, k_used, kth_union,
           CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
                ELSE CAST(31.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE) / kth_union
           END * (CAST(n_a_only AS DOUBLE) / k_used) AS diff_ab_est,
           CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
                ELSE CAST(31.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE) / kth_union
           END * (CAST(n_b_only AS DOUBLE) / k_used) AS diff_ba_est,
           CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
                ELSE CAST(31.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE) / kth_union
           END * (CAST(n_a_only + n_b_only AS DOUBLE) / k_used) AS symm_diff_est,
           exact_a_minus_b, exact_b_minus_a
    FROM agg CROSS JOIN exact
    """,
)
def kmv_difference_estimate(spark: SparkSession, sf: str):
    """KMV SET-DIFFERENCE estimates — completes the sketch algebra
    (cardinality: kmv_distinct_users_estimate, union: kmv_weekly_merge,
    intersection+Jaccard: kmv_intersection_estimate) with
    viewers-minus-purchasers, purchasers-minus-viewers, and the
    symmetric difference, from the SAME three 32-row sketches: over the
    union sketch's k smallest hashes, the fraction present in exactly
    one input sketch estimates each difference's share of the union
    (legal for the same reason as the intersection combinator — every
    union-sketch member is a uniform draw from A ∪ B, and membership in
    A\\B is exactly computable for retained hashes).  Exact columns
    carried alongside as the gate-side error readout.  Scale: identical
    to the intersection entry — k-row mergeable state per side, the
    exact anti-joins are verification only."""
    ev = t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    h = md5_long("user_id")

    def sketch(etype: str):
        return (
            ev.filter(F.col("event_type") == etype)
            .select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(32)
        )

    ska, skb = sketch("view"), sketch("purchase")
    u = ska.union(skb).distinct().orderBy("h").limit(32)
    flags = (
        u.join(ska.withColumnRenamed("h", "ha"), u.h == F.col("ha"), "left")
        .join(skb.withColumnRenamed("h", "hb"), u.h == F.col("hb"), "left")
        .select(
            "h",
            (F.col("ha").isNotNull() & F.col("hb").isNull()).cast("int").alias("a_only"),
            (F.col("hb").isNotNull() & F.col("ha").isNull()).cast("int").alias("b_only"),
        )
    )
    agg = flags.agg(
        F.sum("a_only").cast("long").alias("n_a_only"),
        F.sum("b_only").cast("long").alias("n_b_only"),
        F.count("*").cast("long").alias("k_used"),
        F.max("h").cast("long").alias("kth_union"),
    )
    full_a = ev.filter(F.col("event_type") == "view").select(h.alias("h")).distinct()
    full_b = ev.filter(F.col("event_type") == "purchase").select(h.alias("h")).distinct()
    exact = (
        full_a.join(full_b, "h", "left_anti")
        .agg(F.count("*").cast("long").alias("exact_a_minus_b"))
        .crossJoin(
            full_b.join(full_a, "h", "left_anti").agg(
                F.count("*").cast("long").alias("exact_b_minus_a")
            )
        )
    )
    union_est = F.when(
        F.col("k_used") < 32, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(31.0).cast("double") * F.lit(4294967296.0).cast("double")
        / F.col("kth_union")
    )
    return agg.crossJoin(F.broadcast(exact)).select(
        "n_a_only",
        "n_b_only",
        "k_used",
        "kth_union",
        (union_est * (F.col("n_a_only").cast("double") / F.col("k_used"))).alias(
            "diff_ab_est"
        ),
        (union_est * (F.col("n_b_only").cast("double") / F.col("k_used"))).alias(
            "diff_ba_est"
        ),
        (
            union_est
            * ((F.col("n_a_only") + F.col("n_b_only")).cast("double") / F.col("k_used"))
        ).alias("symm_diff_est"),
        "exact_a_minus_b",
        "exact_b_minus_a",
    )


# ---------------------------------------------------------------------------
@register(
    "events_value_changepoint",
    """
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
      GROUP BY event_type, day
    ), seq AS (
      SELECT event_type, day, day_cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
             SUM(day_cents) OVER (PARTITION BY event_type ORDER BY day) AS s_t,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(day_cents) OVER (PARTITION BY event_type) AS s_n
      FROM daily
    ), stat AS (
      SELECT *, ABS(s_t * n - t * s_n) AS stat_num FROM seq
    ), pick AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY stat_num DESC, day) AS rk
      FROM stat
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(day AS BIGINT) AS change_day, CAST(t AS BIGINT) AS left_days,
           CAST(stat_num AS BIGINT) AS stat_num,
           CAST(s_t AS DOUBLE) / t AS left_mean_cents,
           CASE WHEN n > t THEN CAST(s_n - s_t AS DOUBLE) / (n - t)
                ELSE NULL END AS right_mean_cents
    FROM pick WHERE rk = 1
    """,
)
def events_value_changepoint(spark: SparkSession, sf: str):
    """OFFLINE CHANGEPOINT LOCALIZATION (binary segmentation, depth 1):
    per event type, the day that maximizes the max-CUSUM location
    statistic |S_t - (t/n)S_n| over the daily value series — spelled as
    the INTEGER |S_t*n - t*S_n| (cents end to end, one running sum +
    one row_number per type) so the argmax is bit-deterministic with no
    division anywhere before the final mean readouts.  Complements
    ``events_cusum_value_drift``: that one is the ONLINE alarm (did
    drift exceed h, how often), this is the retrospective estimator of
    WHERE the level shifted — the first split binary segmentation would
    recurse on.  Ties break to the earliest day.  Scale: one hash
    exchange on event_type for the daily rollup (map-side combine), one
    partition-local sort shared by all four window functions, O(1)
    frame state; segments-per-type is days-bounded, never row-bounded.
    Overflow headroom: |S_t*n - t*S_n| <= 2*S_n*n — at 10^13 total
    cents and 10^4 days still < 2^63."""
    ev = (
        t(spark, sf, "events")
        .withColumn("ts_us", F.expr("ts DIV 1000"))
        .filter(
            F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
    )
    daily = ev.groupBy(
        "event_type", F.expr("ts_us DIV 86400000000").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("day_cents"))
    wo = W.partitionBy("event_type").orderBy("day")
    wa = W.partitionBy("event_type")
    seq = daily.select(
        "event_type",
        "day",
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum("day_cents").over(wo).alias("s_t"),
        F.count("*").over(wa).alias("n"),
        F.sum("day_cents").over(wa).alias("s_n"),
    )
    stat = seq.withColumn(
        "stat_num", F.abs(F.col("s_t") * F.col("n") - F.col("t") * F.col("s_n"))
    )
    pick = stat.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.desc("stat_num"), "day")
        ),
    ).filter(F.col("rk") == 1)
    return pick.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("day").cast("long").alias("change_day"),
        F.col("t").cast("long").alias("left_days"),
        F.col("stat_num").cast("long").alias("stat_num"),
        (F.col("s_t").cast("double") / F.col("t")).alias("left_mean_cents"),
        F.when(
            F.col("n") > F.col("t"),
            (F.col("s_n") - F.col("s_t")).cast("double")
            / (F.col("n") - F.col("t")),
        ).alias("right_mean_cents"),
    )


# ---------------------------------------------------------------------------
@register(
    "doc_bigram_lm_bitscore",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), toks AS (
      SELECT doc_id, unnest(w) AS tok FROM words
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks
    ), bg AS (
      SELECT doc_id, w[i] AS a, w[i] || ' ' || w[i + 1] AS bigram
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - 1)) AS i
            FROM words)
    ), cbg AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY bigram
    ), ctx AS (
      SELECT a, CAST(COUNT(*) AS BIGINT) AS na FROM bg GROUP BY a
    ), scored AS (
      SELECT bg.doc_id,
             (length(bin(ctx.na + vocab.v)) - 1)
               - (length(bin(cbg.nb + 1)) - 1) AS bits
      FROM bg JOIN cbg USING (bigram) JOIN ctx USING (a) CROSS JOIN vocab
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(bits) AS BIGINT) AS bit_sum,
           CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS bits_per_bigram
    FROM scored GROUP BY doc_id
    """,
)
def doc_bigram_lm_bitscore(spark: SparkSession, sf: str):
    """ADD-1-SMOOTHED BIGRAM LM quality score with exact integer log
    arithmetic: per bigram occurrence (a, b) the model cost is
    -log2 p(b|a) with p(b|a) = (c(a,b)+1)/(c(a)+V), approximated by the
    EXACT integer floor(log2(c(a)+V)) - floor(log2(c(a,b)+1)) where
    floor(log2 x) = length(bin(x)) - 1 on both engines — within 2 bits
    of the real value and bit-identical cross-engine, which libm log
    never is (the doc_bigram_familiarity lesson applied to a real
    smoothed CONDITIONAL model: familiarity scores raw counts; this
    scores the normalized per-context distribution the CCNet-style
    perplexity filter uses, so a doc of common words in rare orders now
    scores differently from rare words in common orders).  High
    bits_per_bigram = surprising text (quality-filter keep/inspect
    signal); low = templated.  Docs under 2 words have no bigrams and
    are absent, as in the familiarity entry.  Scale: corpus counts
    partial-aggregate map-side on their own join keys (bigram, then
    first-token); V is a 1-row broadcast; per-doc rollup on doc_id —
    three shuffles, all on natural keys, no quadratic object
    anywhere."""
    d = spread(t(spark, sf, "documents"), "doc_id")
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    toks = words.select(F.explode("w").alias("tok"))
    vocab = toks.agg(F.count_distinct("tok").cast("long").alias("v"))
    # slice-based bigram construction (NOT sequence/element_at): a
    # <2-word doc yields an empty slice, never a throwing expression —
    # see doc_bigram_familiarity for why the filter alone cannot
    # protect the ANSI path.
    bg = (
        words.select(
            "doc_id",
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                " (a, b) -> named_struct('a', a, 'bigram', concat(a, ' ', b)))"
            ).alias("ps"),
        )
        .select("doc_id", F.explode("ps").alias("p"))
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.bigram").alias("bigram"))
    )
    cbg = bg.groupBy("bigram").agg(F.count("*").cast("long").alias("nb"))
    ctx = bg.groupBy("a").agg(F.count("*").cast("long").alias("na"))
    flog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731
    scored = (
        bg.join(cbg, "bigram")
        .join(ctx, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                flog2(F.col("na") + F.col("v")) - flog2(F.col("nb") + F.lit(1))
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("bit_sum"),
        (F.sum("bits").cast("double") / F.count("*")).alias("bits_per_bigram"),
    )


# ---------------------------------------------------------------------------
# Batch 2 — robust / shape-constrained statistics on DAY series, plus the
# Allen temporal algebra.  The trend family (Theil-Sen, Mann-Kendall,
# isotonic) deliberately runs on the per-type DAILY rollup: the pair
# stage is quadratic in DAYS (a few hundred rows per type at any SF),
# never in events — the aggregation-first discipline that makes
# pairwise statistics viable at 100 TB.

_DAILY_CENTS_SQL = """
    daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
      GROUP BY event_type, day
    )
"""


def _daily_cents(spark: SparkSession, sf: str) -> DataFrame:
    """Per (event_type, day) exact integer cents — the shared base of the
    changepoint/trend family (same spelling as events_value_changepoint)."""
    ev = (
        t(spark, sf, "events")
        .withColumn("ts_us", F.expr("ts DIV 1000"))
        .filter(
            F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
    )
    return ev.groupBy(
        "event_type", F.expr("ts_us DIV 86400000000").alias("day")
    ).agg(F.sum(cents("value")).cast("long").alias("day_cents"))


def _day_pairs(daily: DataFrame) -> DataFrame:
    """All same-type day pairs (day_a < day_b) — the days-bounded
    quadratic object all three trend entries share.  Equi join on
    event_type with the inequality as a residual, so the shuffle key
    is the type and each task's pair work is |days-of-type|²."""
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("day_cents").alias("c_a")
    )
    b = daily.select(
        "event_type", F.col("day").alias("day_b"), F.col("day_cents").alias("c_b")
    )
    return a.join(b, "event_type").filter(F.col("day_a") < F.col("day_b"))


@register(
    "events_theil_sen_daily_trend",
    f"""
    WITH {_DAILY_CENTS_SQL}
    , pairs AS (
      SELECT a.event_type,
             a.day AS day_a, b.day AS day_b,
             CAST(b.day_cents - a.day_cents AS DOUBLE) / (b.day - a.day)
               AS slope
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND a.day < b.day
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope, day_a, day_b) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM pairs
    ), nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
      GROUP BY event_type
    )
    SELECT r.event_type, nd.n_days, CAST(r.n_pairs AS BIGINT) AS n_pairs,
           r.slope AS ts_slope_cents_per_day,
           CAST(r.day_a AS BIGINT) AS med_day_a,
           CAST(r.day_b AS BIGINT) AS med_day_b
    FROM ranked r JOIN nd ON nd.event_type = r.event_type
    WHERE r.rk = (r.n_pairs + 1) // 2
    """,
)
def events_theil_sen_daily_trend(spark: SparkSession, sf: str):
    """THEIL-SEN ROBUST TREND per event type: the (lower) median of all
    pairwise day-slopes of the daily cents series — the classic
    high-breakdown (29.3%) alternative to OLS, immune to the outlier
    days that drag lineitem_ols_qty_dollars-style fits.  Each slope is
    ONE division of exact integers (deterministic double); the median
    is an integer-rank pick ordered by (slope, day_a, day_b) so ties
    cannot reorder between engines; the median pair's endpoints ride
    along as the determinism witness.  Scale: pairs are quadratic in
    DAYS (never events) on an event_type-keyed equi join — a few
    hundred days per type at any SF, the aggregation-first discipline
    that makes pairwise stats viable at 100 TB."""
    daily = _daily_cents(spark, sf)
    pairs = _day_pairs(daily).select(
        "event_type",
        "day_a",
        "day_b",
        (
            (F.col("c_b") - F.col("c_a")).cast("double")
            / (F.col("day_b") - F.col("day_a"))
        ).alias("slope"),
    )
    wr = W.partitionBy("event_type").orderBy("slope", "day_a", "day_b")
    wa = W.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "day_a",
        "day_b",
        "slope",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wa).alias("n_pairs"),
    ).filter(F.col("rk") == F.expr("(n_pairs + 1) div 2"))
    nd = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    return ranked.join(nd, "event_type").select(
        "event_type",
        "n_days",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("slope").alias("ts_slope_cents_per_day"),
        F.col("day_a").cast("long").alias("med_day_a"),
        F.col("day_b").cast("long").alias("med_day_b"),
    )


@register(
    "events_mann_kendall_trend",
    f"""
    WITH {_DAILY_CENTS_SQL}
    , s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.day_cents > a.day_cents THEN 1
                           WHEN b.day_cents < a.day_cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND a.day < b.day
      GROUP BY a.event_type
    ), nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily
      GROUP BY event_type
    ), ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(tg * (tg - 1) * (2 * tg + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT event_type, day_cents, COUNT(*) AS tg
            FROM daily GROUP BY event_type, day_cents)
      WHERE tg > 1
      GROUP BY event_type
    )
    SELECT nd.event_type, nd.n AS n_days, s.s_stat,
           CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5)
                - COALESCE(t2.tie_term, 0) AS BIGINT) AS var18,
           CASE
             WHEN s.s_stat > 0 THEN
               CAST(s.s_stat - 1 AS DOUBLE)
                 / sqrt(CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5)
                             - COALESCE(t2.tie_term, 0) AS DOUBLE) / 18.0)
             WHEN s.s_stat < 0 THEN
               CAST(s.s_stat + 1 AS DOUBLE)
                 / sqrt(CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5)
                             - COALESCE(t2.tie_term, 0) AS DOUBLE) / 18.0)
             ELSE CAST(0.0 AS DOUBLE)
           END AS z_stat
    FROM nd JOIN s ON s.event_type = nd.event_type
    LEFT JOIN ties t2 ON t2.event_type = nd.event_type
    """,
)
def events_mann_kendall_trend(spark: SparkSession, sf: str):
    """MANN-KENDALL TREND TEST per event type — the nonparametric
    companion of the Theil-Sen slope (same pair frame): S = Σ sign
    pairs (exact integer), the tie-corrected variance kept as the
    INTEGER numerator var18 = n(n-1)(2n+5) - Σ t(t-1)(2t+5) (the /18
    deferred), and the continuity-corrected z = (S∓1)/sqrt(var18/18) —
    sqrt is correctly rounded IEEE and the operands are exact, so the
    float matches bit-for-bit cross-engine.  Scale: identical
    days-bounded pair profile as Theil-Sen; the tie scan is one
    (type, value) aggregate."""
    daily = _daily_cents(spark, sf)
    s = (
        _day_pairs(daily)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("c_b") > F.col("c_a"), 1)
                .when(F.col("c_b") < F.col("c_a"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nd = daily.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    ties = (
        daily.groupBy("event_type", "day_cents")
        .agg(F.count("*").alias("tg"))
        .filter(F.col("tg") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    base = (
        nd.join(s, "event_type")
        .join(ties, "event_type", "left")
        .withColumn("tie_term", F.coalesce("tie_term", F.lit(0)))
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ).cast("long")
    denom = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    return (
        base.withColumn("var18", var18)
        .withColumn(
            "z_stat",
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double") / denom,
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1).cast("double") / denom,
            )
            .otherwise(F.lit(0.0)),
        )
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            "var18",
            "z_stat",
        )
    )


@register(
    "events_isotonic_daily_value",
    f"""
    WITH {_DAILY_CENTS_SQL}
    , seq AS (
      SELECT event_type, day, day_cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
             SUM(day_cents) OVER (PARTITION BY event_type ORDER BY day) AS p
      FROM daily
    ), pairmeans AS (
      SELECT j.event_type, j.t AS jt, k.t AS kt,
             CAST(k.p - j.p + j.day_cents AS DOUBLE) / (k.t - j.t + 1)
               AS mean_jk
      FROM seq j JOIN seq k
        ON k.event_type = j.event_type AND k.t >= j.t
    ), m AS (
      SELECT event_type, jt, MIN(mean_jk) AS m_j
      FROM pairmeans GROUP BY event_type, jt
    )
    SELECT s.event_type, CAST(s.day AS BIGINT) AS day, s.day_cents,
           MAX(m.m_j) OVER (PARTITION BY s.event_type ORDER BY s.t) AS iso_cents
    FROM seq s JOIN m ON m.event_type = s.event_type AND m.jt = s.t
    """,
)
def events_isotonic_daily_value(spark: SparkSession, sf: str):
    """ISOTONIC REGRESSION (PAVA) as pure relational algebra: the
    monotone-nondecreasing least-squares fit of daily cents vs day per
    event type, via the exact min-max characterization
    iso(i) = max_{j<=i} min_{k>=j} mean(y[j..k]) — the closed form that
    replaces the sequential pool-adjacent-violators loop with one
    days-bounded pair join (means from prefix sums, one division of
    exact integers each), one MIN aggregate, and one running-MAX
    window.  The fitted level of every pooled block is exactly that
    block's mean, so a python PAVA recompute matches bit-for-bit
    (tests/test_r14b_semantics.py).  The shape-constrained calibration
    primitive (conversion curves, score calibration) in three
    operators.  Scale: |days|² pairs per type on a type-keyed equi
    join; events are touched once by the rollup."""
    daily = _daily_cents(spark, sf)
    wo = W.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "day",
        "day_cents",
        F.row_number().over(wo).alias("t"),
        F.sum("day_cents").over(wo).alias("p"),
    )
    j = seq.select(
        "event_type",
        F.col("t").alias("jt"),
        F.col("p").alias("pj"),
        F.col("day_cents").alias("cj"),
    )
    k = seq.select("event_type", F.col("t").alias("kt"), F.col("p").alias("pk"))
    m = (
        j.join(k, "event_type")
        .filter(F.col("kt") >= F.col("jt"))
        .select(
            "event_type",
            "jt",
            (
                (F.col("pk") - F.col("pj") + F.col("cj")).cast("double")
                / (F.col("kt") - F.col("jt") + 1)
            ).alias("mean_jk"),
        )
        .groupBy("event_type", "jt")
        .agg(F.min("mean_jk").alias("m_j"))
        # rename the join keys: m derives FROM seq, so qualified columns
        # stay ambiguous under Spark's self-join analysis — distinct
        # names sidestep it
        .select(
            F.col("event_type").alias("_met"),
            F.col("jt").alias("_mjt"),
            "m_j",
        )
    )
    out = seq.join(
        m,
        (F.col("event_type") == F.col("_met")) & (F.col("t") == F.col("_mjt")),
    ).select("event_type", "day", "day_cents", "t", "m_j")
    wmax = W.partitionBy("event_type").orderBy("t")
    return out.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "day_cents",
        F.max("m_j").over(wmax).alias("iso_cents"),
    )


@register(
    "order_interval_allen_histogram",
    """
    WITH iv AS (
      SELECT o_orderkey, o_custkey, o_orderdate AS d0, MAX(l_shipdate) AS d1
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT CASE
               WHEN a.d1 < b.d0 THEN 'precedes'
               WHEN b.d1 < a.d0 THEN 'preceded_by'
               WHEN a.d1 = b.d0 AND a.d0 < b.d0 AND b.d1 > b.d0 THEN 'meets'
               WHEN b.d1 = a.d0 AND b.d0 < a.d0 AND a.d1 > a.d0 THEN 'met_by'
               WHEN a.d0 = b.d0 AND a.d1 = b.d1 THEN 'equals'
               WHEN a.d0 = b.d0 AND a.d1 < b.d1 THEN 'starts'
               WHEN a.d0 = b.d0 AND a.d1 > b.d1 THEN 'started_by'
               WHEN a.d1 = b.d1 AND a.d0 > b.d0 THEN 'finishes'
               WHEN a.d1 = b.d1 AND a.d0 < b.d0 THEN 'finished_by'
               WHEN a.d0 > b.d0 AND a.d1 < b.d1 THEN 'during'
               WHEN a.d0 < b.d0 AND a.d1 > b.d1 THEN 'contains'
               WHEN a.d0 < b.d0 THEN 'overlaps'
               ELSE 'overlapped_by'
             END AS relation
      FROM iv a JOIN iv b
        ON b.o_custkey = a.o_custkey AND a.o_orderkey < b.o_orderkey
    )
    SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY relation
    """,
)
def order_interval_allen_histogram(spark: SparkSession, sf: str):
    """ALLEN'S INTERVAL ALGEBRA over order-fulfillment intervals: every
    same-customer order pair classified into its Allen relation
    (precedes/meets/overlaps/starts/during/finishes/equals + inverses
    — the 13 mutually-exclusive jointly-exhaustive temporal relations)
    and histogrammed.  Completes the temporal-join family: the overlap
    self-join answers "do they intersect", this answers HOW — the
    primitive temporal reasoning engines build rules on.  Classifier
    ordering matters for degenerate (point) intervals: the strict
    before/after and endpoint-equality arms fire first, so meets/met_by
    only claim true boundary touches.  Scale: same residual-on-equi
    profile as customer_order_interval_overlaps — pair work bounded by
    per-customer order count squared, shuffle key uniform."""
    o = t(spark, sf, "orders")
    l = t(spark, sf, "lineitem")
    iv = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("d1"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").alias("d0"),
            "d1",
        )
    )
    a = iv.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ka"),
        F.col("d0").alias("a0"),
        F.col("d1").alias("a1"),
    )
    b = iv.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("kb"),
        F.col("d0").alias("b0"),
        F.col("d1").alias("b1"),
    )
    pairs = a.join(b, "ck").filter(F.col("ka") < F.col("kb"))
    rel = (
        F.when(F.col("a1") < F.col("b0"), "precedes")
        .when(F.col("b1") < F.col("a0"), "preceded_by")
        .when(
            (F.col("a1") == F.col("b0"))
            & (F.col("a0") < F.col("b0"))
            & (F.col("b1") > F.col("b0")),
            "meets",
        )
        .when(
            (F.col("b1") == F.col("a0"))
            & (F.col("b0") < F.col("a0"))
            & (F.col("a1") > F.col("a0")),
            "met_by",
        )
        .when((F.col("a0") == F.col("b0")) & (F.col("a1") == F.col("b1")), "equals")
        .when((F.col("a0") == F.col("b0")) & (F.col("a1") < F.col("b1")), "starts")
        .when(
            (F.col("a0") == F.col("b0")) & (F.col("a1") > F.col("b1")),
            "started_by",
        )
        .when((F.col("a1") == F.col("b1")) & (F.col("a0") > F.col("b0")), "finishes")
        .when(
            (F.col("a1") == F.col("b1")) & (F.col("a0") < F.col("b0")),
            "finished_by",
        )
        .when((F.col("a0") > F.col("b0")) & (F.col("a1") < F.col("b1")), "during")
        .when((F.col("a0") < F.col("b0")) & (F.col("a1") > F.col("b1")), "contains")
        .when(F.col("a0") < F.col("b0"), "overlaps")
        .otherwise("overlapped_by")
    )
    return (
        pairs.select(rel.alias("relation"))
        .groupBy("relation")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
