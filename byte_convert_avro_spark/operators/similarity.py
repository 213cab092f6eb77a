"""Similarity search over embedding columns (``array<float>`` /
``array<double>``).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the query set,
  scan the corpus once.  O(|corpus| × |queries|) dot products, fully
  JVM-side, embarrassingly parallel — the correctness baseline and still
  the right answer when |queries| is small.
- :func:`ivf_build` / :func:`ivf_search` — inverted-file ANN: route
  vectors to nearest centroid once (broadcast join), then search only the
  probed cells.  The 100 TB path: search cost drops to
  O(|corpus| × nprobe / K).
- :func:`sign_lsh_buckets` — random-hyperplane-style sign LSH using fixed
  dimension subsets (deterministic, no RNG); bucket key for within-bucket
  near-dup joins.
- :func:`sign_lsh_banded_candidates` — THE default near-dup scale path:
  multi-band OR over disjoint sign bands recovers pairs any single band
  loses (recall measured in tests/test_banded_lsh.py: 0.987 banded vs
  0.687 single-band at cosine>=0.95 on a known-truth corpus); verify with
  exact cosine inside the candidate set only.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"


def dot_col(a: str, b: str) -> Column:
    """Sequential-fold dot product of two array<double> columns (bit-
    deterministic: left-to-right IEEE addition)."""
    return F.expr(_DOT.format(a=a, b=b))


def with_norm(df: DataFrame, vec_col: str, out: str = "nrm") -> DataFrame:
    d = df.withColumn("_e", F.col(vec_col).cast("array<double>"))
    return d.withColumn(out, F.sqrt(F.expr(_DOT.format(a="_e", b="_e"))))


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    vec_col: str = "embedding", id_col: str = "vec_id", round_to: int = 4,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``.
    -> (qid, id, sim, rank).  The query side is broadcast; ranking is a
    per-query window with (sim, id) tie-break."""
    c = with_norm(corpus.select(F.col(id_col).alias("id"), vec_col), vec_col)
    q = with_norm(queries.select(F.col(id_col).alias("qid"), vec_col), vec_col).select(
        "qid", F.col("_e").alias("qe"), F.col("nrm").alias("qn")
    )
    sims = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "id",
        F.round(F.expr(_DOT.format(a="_e", b="qe")) / (F.col("nrm") * F.col("qn")), round_to).alias("sim"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "id")
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _dbl_lit(v: float) -> str:
    """SQL double literal with exact round-trip: ``repr(float)`` emits
    the shortest decimal that parses back to the same IEEE-754 double
    (both Python and the JVM parse correctly rounded), so the parsed
    Literal is bit-identical to ``F.lit(v)``."""
    return repr(float(v)) + "D"


def _d2_sql(vec: list[float], e_col: str) -> str:
    """Fixed-order IEEE squared-L2 distance of column ``e_col`` to a
    literal centroid, as ONE SQL string.  Same zip_with/aggregate fold
    (dims left to right) as the Column-API form — but built with a
    single parse instead of ~|dim| py4j round trips per centroid: the
    r14 profiling found the Column-API construction (8 centroids x 64
    ``F.lit`` calls) cost ~0.7s of pure driver time PER ROUND, as much
    as the round's Spark job itself (guide §1: the per-round cost was
    planning chatter, not data)."""
    arr = "array(" + ",".join(_dbl_lit(v) for v in vec) + ")"
    return (
        f"aggregate(zip_with({e_col}, {arr}, (x, y) -> (x - y) * (x - y)), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _collect_centroids(
    centroids: DataFrame, vec_col: str, cent_id: str
) -> tuple[list[tuple], str]:
    """(cell, vector) pairs sorted by cell id, plus the cell column's
    Spark dtype (so literal rewrites preserve the output schema).
    Centroids are k x dim BY CONSTRUCTION (the kmeans contract), so the
    collect is bounded at any corpus size.

    Fast path (r14): the kmeans trainers build their output DataFrame
    FROM a driver-side list, so collecting it back is a pure round trip
    (one local job per call — ivf_search_top3 paid it twice: build +
    search).  Trainers stash that list on the returned frame
    (``_bca_cents``, sorted by cell); when present and the caller keys
    on the trainer's ``cell`` column, reuse it directly."""
    cached = getattr(centroids, "_bca_cents", None)
    if cached is not None and cent_id == "cell":
        return [(c, list(v)) for c, v in cached], "bigint"
    cell_type = centroids.schema[cent_id].dataType.simpleString()
    rows = (
        centroids.select(
            F.col(cent_id).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("ce"),
        )
        .orderBy("cell")
        .collect()
    )
    return [(r.cell, [float(x) for x in r.ce]) for r in rows], cell_type


def _d2_literal(vec: list[float], e_col: str = "_e") -> Column:
    """Fixed-order IEEE squared-L2 distance of column ``e_col`` to a
    literal centroid — identical arithmetic to the broadcast-join form
    (same zip_with/aggregate fold, dims left to right); parsed from one
    SQL string (see :func:`_d2_sql`)."""
    return F.expr(_d2_sql(vec, e_col))


def ivf_build(
    corpus: DataFrame, centroids: DataFrame,
    vec_col: str = "embedding", id_col: str = "vec_id", cent_id: str = "label",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (squared L2).
    ``centroids``: (cent_id, embedding).  -> corpus + ``cell`` column.

    Assignment is a NARROW row-local argmin over k literal distance
    expressions (the kmeans_lloyd assignment shape): centroids are
    k x dim by construction, so they collect to the driver and inline as
    literals.  The pre-r14 form cross-joined broadcast centroids and
    ranked with a per-row window — ``row_number() OVER (PARTITION BY
    id)`` is a FULL-CORPUS shuffle + sort on the vector id (k x |corpus|
    rows into the exchange) for a decision each row can make locally.
    Ties break to the lowest cell id exactly as the window's
    ORDER BY (d2, cell) did: cells are sorted ascending and
    array_position returns the FIRST index of the min."""
    cents, cell_type = _collect_centroids(centroids, vec_col, cent_id)
    d2s = F.array(*[_d2_literal(vec) for _, vec in cents])
    cells = F.array(*[F.lit(c) for c, _ in cents]).cast(f"array<{cell_type}>")
    return (
        corpus.withColumn("_e", F.col(vec_col).cast("array<double>"))
        .withColumn(
            "cell",
            F.element_at(cells, F.array_position(d2s, F.array_min(d2s)).cast("int")),
        )
        .drop("_e")
    )


def ivf_search(
    indexed: DataFrame, centroids: DataFrame, queries: DataFrame,
    k: int = 5, nprobe: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id", cent_id: str = "label",
) -> DataFrame:
    """ANN search: probe the ``nprobe`` nearest cells per query, exact
    cosine within them.  ``indexed`` = output of :func:`ivf_build`.
    -> (qid, id, sim, rank)"""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qe"))
    # Row-local nprobe-cell selection (r14): build the (d2, cell) struct
    # array from literal centroids, array_sort (struct order = d2 asc,
    # cell asc — exactly the old window's ORDER BY _d2, cell), take the
    # first nprobe.  The pre-r14 form cross-joined broadcast centroids
    # and ranked with a per-query window — an exchange + sort on qid for
    # a per-row decision.  k x dim centroids collect by construction.
    cents, cell_type = _collect_centroids(centroids, vec_col, cent_id)
    d2cells = F.array(
        *[
            F.struct(
                _d2_literal(vec, "qe").alias("d2"),
                F.lit(c).cast(cell_type).alias("cell"),
            )
            for c, vec in cents
        ]
    )
    probes = (
        q.select(
            "qid",
            "qe",
            F.explode(F.slice(F.array_sort(d2cells), 1, nprobe)).alias("_pc"),
        )
        .select("qid", "qe", F.col("_pc.cell").alias("cell"))
    )
    cand = indexed.withColumn("_e", F.col(vec_col).cast("array<double>")).withColumn(
        "_nrm", F.sqrt(F.expr(_DOT.format(a="_e", b="_e")))
    )
    sims = (
        cand.join(F.broadcast(probes), "cell")
        .withColumn("_qn", F.sqrt(F.expr(_DOT.format(a="qe", b="qe"))))
        .select(
            "qid",
            F.col(id_col).alias("id"),
            F.round(
                F.expr(_DOT.format(a="_e", b="qe")) / (F.col("_nrm") * F.col("_qn")), 4
            ).alias("sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "id")
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroid_update(
    assigned: DataFrame, chunk: int, dim: int
) -> list[tuple[int, list[float]]]:
    """One k-means centroid update -> sorted (cell, mean vector) list,
    bit-identical to the exploded-dims ``bounded_ordered_agg`` spelling
    the DuckDB oracles unroll, but shuffling VECTORS instead of
    (cell, dim, id, x) rows (r14, guide §2.3 "shuffle fewer bytes"):
    the old form posexploded every vector into |dim| narrow rows — 4x
    the shuffle bytes (three 8-byte keys per 8-byte value) and |dim|x
    the aggregation groups — for a fold whose per-dimension arithmetic
    is independent anyway.  Here level 1 groups by (cell, id div chunk)
    and folds the id-sorted vectors element-wise (zip_with add, arrays
    bounded at ``chunk`` members); level 2 folds the chunk sums in
    chunk order.  Per dimension both levels perform literally the same
    additions in the same order as the per-(cell, dim, chk) fold —
    0.0 + x_1 + x_2 ... within the chunk, then 0.0 + c_1 + c_2 ... over
    chunks — so every centroid coordinate is bit-identical; the final
    division happens element-wise in the same engine as before."""
    zeros = f"array_repeat(cast(0.0 as double), {dim})"
    vec_fold = (
        "aggregate(transform(array_sort(collect_list(struct({key}, {val}))),"
        " s -> s.{val}), " + zeros + ","
        " (acc, v) -> zip_with(acc, v, (x, y) -> x + y))"
    )
    lvl1 = (
        assigned.withColumn("_chk", F.expr(f"id div {chunk}"))
        .groupBy("cell", "_chk")
        .agg(
            F.expr(vec_fold.format(key="id", val="e")).alias("_csum"),
            F.count("*").alias("_cnt"),
        )
    )
    lvl2 = lvl1.groupBy("cell").agg(
        F.expr(vec_fold.format(key="_chk", val="_csum")).alias("_osum"),
        F.sum("_cnt").alias("_ocnt"),
    )
    rows = lvl2.select(
        "cell",
        F.expr("transform(_osum, x -> x / cast(_ocnt as double))").alias("ce"),
    ).collect()  # <= k rows — small by construction
    return sorted((int(r.cell), [float(x) for x in r.ce]) for r in rows)


def kmeans_lloyd(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 3,
    fold_chunk: int = 4096,
) -> DataFrame:
    """Deterministic Lloyd's k-means — the TRAINING step of the IVF index
    (so :func:`ivf_build`/:func:`ivf_search` search an index that was
    actually trained, not per-label means).  -> (cell, ``vec_col``
    array<double>): the centroids after exactly ``n_iter`` rounds.

    Fully deterministic, no RNG and engine-reproducible:

    - seeds = the vectors of the ``k`` SMALLEST ids (cell label = seed id);
    - assignment ties break to the lowest cell id;
    - every float reduction is a fixed-order IEEE fold: the squared-L2
      distance folds dims left-to-right, and each centroid update sums
      members in id order via the BOUNDED two-level chunked fold
      (functions.bounded_ordered_agg, chunk=``fold_chunk``: per-task
      arrays hold <= fold_chunk doubles instead of a whole cell's
      membership — the round-6 verdict's scale fix; contract: ``id_col``
      holds unique NON-NEGATIVE integers) — one division by the count at
      the end.

    Scale (the connected_components discipline — one action per round):
    centroids are k×dim values BY CONSTRUCTION, so each round collects
    them to the driver and re-broadcasts them as literals.  Assignment is
    then a NARROW row-local argmin over ``k`` literal distance
    expressions — no crossJoin, no shuffle, no per-round join; the only
    shuffle per round is the (cell, dim)-keyed centroid update, whose
    partial sums run map-side.  Rounds are a fixed budget, not a
    convergence loop, so job count is exactly bounded (pinned by
    tests/test_operators_direct.py::test_kmeans_one_job_per_round).
    Cells that lose all members drop out permanently (deterministic in
    both engines)."""
    e = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e")
    )
    seed_rows = e.orderBy("id").limit(k).collect()
    cents: list[tuple[int, list[float]]] = [
        (int(r.id), [float(x) for x in r.e]) for r in seed_rows
    ]
    dim = len(cents[0][1]) if cents else 0

    for _ in range(n_iter):
        # one parsed SQL expression per round instead of k x dim F.lit
        # py4j round trips (r14: the Column-API build cost ~0.7s of pure
        # driver time per round — as much as the round's Spark job);
        # the parsed tree is the identical zip_with/aggregate fold
        d2s = "array(" + ", ".join(_d2_sql(vec, "e") for _, vec in cents) + ")"
        cells = "array(" + ", ".join(f"{c}L" for c, _ in cents) + ")"
        assigned = e.withColumn(
            # array_position returns the FIRST index of the min -> ties
            # break to the lowest cell id (cents is sorted by cell)
            "cell",
            F.expr(
                f"element_at({cells}, "
                f"cast(array_position({d2s}, array_min({d2s})) as int))"
            ),
        )
        # vector-wise chunked update (r14) — bit-identical to the
        # exploded-dims bounded_ordered_agg fold, 1/4 the shuffle bytes
        cents = _centroid_update(assigned, fold_chunk, dim)
    out = corpus.sparkSession.createDataFrame(
        cents, schema=f"cell long, {vec_col} array<double>"
    )
    out._bca_cents = cents  # _collect_centroids fast path (r14)
    return out


def kmeans_minibatch(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 3,
    sample_mod: int = 4,
    fold_chunk: int = 4096,
) -> DataFrame:
    """Deterministic MINI-BATCH k-means — the 100 TB-regime variant of
    :func:`kmeans_lloyd`: each round assigns and averages only the
    ``1/sample_mod`` hash-sampled slice of the corpus, so a round's cost
    is ``|corpus| / sample_mod`` regardless of scale while centroids
    still converge on the full distribution (every row is eligible every
    round under a fresh salt).  -> (cell, ``vec_col`` array<double>).

    Differences from full Lloyd, both deliberate:

    - the round-``r`` batch is the rows where
      ``md5(id || ':mb' || r)``'s first 8 hex digits mod ``sample_mod``
      == 0 — content-stable sampling (the ``hash_bucket`` discipline), NO
      RNG, so both engines and every rerun draw identical batches;
    - a cell with no sampled member this round KEEPS its previous
      centroid (full Lloyd drops empty cells) — under sampling an empty
      batch-cell is routine, not a degenerate cluster.

    Update rule is the plain batch mean (not Sculley's running-rate
    blend): id-ordered BOUNDED two-level IEEE fold / count
    (``fold_chunk`` as in :func:`kmeans_lloyd`), bit-identical
    cross-engine.
    Scale: identical plan shape to kmeans_lloyd — literal-broadcast
    centroids, narrow row-local argmin, one (cell, dim) shuffle per
    round over the SAMPLED slice only."""
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    e = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e")
    )
    seed_rows = e.orderBy("id").limit(k).collect()
    cents: list[tuple[int, list[float]]] = [
        (int(r.id), [float(x) for x in r.e]) for r in seed_rows
    ]
    dim = len(cents[0][1]) if cents else 0

    from byte_convert_avro_spark.functions import hash_bucket

    for r_i in range(n_iter):
        salt = F.concat(F.col("id").cast("string"), F.lit(f":mb{r_i}"))
        batch = e.filter(hash_bucket(salt, sample_mod) == 0)
        # single parsed expression per round — see kmeans_lloyd
        d2s = "array(" + ", ".join(_d2_sql(vec, "e") for _, vec in cents) + ")"
        cells = "array(" + ", ".join(f"{c}L" for c, _ in cents) + ")"
        assigned = batch.withColumn(
            "cell",
            F.expr(
                f"element_at({cells}, "
                f"cast(array_position({d2s}, array_min({d2s})) as int))"
            ),
        )
        # vector-wise chunked update (r14) — bit-identical, see
        # kmeans_lloyd; empty batch-cells keep their previous centroid
        new_cents = dict(_centroid_update(assigned, fold_chunk, dim))
        cents = [
            (cell, new_cents.get(cell, vec)) for cell, vec in cents
        ]
    out = corpus.sparkSession.createDataFrame(
        cents, schema=f"cell long, {vec_col} array<double>"
    )
    out._bca_cents = cents  # _collect_centroids fast path (r14)
    return out


def sign_lsh_buckets(df: DataFrame, vec_col: str = "embedding", n_bits: int = 8) -> DataFrame:
    """Deterministic sign-LSH bucket key: the sign pattern of the first
    ``n_bits`` dimensions (a fixed-hyperplane family — no RNG, so the
    bucket assignment is reproducible across runs/engines).  Vectors whose
    cosine is near 1 agree on most signs, so near-dups collide.
    Adds column ``lsh_bucket`` (string of '0'/'1')."""
    e = F.col(vec_col)
    bits = [
        F.when(F.element_at(e, i + 1) >= 0, "1").otherwise("0") for i in range(n_bits)
    ]
    return df.withColumn("lsh_bucket", F.concat(*bits))


def sign_lsh_banded_candidates(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    n_bands: int = 4, bits_per_band: int = 8,
    max_docs_per_bucket: int | None = None,
) -> DataFrame:
    """Multi-band sign-LSH candidate pairs: band ``b`` buckets on the sign
    pattern of dimensions ``[b*bits_per_band, (b+1)*bits_per_band)``;
    candidates = pairs agreeing on ANY band's full pattern (OR over
    bands).  -> (id_a, id_b, n_bands_matched), id_a < id_b.

    The recall upgrade over :func:`sign_lsh_buckets`: a near-dup pair
    differing in one early-dimension sign is lost by the single-band
    bucketing but recovered by any of the other ``n_bands - 1`` disjoint
    bands (band 0 IS the single-band key, so the candidate set is a
    strict superset).  Still fully deterministic — fixed disjoint
    dimension subsets, no RNG.

    Scale: each vector expands to exactly ``n_bands`` (band, bucket)
    rows; the self-join runs within (band, bucket) — the shuffle key — so
    pair generation is partition-local per bucket and the pair count is
    bounded by Σ|bucket|² across bands, never |corpus|².
    ``max_docs_per_bucket`` (default None) drops oversized buckets
    before the join — the round-8 LSH enumeration bound; sign-LSH is
    probabilistic already, so the cap only re-shapes recall (a dense
    sign-pattern cluster larger than the cap is the embedding analogue
    of boilerplate)."""
    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("e"))
    band_keys = [
        F.concat(
            *[
                F.when(F.element_at(F.col("e"), b * bits_per_band + i + 1) >= 0, "1")
                .otherwise("0")
                for i in range(bits_per_band)
            ]
        )
        for b in range(n_bands)
    ]
    keyed = e.select(
        "id", F.posexplode(F.array(*band_keys)).alias("band", "bucket")
    )
    if max_docs_per_bucket is not None:
        if max_docs_per_bucket < 2:
            raise ValueError(
                f"max_docs_per_bucket must be >= 2, got {max_docs_per_bucket}"
            )
        ok = (
            keyed.groupBy("band", "bucket")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") <= max_docs_per_bucket)
            .select("band", "bucket")
        )
        keyed = keyed.join(ok, ["band", "bucket"])
    a = keyed.select(F.col("id").alias("id_a"), "band", "bucket")
    b2 = keyed.select(
        F.col("id").alias("id_b"), F.col("band").alias("band2"), F.col("bucket").alias("bucket2")
    )
    return (
        a.join(
            b2,
            (a.band == b2.band2) & (a.bucket == b2.bucket2) & (a.id_a < b2.id_b),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands_matched"))
    )


def pca_power_top_component(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iter: int = 3,
    fold_chunk: int = 4096,
) -> DataFrame:
    """Deterministic MATRIX-FREE power iteration for the TOP PRINCIPAL
    COMPONENT of the (mean-centered) embedding corpus — the dimension-
    reduction / index-rotation primitive next to the kmeans trainers.
    -> (dim 1..64, loading): the unit-norm direction after exactly
    ``n_iter`` iterations from the fixed start ``v0 = 1/8`` (unit norm
    over 64 dims).

    Never materializes the 64x64 covariance: each round computes
    ``s_n = (x_n - mu) . v`` row-locally (a 64-element fold, bounded by
    construction) and then ``y_j = sum_n (x_nj - mu_j) * s_n`` with the
    BOUNDED two-level ordered fold (functions.bounded_ordered_agg,
    chunk=``fold_chunk``) — so per-round cost is one |corpus| x 64
    explode + one (dim, chunk)-keyed shuffle, the same shape at any
    corpus size.  The centering means come from the same bounded fold.

    Iterative-job discipline (kmeans/CC/BPE): one 64-value driver
    collect per round; the normalization (sum of squares in dim order,
    correctly-rounded sqrt, one IEEE division per dim) runs driver-side
    with the exact float semantics the DuckDB oracle spells, so every
    loading is bit-identical cross-engine.  Convergence after 3 rounds
    is approximate BY DESIGN (fixed budget, exact job count) — callers
    wanting tighter convergence raise ``n_iter``; determinism is
    unaffected."""
    from byte_convert_avro_spark.functions import bounded_ordered_agg

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("pca_power_top_component: corpus is empty")
    dim_n = len(first[0])
    e = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e")
    )
    dims0 = e.select("id", F.posexplode("e").alias("dim0", "x")).select(
        "id", (F.col("dim0") + 1).alias("dim"), "x"
    )
    mu_rows = (
        bounded_ordered_agg(dims0, ["dim"], "id", "x", chunk=fold_chunk)
        .select("dim", (F.col("osum") / F.col("ocnt")).alias("m"))
        .collect()
    )
    mu = [m for _, m in sorted((int(r.dim), float(r.m)) for r in mu_rows)]
    v = [1.0 / 8.0] * dim_n

    for _ in range(n_iter):
        # parsed literal arrays (one py4j call each, not |dim| — r14 fix)
        mulit = F.expr("array(" + ", ".join(_dbl_lit(x) for x in mu) + ")")
        vlit = F.expr("array(" + ", ".join(_dbl_lit(x) for x in v) + ")")
        centered = F.zip_with("e", mulit, lambda x, m: x - m)
        s = F.aggregate(
            F.zip_with(centered, vlit, lambda x, w: x * w),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        rows = e.select("id", centered.alias("c"), s.alias("s"))
        prods = rows.select(
            "id", F.posexplode("c").alias("dim0", "xc"), "s"
        ).select(
            (F.col("dim0") + 1).alias("dim"), "id", (F.col("xc") * F.col("s")).alias("p")
        )
        y_rows = (
            bounded_ordered_agg(prods, ["dim"], "id", "p", chunk=fold_chunk)
            .select("dim", "osum")
            .collect()
        )
        y = [val for _, val in sorted((int(r.dim), float(r.osum)) for r in y_rows)]
        total = 0.0
        for yj in y:  # dim order — matches list_reduce(list(y*y ORDER BY dim))
            total += yj * yj
        nrm = math.sqrt(total)
        if nrm == 0.0:
            # zero variance along v (all vectors equal the mean, or the
            # corpus is exactly orthogonal to the start direction): no
            # principal direction exists to normalize toward — raise a
            # typed error instead of ZeroDivisionError mid-iteration
            raise ValueError(
                "pca_power_top_component: centered corpus has zero "
                "variance along the iteration direction"
            )
        v = [yj / nrm for yj in y]

    return corpus.sparkSession.createDataFrame(
        [(i + 1, v[i]) for i in range(dim_n)], "dim int, loading double"
    )


def pca_power_two_components(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iter: int = 3,
    fold_chunk: int = 4096,
) -> DataFrame:
    """TOP TWO principal components by power iteration WITH DEFLATION —
    extends :func:`pca_power_top_component`: component 1 is the same
    ``n_iter``-round iteration; component 2 re-runs it on the DEFLATED
    rows ``c' = c - (c·v1)·v1`` (the projection removed row-locally from
    literal arrays — still matrix-free, still every fold bounded).
    -> (component 1|2, dim 1..64, loading).

    Determinism: the deflation arithmetic is the exact expression
    ``(x_i - mu_i) - t·v1_i`` with ``t`` from the same dim-ordered fold
    both engines spell, so every second-component loading is
    bit-identical cross-engine like the first.  Orthogonality to v1 is
    exact only in exact arithmetic; in floats it holds to rounding —
    callers can re-project if they iterate further.  Cost: exactly the
    first component's per-round plan twice (+ one extra row-local fold
    for ``t``)."""
    from byte_convert_avro_spark.functions import bounded_ordered_agg

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("pca_power_two_components: corpus is empty")
    dim_n = len(first[0])
    e = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e")
    )
    dims0 = e.select("id", F.posexplode("e").alias("dim0", "x")).select(
        "id", (F.col("dim0") + 1).alias("dim"), "x"
    )
    mu_rows = (
        bounded_ordered_agg(dims0, ["dim"], "id", "x", chunk=fold_chunk)
        .select("dim", (F.col("osum") / F.col("ocnt")).alias("m"))
        .collect()
    )
    mu = [m for _, m in sorted((int(r.dim), float(r.m)) for r in mu_rows)]
    # parsed literal arrays (one py4j call each, not |dim| — r14 fix)
    mulit = F.expr("array(" + ", ".join(_dbl_lit(x) for x in mu) + ")")

    def iterate(project_out: list[float] | None) -> list[float]:
        v = [1.0 / 8.0] * dim_n
        for _ in range(n_iter):
            vlit = F.expr("array(" + ", ".join(_dbl_lit(x) for x in v) + ")")
            centered = F.zip_with("e", mulit, lambda x, m: x - m)
            if project_out is not None:
                plit = F.expr(
                    "array(" + ", ".join(_dbl_lit(x) for x in project_out) + ")"
                )
                tproj = F.aggregate(
                    F.zip_with(centered, plit, lambda x, w: x * w),
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x,
                )
                # materialize the projection scalar as its own column so
                # the deflation lambda reads it once per ROW, not once
                # per array element
                base = e.select("id", centered.alias("c0"), tproj.alias("t"))
                cexpr = F.zip_with(
                    "c0", plit, lambda c, w: c - F.col("t") * w
                )
            else:
                base = e.select("id", centered.alias("c0"))
                cexpr = F.col("c0")
            s = F.aggregate(
                F.zip_with(cexpr, vlit, lambda x, w: x * w),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            rows = base.select("id", cexpr.alias("c"), s.alias("s"))
            prods = rows.select(
                "id", F.posexplode("c").alias("dim0", "xc"), "s"
            ).select(
                (F.col("dim0") + 1).alias("dim"), "id",
                (F.col("xc") * F.col("s")).alias("p"),
            )
            y_rows = (
                bounded_ordered_agg(prods, ["dim"], "id", "p", chunk=fold_chunk)
                .select("dim", "osum")
                .collect()
            )
            y = [val for _, val in sorted((int(r.dim), float(r.osum)) for r in y_rows)]
            total = 0.0
            for yj in y:
                total += yj * yj
            nrm = math.sqrt(total)
            if nrm == 0.0:
                raise ValueError(
                    "pca_power_two_components: zero variance along the "
                    "iteration direction"
                )
            v = [yj / nrm for yj in y]
        return v

    v1 = iterate(None)
    v2 = iterate(v1)
    rows = [(1, i + 1, v1[i]) for i in range(dim_n)] + [
        (2, i + 1, v2[i]) for i in range(dim_n)
    ]
    return corpus.sparkSession.createDataFrame(
        rows, "component int, dim int, loading double"
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the vector-COMPRESSION rung of the ANN
# family: split each D-dim vector into m subvectors, k-means each
# subspace independently, store one small code per subspace.  A vector
# becomes m log2(k)-bit codes; query distance is approximated by summing
# per-subspace query->codeword distances (ADC).  At 100 TB this is what
# makes billion-vector search RAM-resident: the corpus shrinks ~D*4 /
# (m*ceil(log2 k)/8) bytes per vector, and search never touches raw
# vectors — only the m-entry lookup tables, broadcast-sized.
#
# Engine determinism: training reuses kmeans_lloyd per subspace (fixed
# seeds, fixed-order IEEE folds, lowest-cell tie-break), encoding is the
# same literal-argmin spelling as assignment, and ADC sums the m partial
# distances in subspace order — every float is a fixed-order fold, so
# codebooks, codes AND estimated distances gate bit-exactly vs a DuckDB
# unroll.


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    fold_chunk: int = 128,
) -> DataFrame:
    """Train per-subspace codebooks -> (sub, cell, ce array<double>).

    Subspace ``s`` covers dims [s*D/m+1 .. (s+1)*D/m]; each is trained
    with :func:`kmeans_lloyd` (seeds = the k smallest ids' subvectors,
    so cell labels are the same id set in every subspace).  Driver
    state: m * k * (D/m) floats — the codebook, broadcast-sized by
    construction.  D must divide evenly by m (raises otherwise)."""
    first = corpus.select(vec_col).first()
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    out = None
    for s in range(m):
        sub = corpus.select(
            id_col,
            F.slice(
                F.col(vec_col).cast("array<double>"), s * sub_d + 1, sub_d
            ).alias(vec_col),
        )
        c = kmeans_lloyd(
            sub, vec_col, id_col, k=k, n_iter=n_iter, fold_chunk=fold_chunk
        ).select(F.lit(s).alias("sub"), "cell", F.col(vec_col).alias("ce"))
        out = c if out is None else out.unionByName(c)
    return out


def _sub_d2(sliced: Column, vec: list[float]) -> Column:
    """Fixed-order squared-L2 between an array Column and a literal
    vector (the kmeans_lloyd distance spelling).  The literal array is
    one parsed expression (not |dim| F.lit py4j calls — the r14 fix)."""
    return F.aggregate(
        F.zip_with(
            sliced,
            F.expr("array(" + ", ".join(_dbl_lit(v) for v in vec) + ")"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def pq_encode(
    corpus: DataFrame,
    codebook: list[tuple[int, int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector -> (id, code_0..code_{m-1}) where code_s is
    the nearest codeword's cell id in subspace s (ties to lowest cell —
    the kmeans assignment rule).  ``codebook`` is the COLLECTED
    pq_train output (m*k rows — bounded by construction); encoding is a
    narrow row-local argmin over m*k literal expressions, no join, no
    shuffle."""
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for sub, cell, ce in codebook:
        by_sub.setdefault(int(sub), []).append((int(cell), [float(x) for x in ce]))
    m = len(by_sub)
    sub_d = len(next(iter(by_sub.values()))[0][1])
    cols = []
    for s in range(m):
        cents = sorted(by_sub[s])
        # one parsed SQL expression per subspace instead of k x sub_d
        # F.lit py4j round trips (the kmeans_lloyd r14 fix) — the parsed
        # tree is the identical slice/zip_with/aggregate fold
        sliced = f"slice(cast({vec_col} as array<double>), {s * sub_d + 1}, {sub_d})"
        d2s = "array(" + ", ".join(_d2_sql(vec, sliced) for _, vec in cents) + ")"
        cells = "array(" + ", ".join(f"{c}L" for c, _ in cents) + ")"
        cols.append(
            F.expr(
                f"element_at({cells}, "
                f"cast(array_position({d2s}, array_min({d2s})) as int))"
            ).alias(f"code_{s}")
        )
    return corpus.select(F.col(id_col).alias("id"), *cols)


def pq_adc_estimates(
    codes: DataFrame, codebook: list[tuple[int, int, list[float]]],
    query: list[float],
) -> DataFrame:
    """Asymmetric-distance estimates: est_d2(v) = sum_s
    d2(query_s, codeword[s][code_s]), summed in subspace order (fixed
    IEEE fold).  Partial distances are computed ONCE driver-side from
    the collected codebook (same left-to-right fold as the engines) and
    applied as literal map lookups — per row the whole estimate is m
    map lookups and m-1 additions, no join."""
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for sub, cell, ce in codebook:
        by_sub.setdefault(int(sub), []).append((int(cell), [float(x) for x in ce]))
    m = len(by_sub)
    sub_d = len(next(iter(by_sub.values()))[0][1])
    est = None
    for s in range(m):
        q_s = query[s * sub_d : (s + 1) * sub_d]
        pairs = []
        for cell, vec in sorted(by_sub[s]):
            acc = 0.0
            for a, b in zip(q_s, vec):
                acc += (a - b) * (a - b)
            pairs += [F.lit(cell), F.lit(acc)]
        term = F.element_at(F.create_map(*pairs), F.col(f"code_{s}"))
        est = term if est is None else est + term
    return codes.withColumn("est_d2", est)
