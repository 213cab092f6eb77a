"""Graph operators beyond connected components (``dedup.py``):

- :func:`pagerank_fixed_rounds` — deterministic fixed-round PageRank
- :func:`triangle_count`, :func:`triangle_counts_per_node`,
  :func:`triangle_support_per_edge` — degree-oriented triangle counting
  (whole graph, per node, per edge)
- :func:`walk_to_root` — parent-pointer hierarchy walk
- :func:`bfs_min_hops` — bounded min-hop reachability
- :func:`bellman_ford_rounds` — bounded weighted shortest paths
- :func:`neighborhood_kmv` — per-node KMV neighborhood sketches
- :func:`label_propagation_rounds` — synchronous label propagation
- :func:`k_core_peel` — fixed-round k-core peeling

Three helpers hold the recurring idioms: :func:`both_directions` (each
edge in both orientations from one evaluation of its subtree, also used
by ``dedup.py`` and the query modules), :func:`endpoints` (both endpoints
of each edge as one column, the node set after ``distinct``) and
:func:`_oriented_adjacency` (the triangle operators' degree-oriented
adjacency).

The iterative-job discipline matches ``connected_components`` and
``kmeans_lloyd``: one shuffle-join + one grouped fold per round, lineage
truncated every round, rounds a FIXED budget (so the job count is exact
and the oracle can unroll the same rounds as a CTE chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from byte_convert_avro_spark.functions import (
    bounded_ordered_agg as _bounded_ordered_agg,
    md5_long,
    ordered_fold as _ordered_fold,
)
from byte_convert_avro_spark.plans.stats_reset import reset_plan_stats


def both_directions(
    df: DataFrame,
    a: str,
    b: str,
    *carry: str,
    names: tuple[str, str] | None = None,
) -> DataFrame:
    """Each row of ``df`` twice, as ``(a, b)`` and as ``(b, a)``, each
    followed by the ``carry`` columns unchanged -> columns ``names``
    (default ``(a, b)``), then ``carry``.  The symmetric closure of a
    pair list; filters, ``distinct`` and checkpoints stay with the
    caller.

    One row-local explode of a two-struct array, NOT a union with the
    swapped self: a union's two branches each re-evaluate ``df``'s whole
    subtree (for LSH candidates the shingle + minhash + band-join
    pipeline, for the co-purchase graph the lineitem self-join) —
    measured 2x the caller's cost at sf0.1 (r14).  The explode reads
    every input row once.  Carry columns sit outside the struct, so
    only the two swapped keys are packed and unpacked."""
    na, nb = names or (a, b)
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(na), F.col(b).alias(nb)),
                F.struct(F.col(b).alias(na), F.col(a).alias(nb)),
            )
        ).alias("_dir"),
        *carry,
    ).select(F.col("_dir")[na].alias(na), F.col("_dir")[nb].alias(nb), *carry)


def endpoints(edges: DataFrame, a: str, b: str, name: str) -> DataFrame:
    """Both endpoints of every edge as one column ``name``: one row per
    (edge, end), so ``.distinct()`` gives the node set and
    ``.groupBy(name)`` the degrees.  One row-local explode, NOT a union
    of the two projections: a union's branches each re-evaluate
    ``edges``' whole subtree (for the co-purchase graph the lineitem
    self-join); the explode emits both ends from ONE evaluation, and the
    row multiset is the same."""
    return edges.select(F.explode(F.array(F.col(a), F.col(b))).alias(name))


def _oriented_adjacency(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The degree-oriented adjacency the triangle operators share ->
    ``(e, deg, closed)``:

    - ``e`` (a, b): the canonical edge set, ``a < b``, self-loops and
      duplicates dropped, eagerly ``localCheckpoint``ed;
    - ``deg`` (n, degree): every node's undirected degree;
    - ``closed`` (v, u, nu, nv): every edge oriented u -> v from the
      lower ``(degree, id)`` rank to the higher, with both endpoints'
      out-neighbor arrays.  ``array_intersect(nu, nv)`` is exactly the
      set of third corners w of the triangles whose lowest-rank edge
      is (u, v), so every triangle appears once in ``closed``.

    Inner joins build ``closed``: an endpoint with no out-neighbors
    could only contribute an empty intersection."""
    e = (
        edges.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("degree").alias("db"))
    ranked = e.join(da, "a").join(db, "b")
    # orient low-rank -> high-rank; rank = (degree, id) lexicographic
    lo_first = F.struct("da", "a") < F.struct("db", "b")
    oriented = ranked.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    au = adj.select("u", F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    closed = oriented.join(au, "u").join(av, "v")
    return e, deg, closed


def pagerank_fixed_rounds(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 3,
    damping: float = 0.85,
    fold_chunk: int | None = None,
) -> DataFrame:
    """PageRank after exactly ``n_rounds`` power iterations over a
    directed edge list (pass both directions for an undirected graph —
    that also removes dangling-node rank leakage when every node has an
    out-edge).  -> (v, rank).

    Deterministic and engine-portable: uniform init 1/N, per-round rank
    ``(1-d)/N + d * Σ_{u→v} rank(u)/outdeg(u)`` with the neighbor sum
    folded in SOURCE-ID ORDER (bit-identical across engines; the damping
    constants are computed with the same IEEE ops on both sides).  The
    bit-parity contract requires a DUPLICATE-FREE edge list (call
    ``.distinct()`` first, as ``pagerank_trade_graph`` does): duplicate
    (src, dst) rows double-count correctly, but their equal-src
    contributions have no defined fold order, so cross-engine agreement
    degrades to accumulation-order tolerance.

    Scale: the static ``edges ⋈ outdeg`` frame is built once; each round
    is ONE shuffle join (ranks onto edges by src) + one grouped ordered
    fold on dst + a left join back onto the node set for in-degree-0
    nodes; ``localCheckpoint`` truncates lineage so plans don't grow with
    rounds.

    ``fold_chunk``: bound the per-node fold arrays via the two-level
    chunked fold (functions.bounded_ordered_agg) — REQUIRED at scale,
    where a hub node's in-degree is unbounded (the round-6 verdict's
    finding: the flat fold holds one array per dst).  Needs NON-NEGATIVE
    INTEGER node ids (``pagerank_trade_graph`` encodes customer/supplier
    keys as 2k / 2k+1 for exactly this); ``None`` keeps the flat fold,
    which accepts any orderable id type.  The fold order (and so the last-ulp
    rank values) follows the id ordering of whichever mode is chosen."""
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")

    def ckpt(df: DataFrame) -> DataFrame:
        # PySpark's StorageLevel.MEMORY_AND_DISK is SERIALIZED (unlike the
        # Scala constant of the same name): ~3-5x smaller blocks for
        # wide-integer rows.  On local[32] (driver JVM = the executor) a
        # 12M-edge graph's deserialized checkpoints OOM'd an 8g heap; the
        # serialized ones ran sf10 in 12g where deserialized needed 24g,
        # and faster: 140.8 s vs 272 s (SCALE.md round-8 table).  Values
        # and job counts are the same at any storage level.
        return df.localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK)

    nodes = ckpt(endpoints(edges, src, dst, "v").distinct())
    n = nodes.count()
    outdeg = edges.groupBy(src).agg(F.count("*").alias("_deg"))
    e = ckpt(edges.join(outdeg, src))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_rounds):
        contrib = e.join(
            ranks.select(F.col("v").alias(src), "rank"), src
        ).select(
            F.col(dst).alias("v"),
            F.col(src).alias("_s"),
            (F.col("rank") / F.col("_deg")).alias("_c"),
        )
        if fold_chunk is not None:
            sums = _bounded_ordered_agg(
                contrib, ["v"], "_s", "_c", chunk=fold_chunk
            ).select("v", F.col("osum").alias("_sum"))
        else:
            sums = contrib.groupBy("v").agg(_ordered_fold("_s", "_c").alias("_sum"))
        ranks = ckpt(
            nodes.join(sums, "v", "left")
            .select(
                "v",
                (
                    F.lit(base) + F.lit(damping) * F.coalesce("_sum", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Count triangles in an undirected graph, each exactly once.
    Input is an edge list in any orientation (duplicates and self-loops
    tolerated: edges are canonicalized to ``min < max`` and de-duped).
    -> one row ``(n_nodes, n_edges, n_triangles)``.

    Scale design, two standard tricks composed:

    - **Degree orientation** (bounds work by arboricity, not max
      degree): orient every edge from the endpoint with the smaller
      ``(degree, id)`` rank to the larger, so each node's OUT-degree is
      at most O(sqrt(2m)) no matter how skewed the raw degrees — a hub
      with a million neighbors contributes no million²-wedge blowup
      because almost all of its edges point INTO it.  A triangle
      {x, y, z} with rank x < y < z is counted exactly once: at its
      lowest edge (x→y), where z sits in both out-adjacencies.
    - **Adjacency intersection instead of wedge materialization**:
      ``n_triangles = Σ over oriented edges (u→v) of
      |outadj(u) ∩ outadj(v)|``.  The wedge-join formulation
      materializes and shuffles Σ outdeg² rows — orders of magnitude
      more than the edges; this form builds each node's out-neighbor
      ARRAY once (one groupBy) and closes triangles with a row-local
      ``array_intersect`` per edge (the jaccard-verification
      discipline: ship one array, not N rows).  Measured 4-6x over the
      wedge join on the 1.2M-edge co-purchase graph at local sf0.1.

    Plan shape: one degree aggregation, one adjacency aggregation, two
    joins of the edge list against the adjacency table (both keyed on
    uniform node ids; the big per-edge work is partition-local), one
    global sum.  ``localCheckpoint`` truncates the edge DAG, which
    feeds four branches (measured 2x without).  Deterministic: rank
    ties broken by node id."""
    e, deg, closed = _oriented_adjacency(edges, src, dst)
    tri = closed.select(F.size(F.array_intersect("nu", "nv")).alias("k")).agg(
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_triangles")
    )
    counts = e.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
        deg.agg(F.count("*").cast("long").alias("n_nodes"))
    )
    return counts.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def walk_to_root(
    parents: DataFrame,
    node: str = "node",
    parent: str = "parent",
    max_rounds: int = 16,
) -> DataFrame:
    """Bounded-iteration HIERARCHY WALK: resolve every node of a
    parent-pointer forest to its root, counting the hops — the
    distributed twin of a recursive CTE (``WITH RECURSIVE ... WHERE
    cur -> parent``), which Spark SQL does not support natively.

    ``parents`` holds one row per NON-ROOT node (``node`` -> ``parent``);
    roots are nodes that never appear on the ``node`` side.  Returns one
    row per distinct node appearing anywhere in the forest:
    ``(node, root, depth)`` with ``depth`` = hops to the root (0 for
    roots themselves).

    Algorithm: single-step label propagation — each round left-joins the
    current cursor against the parent map and advances matched cursors
    one level (one shuffle join per round, joined on the cursor).  Rounds
    are bounded by the forest DEPTH, which for real hierarchies (org
    charts, category trees, file systems) is small and bounded by
    construction; ``max_rounds`` is the contract — a typed error raises
    on non-convergence (a cycle, or depth > max_rounds) instead of
    silently emitting partial walks.  For pathological deep chains a
    pointer-doubling variant (squaring the jump table per round, log2
    depth rounds at 2x edge-table size per round) is the escalation
    path; not implemented because the bounded-depth contract covers the
    hierarchy use case this operator targets.

    Scale: per round ONE shuffle join of |nodes| rows against |edges|,
    both keyed on the cursor; converged rows ride along un-matched (no
    driver round-trips except the per-round convergence aggregate, the
    connected_components discipline); no per-group arrays anywhere.
    Cross-engine: all-integer arithmetic when keys are integers — the
    DuckDB oracle spells the literal recursive CTE.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    edges = parents.select(
        F.col(node).alias("__pn"), F.col(parent).alias("__pp")
    )
    nodes = endpoints(parents, node, parent, "n").distinct()
    state = nodes.select("n", F.col("n").alias("cur"), F.lit(0).alias("depth"))
    for _ in range(max_rounds):
        joined = state.join(edges, state["cur"] == edges["__pn"], "left")
        state = joined.select(
            "n",
            F.coalesce("__pp", "cur").alias("cur"),
            (F.col("depth") + F.col("__pn").isNotNull().cast("int")).alias("depth"),
        ).localCheckpoint(eager=False)
        # convergence probe doubles as the checkpoint materialization
        remaining = state.join(edges, state["cur"] == edges["__pn"], "left_semi").count()
        if remaining == 0:
            return state.select("n", F.col("cur").alias("root"), "depth")
    raise RuntimeError(
        f"walk_to_root did not converge in {max_rounds} rounds: "
        f"cycle in the parent map, or depth exceeds the bound"
    )


def bfs_min_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    node: str = "node",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded TRANSITIVE-CLOSURE REACHABILITY: min-hop distance from a
    seed set over a directed edge table, the breadth-first twin of a
    ``WITH RECURSIVE`` reachability CTE (``walk_to_root``'s discipline
    applied to fan-out instead of parent pointers).

    Returns one row per reachable node — the node column carries the
    caller's ``node`` name — with ``hop`` = MINIMUM number of edges from
    any seed (0 for the seeds themselves).
    Exactly ``max_hops`` expansion rounds unless the frontier drains
    first — the bounded-iteration contract; unlike ``walk_to_root``,
    running out of rounds is NOT an error (reachability WITHIN a hop
    budget is the query; the recursive oracle spells the same bound).

    Algorithm: classic frontier BFS — per round ONE shuffle join of the
    current frontier against ``edges`` on the source key, a distinct on
    the successors, and a left-anti against the visited set so a node
    expands exactly ONCE ever (min-hop by construction — a node joins
    the frontier on its first discovery only).  Each round's frontier is
    localCheckpointed (lazily — the convergence count materializes it),
    so lineage depth stays O(1) per round and the visited union is a
    shallow DAG of <= max_hops+1 checkpointed frames.  No per-group
    arrays, no driver data beyond the per-round count.

    Scale: frontier and visited are node-sized, never path-sized — the
    naive UNION ALL closure materializes every PATH (degree^hops rows);
    this walks each node once.  Skewed out-degrees are one join's
    build/probe skew, mitigated by AQE like any join."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    visited = (
        seeds.select(F.col(node).alias("n"))
        .distinct()
        .select("n", F.lit(0).alias("hop"))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("n")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["n"] == e["__s"])
            .select(F.col("__d").alias("n"))
            .distinct()
            .join(visited.select("n"), "n", "left_anti")
            .select("n", F.lit(h).alias("hop"))
            .localCheckpoint(eager=False)
        )
        # convergence probe doubles as the checkpoint materialization
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("n")
    return visited.select(F.col("n").alias(node), "hop")


def bellman_ford_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    node: str = "node",
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Bounded WEIGHTED shortest path: exactly ``rounds`` Bellman-Ford
    relaxation sweeps from a seed set over a directed weighted edge
    table — the weighted twin of :func:`bfs_min_hops` (hops become edge
    weights; MIN over a join replaces frontier set arithmetic).

    Returns one row per node reachable within ``rounds`` edges, with
    ``dist`` = the cheapest total weight over any path of <= ``rounds``
    edges from any seed (0 for seeds; integer weights stay integer —
    fully deterministic, no FP anywhere, so a CTE-chain oracle matches
    bit-for-bit).  Negative weights are legal (this is Bellman-Ford,
    not Dijkstra) but the <=rounds-edges semantics is the contract —
    there is no negative-cycle detection inside a fixed budget.

    Algorithm: per round ONE shuffle join of the current distance frame
    against ``edges`` on the source key, then MIN per destination over
    (previous distances UNION candidate relaxations).  The distance
    frame is node-sized every round (never path-sized — the naive
    closure enumerates degree^rounds paths); each round's result is
    localCheckpointed lazily so lineage stays O(1) per round, with the
    next round's join materializing it.  Unlike BFS there is no
    visited/anti-join: a node's distance can IMPROVE in a later round
    (a cheaper longer path), so every node stays live — the relaxation
    sweep is the classic dynamic program, not a frontier walk.

    Scale: state is |reached nodes| rows of (node, dist); per round one
    equi-join on the edge source + one map-side-partial MIN groupBy.
    Skewed out-degrees are ordinary join skew (AQE territory).  For
    unreachable-heavy graphs the join output is bounded by edges out of
    reached nodes, not |E|."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), F.col(weight).alias("__w")
    )
    dist = (
        seeds.select(F.col(node).alias("n"))
        .distinct()
        .select("n", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        cand = dist.join(e, dist["n"] == e["__s"]).select(
            F.col("__d").alias("n"), (F.col("dist") + F.col("__w")).alias("dist")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("n")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select(F.col("n").alias(node), "dist")


def neighborhood_kmv(
    edges: DataFrame,
    k: int,
    rounds: int,
    node: str = "node",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """NEIGHBORHOOD FUNCTION via per-node KMV sketches — the
    HyperANF/HyperBall idea (Boldi-Rosa-Vigna) with the engine's
    deterministic KMV sketch in place of HyperLogLog registers: every
    node carries a bottom-k sketch of the node ids it has seen, and one
    round replaces each sketch with the bottom-k of its own union with
    all neighbors' sketches.  After r rounds a node's sketch is EXACTLY
    the bottom-k of the md5 hashes of its r-hop neighborhood (bottom-k
    of a union is computable from the parts' bottom-k's — the same
    mergeability every KMV query leans on), so "how many nodes are
    within r hops of v" is estimable for EVERY v at once in k-bounded
    state per node — where the exact answer needs the (node, reached)
    PAIR frame, which is the quadratic blowup this operator exists to
    avoid at scale (the oracle-gated query carries the exact columns
    anyway, as gate-side verification at toy scale).

    Returns (radius, ``node``, k_used, kth) for radius 1..``rounds``:
    ``k_used`` = sketch size (= exact neighborhood cardinality in HASH
    space while < k), ``kth`` = largest retained hash — the caller
    applies the standard (k-1)*2^32/kth estimator.  Hashing is the
    module-wide md5-prefix 32-bit convention, and the sketch dedups BY
    HASH (a 32-bit collision between two reachable ids counts once —
    the documented KMV semantics; oracles must DISTINCT the hash too).

    Per round: ONE shuffle join flowing each node's sketch rows to its
    neighbors (|E|*k rows — pass BOTH directions for an undirected
    graph), then the kmv_grouped one-window bottom-k (lag-first dedup +
    dense_rank <= k: one spillable sort, zero aggregate buffers).
    State is <= k rows per node per round, localCheckpointed so lineage
    stays O(1).  Skew: a hub node RECEIVES deg*k rows — bounded by the
    window's streaming sort (no per-group array), the same profile the
    skew study measured for sessionization."""
    from pyspark.sql import Window as W

    if k < 2:
        raise ValueError(f"neighborhood_kmv needs k >= 2, got {k}")
    if rounds < 1:
        raise ValueError(f"neighborhood_kmv needs rounds >= 1, got {rounds}")
    # the edge frame is read once per ROUND (the sketch-flow join) plus
    # once for the node set — without a checkpoint every one of those
    # reads re-evaluates the CALLER's edge subtree (for the trade graph
    # that is the orders⋈lineitem join + distinct: r+1 full evaluations
    # per query, the last multi-eval-per-round pattern left after r14).
    # The lazily checkpointed frame is |E| rows of two keys — the CC
    # edge-persist discipline (§5): materialize once, replay r+1 times.
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d")
    ).localCheckpoint(eager=False)
    nodes = endpoints(e, "__s", "__d", "__n").distinct()
    sketch = nodes.select("__n", md5_long("__n").alias("__hv")).localCheckpoint(
        eager=False
    )
    w = W.partitionBy("__n").orderBy("__hv")
    prev = F.lag("__hv").over(w)
    out = None
    for r in range(1, rounds + 1):
        incoming = sketch.join(e, sketch["__n"] == e["__s"]).select(
            F.col("__d").alias("__n"), "__hv"
        )
        sketch = (
            sketch.unionByName(incoming)
            .withColumn("__first", prev.isNull() | (prev != F.col("__hv")))
            .withColumn("__dr", F.dense_rank().over(w))
            .filter(F.col("__first") & (F.col("__dr") <= k))
            .select("__n", "__hv")
            .localCheckpoint(eager=False)
        )
        snap = sketch.groupBy("__n").agg(
            F.count("*").cast("long").alias("k_used"),
            F.max("__hv").cast("long").alias("kth"),
        ).select(F.lit(r).cast("int").alias("radius"), F.col("__n").alias(node), "k_used", "kth")
        out = snap if out is None else out.unionByName(snap)
    return out


def label_propagation_rounds(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SYNCHRONOUS LABEL PROPAGATION community detection, fixed rounds —
    the modularity-free community member of the graph family (connected
    components finds *reachability* classes; LPA finds *densely linked*
    ones, splitting a connected graph along its sparse cuts).

    ``edges`` holds each undirected edge once in either direction — the
    symmetric closure and pair dedup happen inside (LPA is inherently
    undirected; multi-edges would silently weight votes, so they are
    removed).  Every node starts labeled with its own id; each round
    every node adopts the label carried by the MOST of its neighbors,
    ties broken toward the SMALLEST label — the tie rule that makes
    classic LPA (randomized in the literature) fully deterministic and
    therefore oracle-checkable; a fixed round budget replaces the
    convergence test (the bounded-iteration contract shared by
    pagerank/k-core/BFS).  Returns (node, label) after exactly
    ``rounds`` synchronous sweeps.

    Per round: ONE shuffle join flowing labels across edges, one
    (node, label) count, one per-node integer argmax via max(struct) —
    no arrays, no driver state; label frames are node-sized and
    localCheckpointed so lineage stays O(1) per round.  Hub nodes
    receive deg rows into a streaming count — ordinary agg skew."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = (
        both_directions(edges, src, dst, names=("__a", "__b"))
        .filter(F.col("__a") != F.col("__b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("__a").alias("__n"))
        .distinct()
        .select("__n", F.col("__n").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        votes = (
            labels.join(und, labels["__n"] == und["__a"])
            .select(F.col("__b").alias("__n"), "lbl")
            .groupBy("__n", "lbl")
            .agg(F.count("*").alias("__c"))
        )
        best = F.max(
            F.struct(F.col("__c").alias("c"), (-F.col("lbl")).alias("nl"))
        ).alias("__m")
        labels = (
            votes.groupBy("__n")
            .agg(best)
            .select("__n", (-F.col("__m.nl")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("__n").alias("node"), "lbl")


def k_core_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round K-CORE PEELING: iteratively remove nodes of degree
    < k from an undirected graph, reporting the graph's size after each
    peel — the classic core-decomposition step used to find dense
    engagement/co-purchase cores.

    ``edges`` holds each undirected edge ONCE (src < dst convention not
    required — the symmetric closure and dedup happen inside).  Returns
    (round, n_nodes, n_edges) for rounds 0..``rounds``: round 0 is the
    input graph, round r the graph after r peels.  FIXED round budget
    (the pagerank/kmeans contract — the job count is exact and an
    oracle can unroll the same rounds as a CTE chain); true k-core
    needs peeling to a fixed point, so callers check the last two
    rounds for equality if they need the converged core.

    Scale: per round ONE degree aggregation + two semi-joins on the
    (node)-keyed symmetric edge frame, lineage truncated by a lazy
    localCheckpoint per round; state is edge-sized, no per-group
    arrays.  Stats rows are 1-row aggregates unioned into one frame —
    no driver collects.  The round stats DERIVE from the degree frame
    each peel needs anyway (n_nodes = |deg rows|, n_edges = Σdeg / 2 —
    every symmetric edge row contributes 1 to exactly one node's
    degree), so no round ever re-aggregates the edge frame just for
    counting; that countDistinct-over-edges spelling was measured ~40%
    slower at sf0.1 (round-10 log)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    und = (
        both_directions(edges, src, dst, names=("a", "b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def degrees(frame: DataFrame) -> DataFrame:
        # node-sized; checkpointed so the stats row and the next peel
        # share ONE computation of it
        return (
            frame.groupBy("a")
            .agg(F.count("*").alias("_deg"))
            .localCheckpoint(eager=False)
        )

    stats = []
    cur = und
    deg = degrees(cur)
    for r in range(rounds + 1):
        stats.append(
            deg.agg(
                F.count("*").cast("long").alias("n_nodes"),
                (F.coalesce(F.sum("_deg"), F.lit(0)) / 2)
                .cast("long")
                .alias("n_edges"),
            ).select(F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges")
        )
        if r == rounds:
            break
        keep = deg.filter(F.col("_deg") >= k).select("a")
        # reset_plan_stats: cur is joined against TWO cur-derived frames,
        # so the checkpoint-preserved size estimate would TRIPLE in bit-
        # length every peel (the connected-components BigInteger lesson,
        # plans/stats_reset.py) — harmless at the gated rounds=6, driver-
        # melting at a user's rounds=20.
        cur = reset_plan_stats(
            cur.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        deg = degrees(cur)
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def triangle_counts_per_node(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts in an undirected graph -> one row per
    node ``(n, degree, triangles)`` (nodes in no triangle included with
    0) — the raw material of the local clustering coefficient.

    Same scale design as :func:`triangle_count` (degree orientation
    bounds out-degrees by O(sqrt(2m)); adjacency-array intersection
    closes wedges row-locally), with one change: instead of summing
    intersection SIZES, each intersection member w of oriented edge
    (u, v) is exploded and the triangle {u, v, w} credited to ALL THREE
    corners.  The explode is OUTPUT-bounded (3 rows per triangle),
    so per-node attribution costs exactly what the triangles weigh —
    never what the wedges would."""
    _, deg, closed = _oriented_adjacency(edges, src, dst)
    tri = closed.select(
        "u", "v", F.explode(F.array_intersect("nu", "nv")).alias("w")
    )
    corners = (
        tri.select(F.col("u").alias("n"))
        .unionAll(tri.select(F.col("v").alias("n")))
        .unionAll(tri.select(F.col("w").alias("n")))
    )
    tcnt = corners.groupBy("n").agg(
        F.count("*").cast("long").alias("triangles")
    )
    return deg.join(tcnt, "n", "left").select(
        "n",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )


def triangle_support_per_edge(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-EDGE triangle support in an undirected graph -> one row per
    canonical edge ``(a, b, support)`` with support = number of
    triangles containing that edge (edges in no triangle included with
    0) — the raw material of k-truss peeling (an edge is in the
    k-truss only if support >= k-2), the EDGE-level companion of
    :func:`triangle_counts_per_node`.

    Same scale design (degree orientation bounds out-degrees by
    O(sqrt(2m)); adjacency-array intersection closes wedges
    row-locally; the explode is OUTPUT-bounded at 3 rows per
    triangle): each intersection member w of oriented edge (u, v)
    yields triangle {u, v, w}, credited to its three CANONICAL
    (min, max) edges."""
    e, _, closed = _oriented_adjacency(edges, src, dst)
    tri = closed.select(
        "u", "v", F.explode(F.array_intersect("nu", "nv")).alias("w")
    )
    sides = (
        tri.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .unionAll(
            tri.select(
                F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")
            )
        )
        .unionAll(
            tri.select(
                F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")
            )
        )
    )
    sup = sides.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("support")
    )
    return e.join(sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )
