"""Deterministic Bloom filter as a DataFrame sketch.

The shuffle-thinning primitive: build a bit array over a (small-ish) key
set, broadcast its ~m/64 words, and pre-filter a huge probe side BEFORE
the expensive join/shuffle — the classic runtime-filter pattern Spark
applies internally (`spark.sql.optimizer.runtimeFilter.bloomFilter`),
exposed here as an explicit, ENGINE-PORTABLE operator: all hashing is
md5 substring arithmetic and all bit math is integer shift/or, so a SQL
twin computes the byte-identical filter and the false-positive set is
deterministic — a Bloom filter that can sit under a value-hash oracle
gate (the built-in bloom_filter_agg never could: its hash seed and
serialized form are engine-private).

Scale: the build is one explode(k) + one 64-words groupBy (map-side
partial OR); the words table is m/64 rows — broadcast by construction.
Probing is a narrow per-row k-bit check after a broadcast join; nothing
shuffles on the probe side.  False-positive rate ~ (1 - e^(-kn/m))^k:
size m to the build side (m >= ~10 bits/key for ~1% at k=3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from byte_convert_avro_spark.functions import md5_long


def _bloom_pos(col: Column, i: int, m_bits: int) -> Column:
    """Hash i of the key -> bit position in [0, m_bits): first 8 md5 hex
    digits of ``key || ':bf' || i`` (``functions.md5_long`` —
    content-stable, engine-portable)."""
    return md5_long(F.concat(col.cast("string"), F.lit(f":bf{i}"))) % m_bits


def bloom_build(
    df: DataFrame, key: str, m_bits: int = 4096, k: int = 3
) -> DataFrame:
    """Build the filter over ``df[key]`` -> (word_idx, word),
    ``ceil(m_bits/63)`` rows: word ``w`` holds bits ``[63w, 63w+63)`` in
    the LOW 63 bits of a BIGINT.  63-bit words, not 64, deliberately:
    the sign bit stays clear so no engine ever evaluates ``1 << 63``
    (DuckDB raises on the signed overflow) and every word compares as a
    plain positive integer cross-engine."""
    if m_bits <= 0:
        raise ValueError(f"m_bits must be positive, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    c = F.col(key)
    pos = F.explode(F.array(*[_bloom_pos(c, i, m_bits) for i in range(k)]))
    bits = df.select(pos.alias("p")).select(
        (F.col("p") / 63).cast("long").alias("word_idx"),
        # shiftleft by a COLUMN needs the SQL form (the python helper
        # only takes a literal shift amount)
        F.expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))").alias("b"),
    )
    return bits.groupBy("word_idx").agg(F.bit_or("b").alias("word"))


def bloom_probe(
    probe: DataFrame, words: DataFrame, key: str, m_bits: int = 4096, k: int = 3
) -> DataFrame:
    """Append boolean ``bloom_maybe`` to ``probe``: True iff all ``k``
    bit positions of ``probe[key]`` are set (definitely-absent keys get
    False — the rows a pre-filter drops before the real join).

    TRULY shuffle-free on the probe side: each of the ``k`` hash checks
    is a narrow column pair (word index, bit) resolved by a BROADCAST
    join against the tiny words table — no explode, no per-key
    re-aggregation; the probe relation passes through ``k`` broadcast
    hash joins and one AND.  (The explode + groupBy(key) formulation
    re-shuffles the whole probe side on the key — the exact cost the
    filter exists to avoid.)"""
    c = F.col(key)
    out = probe
    checks = []
    for i in range(k):
        p = _bloom_pos(c, i, m_bits)
        wi = f"_bf_w{i}"
        out = out.withColumn(wi, (p / 63).cast("long")).withColumn(
            f"_bf_b{i}", (p % 63).cast("int")
        )
        wtab = words.select(
            F.col("word_idx").alias(wi), F.col("word").alias(f"_bf_word{i}")
        )
        out = out.join(F.broadcast(wtab), wi, "left")
        # & 1, not % 2: arithmetic shift keeps the sign for high bits and
        # Spark's % returns negative remainders
        checks.append(
            F.expr(
                f"(shiftright(coalesce(_bf_word{i}, cast(0 as bigint)), _bf_b{i})"
                f" & 1) = 1"
            )
        )
    maybe = checks[0]
    for ch in checks[1:]:
        maybe = maybe & ch
    keep = [col for col in out.columns if not col.startswith("_bf_")]
    # NULL keys hash to NULL positions -> NULL checks; the contract is
    # BOOLEAN (a NULL key is definitely not a member)
    return out.select(*keep, F.coalesce(maybe, F.lit(False)).alias("bloom_maybe"))


def kmv_grouped(
    df: DataFrame,
    keys: list[str],
    value: str,
    k: int = 32,
    chunks: int = 64,
) -> DataFrame:
    """GROUPED K-minimum-values sketch WITHOUT the per-group job loop —
    per group-key, the ``k`` smallest distinct 32-bit value hashes, in
    ONE shuffle of the data (plus one k-bounded merge), at ANY group
    cardinality.

    The scale problem it solves: Spark has TakeOrdered for one global
    ORDER BY LIMIT but no per-key bounded top-k aggregate — the
    enumerable-group form (``kmv_distinct_users_by_type``) collects the
    group list and runs |groups| driver-planned jobs, which is wrong for
    per-user-segment sketches at real cardinality, and the naive
    ``collect_list`` per key is a group-sized reducer array on skewed
    keys (the inverted-index hazard class).

    The chunked min-k plan, all streaming operators:

    1. hash the value to a uniform 32-bit ``hv`` (md5-prefix — the
       engine-portable ``hash_bucket`` discipline) and chunk each row by
       ``pmod(xxhash64(hv), chunks)`` — equal values ALWAYS share a
       chunk, and chunk sizes are uniform within every key because hv is
       itself uniform, so a stop-key cannot create a sort hotspot;
    2. one window over ``(keys..., chunk) ORDER BY hv``: ``lag`` flags
       the first occurrence of each distinct hv and ``dense_rank`` (which
       counts distinct values) bounds it — ``first AND dense_rank <= k``
       emits exactly min(k, chunk-distinct) rows per chunk.  Both are
       running-frame functions: ONE spillable sort, ZERO aggregate
       buffers, duplicates never collected;
    3. merge: groupBy(keys) over <= chunks*k candidate rows per key —
       the union of per-chunk min-k provably contains the global min-k
       (any of the k smallest distinct values is among its own chunk's k
       smallest), so sort+slice is exact; the merge buffer is bounded at
       chunks*k by construction.

    Output per key: ``k_used`` (= min(k, exact distinct count)),
    ``kth`` (largest retained hash), ``distinct_est`` (exact k_used
    below k, else the unbiased (k-1)*2^32/kth).  NULL values are
    excluded (a NULL is not a member).  The chunking is invisible in
    the result — oracles spell the direct rank filter."""
    if k < 2:
        raise ValueError(f"kmv_grouped needs k >= 2, got {k}")
    if chunks < 1:
        raise ValueError(f"kmv_grouped needs chunks >= 1, got {chunks}")
    from pyspark.sql import Window as W

    hv = md5_long(value)
    base = (
        df.filter(F.col(value).isNotNull())
        .select(*keys, hv.alias("_hv"))
        .withColumn("_ck", F.pmod(F.xxhash64("_hv"), F.lit(chunks)))
    )
    w = W.partitionBy(*keys, "_ck").orderBy("_hv")
    prev = F.lag("_hv").over(w)
    cand = (
        base.withColumn("_first", prev.isNull() | (prev != F.col("_hv")))
        .withColumn("_dr", F.dense_rank().over(w))
        .filter(F.col("_first") & (F.col("_dr") <= k))
    )
    merged = cand.groupBy(*keys).agg(
        F.slice(F.array_sort(F.collect_list("_hv")), 1, k).alias("_mins")
    )
    k_used = F.size("_mins").cast("long")
    kth = F.element_at("_mins", F.size("_mins")).cast("long")
    est = F.when(k_used < k, k_used.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(4294967296.0) / kth
    )
    return merged.select(
        *keys,
        k_used.alias("k_used"),
        kth.alias("kth"),
        est.alias("distinct_est"),
    )


def rank_sketch_grouped(
    df: DataFrame,
    keys: list[str],
    value: str,
    id_col: str,
    k: int = 256,
    chunks: int = 64,
) -> DataFrame:
    """GROUPED MERGEABLE RANK/QUANTILE SKETCH over an unbounded value
    domain — the missing rung of the percentile escalation path between
    exact medians (affordable per bounded group) and the value-domain
    histogram (``ship_latency_percentiles_scale_path``, which needs a
    bounded INTEGER domain): per group, a deterministic bottom-k-BY-HASH
    row sample carrying the VALUES, from which any quantile is estimated
    with O(1/sqrt(k)) rank error.

    Design note (why not KLL/GK): both are arrival-ORDER-dependent —
    compaction decisions depend on which rows met which buffer first —
    so two runs over different partitionings of the same rows give
    different sketches, and no cross-engine oracle can gate them.  This
    sketch is the KMV discipline applied to ranks instead: hash each
    ROW's identity to a uniform 52-bit integer and keep the k smallest
    per group — a uniform row sample WITHOUT replacement that is
    content-deterministic, CHUNK-INVARIANT (the bottom-k of a union is
    computable from per-part bottom-k's — see :func:`rank_sketch_merge`)
    and spelled identically in SQL.  The price is the weaker sampling
    rate (rank error ~1.13/sqrt(k) at the 50th percentile vs KLL's
    ~1/k): determinism and oracle-ability are bought with sample
    variance, and k is the dial.

    Same chunked min-k plan as :func:`kmv_grouped` (one shuffle of the
    data + one k-bounded merge, no group-sized reducer arrays): rows
    chunk by ``pmod(xxhash64(hv), chunks)``, one window per
    ``(keys..., chunk)`` ordered by ``(hv, id)`` emits each chunk's
    bottom-k, and the final groupBy merges <= chunks*k candidates per
    key.  Output per key: ``k_used`` and ``smp`` — the sample VALUES as
    a value-sorted array, ready for :func:`rank_sketch_quantile`; plus
    ``tail`` (struct array sorted by (hv, id)) for re-merging.

    NULL values are excluded (a NULL has no rank).  ``id_col`` must be
    row-unique; it is the hash input AND the tie-break, so the sample
    is a pure function of row content, never of partitioning."""
    if k < 2:
        raise ValueError(f"rank_sketch_grouped needs k >= 2, got {k}")
    if chunks < 1:
        raise ValueError(f"rank_sketch_grouped needs chunks >= 1, got {chunks}")
    from pyspark.sql import Window as W

    hv = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(":rs")), 13)
    base = (
        df.filter(F.col(value).isNotNull())
        .select(
            *keys,
            hv.alias("_hv"),
            F.col(id_col).cast("string").alias("_id"),
            F.col(value).cast("double").alias("_v"),
        )
        .withColumn("_ck", F.pmod(F.xxhash64("_hv"), F.lit(chunks)))
    )
    w = W.partitionBy(*keys, "_ck").orderBy("_hv", "_id")
    cand = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_ck")
    )
    merged = cand.groupBy(*keys).agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("_hv", "_id", "_v"))),
            1,
            k,
        ).alias("tail")
    )
    return merged.select(
        *keys,
        F.size("tail").cast("long").alias("k_used"),
        F.array_sort(F.expr("transform(tail, s -> s._v)")).alias("smp"),
        "tail",
    )


def rank_sketch_merge(parts: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Merge per-part rank sketches (the ``tail`` column of
    :func:`rank_sketch_grouped`) into the sketch of the union: explode,
    re-take the global bottom-k by (hv, id).  Exactness: any of the k
    smallest row hashes of the union is among its own part's k smallest,
    so the union of part-tails contains the global bottom-k.  The merge
    input is <= parts*k rows per key — bounded regardless of data size,
    which is what makes the sketch usable for daily-partition rollups
    (sketch each day once, merge 365 tails for the year)."""
    ex = parts.select(*keys, F.explode("tail").alias("s"))
    merged = ex.groupBy(*keys).agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("tail")
    )
    return merged.select(
        *keys,
        F.size("tail").cast("long").alias("k_used"),
        F.array_sort(F.expr("transform(tail, s -> s._v)")).alias("smp"),
        "tail",
    )


def rank_sketch_quantile(smp: str | Column, q_num: int, q_den: int) -> Column:
    """The (q_num/q_den)-quantile estimate from a sketch's value-sorted
    ``smp`` array: the ``max(1, ceil(q*n))``-th order statistic, with the
    ceiling computed in INTEGER arithmetic —
    ``(q_num*n + q_den - 1) DIV q_den`` — so the index (and therefore
    the estimate, an actual sampled value, no interpolation) is
    bit-identical cross-engine; a float q would ride IEEE rounding
    (``0.9 * 130`` is 117.000…003, whose ceil is 118) into the pinned
    convention.  Oracles spell the same integer form."""
    if not (0 < q_num <= q_den):
        raise ValueError(f"need 0 < q_num <= q_den, got {q_num}/{q_den}")
    c = F.col(smp) if isinstance(smp, str) else smp
    n = F.size(c)
    idx = F.greatest(
        F.lit(1),
        F.floor((F.lit(q_num) * n + F.lit(q_den - 1)) / F.lit(q_den))
        .cast("int"),
    )
    return F.element_at(c, idx)


def count_min_build(
    df: DataFrame, item: str, d: int = 3, w: int = 256
) -> DataFrame:
    """COUNT-MIN SKETCH build: a d x w counter matrix as (i, pos, cnt)
    rows — the heavy-hitter / frequency-estimation sketch, here in its
    deterministic engine-portable form (md5-salted row hashes like every
    sketch in this module; the classic pairwise-independent family is
    swapped for content hashing so a SQL twin computes the byte-identical
    matrix and the collision set is a pinnable fact, not a random
    variable).

    Mergeable by construction: matrices ADD cell-wise (sum per (i, pos)),
    so per-partition sketches roll up in one k-bounded aggregation —
    same discipline as kmv/rank tails.  Overestimate-only error: each
    counter is count(item) + collisions, so min over the d rows never
    underestimates; with w columns the expected collision mass per
    counter is N/w, and d rows drive the chance all of them are
    simultaneously unlucky down geometrically.

    Scale: one explode(d) + one (i, pos) groupBy with map-side partials;
    the matrix is d*w rows — broadcast-size for any real (d, w)."""
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 and w >= 2, got d={d} w={w}")
    c = F.col(item).cast("string")
    pos = F.array(
        *[
            F.pmod(md5_long(F.concat(c, F.lit(f":cm{i}"))), F.lit(w))
            for i in range(d)
        ]
    )
    rows = df.filter(c.isNotNull()).select(
        F.posexplode(pos).alias("i", "pos")
    )
    return rows.groupBy("i", "pos").agg(F.count("*").alias("cnt"))


def count_min_estimate(
    sketch: DataFrame, items: DataFrame, item: str, d: int = 3, w: int = 256
) -> DataFrame:
    """Point-frequency estimates: for each row of ``items``, min over
    the d counters its hashes land in.  The sketch is d*w rows —
    broadcast — so estimation is a narrow broadcast join however many
    items are probed.  Items absent from the build get the pure
    collision mass of their cells (the documented overestimate-only
    contract: never an underestimate, zero only if all d cells are
    empty)."""
    c = F.col(item).cast("string")
    probes = items.select(
        item,
        F.posexplode(
            F.array(
                *[
                    F.pmod(md5_long(F.concat(c, F.lit(f":cm{i}"))), F.lit(w))
                    for i in range(d)
                ]
            )
        ).alias("i", "pos"),
    )
    joined = probes.join(F.broadcast(sketch), ["i", "pos"], "left").select(
        item, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy(item).agg(F.min("cnt").cast("long").alias("est"))


# ---------------------------------------------------------------------------
# HyperLogLog (register-based distinct sketch, p=6 / m=64 registers)
#
# The KMV family above keeps the k smallest hashes (O(k) values per
# group); HLL keeps ONE byte per register (max leading-zero run) — the
# industry-standard mergeable distinct sketch (Flajolet et al. 2007;
# Spark's own approx_count_distinct is HLL++).  The built-in aggregate
# can never sit under a value-hash oracle gate (engine-private hash and
# serialization), so this is the ENGINE-PORTABLE spelling: the hash is
# the md5-prefix discipline, the register/rank split is integer
# shift/mask, the leading-zero count is string arithmetic over bin()
# (probed identical in Spark and DuckDB), and every float in the
# estimate is derived from EXACT int64 state by literal-constant
# arithmetic — bit-identical cross-engine by construction.
#
# Determinism details (each probed this round):
# - sum(2^-M_j) is kept scaled by 2^32 as an INT64 sum (M_j <= 27, so a
#   register contributes 2^5..2^32; 64 registers < 2^38) — the one
#   place textbook HLL sums doubles, made order-independent.
# - alpha_m * m^2 * 2^32 is ONE Python-computed literal (HLL_NUMER_LIT)
#   inlined into both engines, so the estimate is literal / int64.
# - the small-range (linear-counting) branch needs ln(m/V), and JVM
#   Math.log differs from libm in the last ulp on 6 of the 64 possible
#   inputs (probed) — so the 64 possible corrections are PRECOMPUTED
#   literals (HLL_LC), indexed by V in both engines.  No engine ln in
#   the gated output.
# - the large-range 32-bit-saturation correction is intentionally
#   omitted: it matters only near 2^32 cardinalities, where the right
#   fix is a 64-bit hash (HLL++), not the correction.
#
# Scale: hll_registers is one groupBy(keys, reg) with map-side combine
# — state per group is exactly m rows of one byte of information, at
# ANY cardinality; merging partial sketches (days -> weeks -> global)
# is MAX per register, associative and idempotent, so re-aggregation
# and backfill are free (the continuous-aggregate property).

import math as _math

HLL_P = 6  # default precision; all constants below derive from it


def _hll_consts(p: int) -> tuple[int, float, list[float], float]:
    """(m, numer, lc, cutoff) for precision ``p`` — every float the
    estimate can emit, computed ONCE in Python and inlined as literals
    into both engines.  alpha_m: the published small-m constants for
    m=16/32, the 0.7213/(1+1.079/m) closed form for m >= 64 (Flajolet
    et al. 2007, fig. 3).  p is capped at 12 so sum_pow stays far
    inside int64 (m * 2^32 <= 2^44) and the lc literal table stays
    reasonable (4096 entries)."""
    if not 4 <= p <= 12:
        raise ValueError(f"hll precision p must be in [4, 12], got {p}")
    m = 1 << p
    alpha = {4: 0.673, 5: 0.697}.get(p, 0.7213 / (1.0 + 1.079 / m))
    numer = alpha * float(m * m) * 4294967296.0
    lc = [float(m) * _math.log(m / v) for v in range(1, m + 1)]
    return m, numer, lc, 2.5 * m


HLL_M, HLL_NUMER, HLL_LC, HLL_SMALL_CUTOFF = _hll_consts(HLL_P)
HLL_W = 32 - HLL_P  # rank-bit width; rho in [1, HLL_W + 1]
#: SQL spelling of HLL_NUMER.  The STRING-cast form is load-bearing: a
#: bare numeric literal is DECIMAL in DuckDB, and its DECIMAL->DOUBLE
#: cast lands one ulp off Python/Spark/strtod on this value (probed);
#: CAST('<repr>' AS DOUBLE) is the correctly-rounded parse in every
#: engine.
HLL_NUMER_SQL = f"CAST('{HLL_NUMER!r}' AS DOUBLE)"
#: DuckDB list literal of HLL_LC (string-cast, same reason as above).
HLL_LC_SQL = "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in HLL_LC) + "]"


def hll_reg_rho(value: Column, p: int = HLL_P) -> tuple[Column, Column]:
    """(register, rho) for one value: 32-bit md5-prefix hash, low p bits
    pick the register, and rho = 1 + leading zeros of the remaining
    ``32 - p`` bits (``instr(lpad(bin(w), 32-p, '0'), '1')``; w = 0 maps
    to 32-p+1).  DuckDB twin: ``h % m`` / ``h // m`` and
    ``POSITION('1' IN LPAD(BIN(w), 32-p, '0'))``."""
    m, _, _, _ = _hll_consts(p)
    wbits = 32 - p
    h = md5_long(value)
    reg = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.instr(F.lpad(F.bin(w), wbits, "0"), "1")
    )
    return reg, rho


def hll_registers(
    df: DataFrame, keys: list[str], value: str, p: int = HLL_P
) -> DataFrame:
    """Per-key HLL register table: ``(keys..., reg, rho)`` with
    rho = max over the group's values.  NULLs excluded (not members).
    No pre-dedup needed — max(rho) is duplicate-insensitive, so unlike
    the KMV spelling there is no DISTINCT anywhere; one shuffle with
    map-side combine, <= m rows of state per key."""
    reg, rho = hll_reg_rho(F.col(value), p)
    return (
        df.filter(F.col(value).isNotNull())
        .select(*keys, reg.alias("reg"), rho.alias("rho"))
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(parts: DataFrame, keys: list[str]) -> DataFrame:
    """Merge partial register tables (e.g. per-day sketches rolled into
    a global one): MAX per (keys, reg) — associative, idempotent,
    commutative, so any merge tree gives the identical sketch."""
    return parts.groupBy(*keys, "reg").agg(F.max("rho").alias("rho"))


def hll_finalize(
    regs: DataFrame, keys: list[str], p: int = HLL_P
) -> DataFrame:
    """Registers -> ``(keys..., v_empty, sum_pow, hll_estimate)``.

    ``sum_pow`` = 2^32 * sum_j 2^-M_j as an exact int64 (empty registers
    contribute 2^32); ``hll_estimate`` = numer / sum_pow, replaced by
    the literal linear-counting table when V > 0 and the raw estimate
    is under 2.5m.  Both branches are literal/int64 arithmetic —
    deterministic to the last bit in any engine."""
    m, numer, lc_vals, cutoff = _hll_consts(p)
    # one parsed literal array (not |m| F.lit py4j calls — the r14 fix);
    # repr(float) round-trips exactly, so each Literal is bit-identical
    lc = F.expr("array(" + ", ".join(repr(float(v)) + "D" for v in lc_vals) + ")")
    agg = regs.groupBy(*keys).agg(
        (F.lit(m) - F.count("*")).cast("long").alias("v_empty"),
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - rho AS INT))"))
            + (F.lit(m) - F.count("*")) * F.lit(4294967296).cast("long")
        )
        .cast("long")
        .alias("sum_pow"),
    )
    raw = F.lit(numer) / F.col("sum_pow")
    est = F.when(
        (F.col("v_empty") > 0) & (raw <= F.lit(cutoff)),
        F.element_at(lc, F.greatest(F.col("v_empty"), F.lit(1)).cast("int")),
    ).otherwise(raw)
    return agg.select(*keys, "v_empty", "sum_pow", est.alias("hll_estimate"))


def hll_sql(
    table_expr: str, key_cols: str, value: str, p: int = HLL_P
) -> str:
    """DuckDB twin of hll_registers + hll_finalize as a SQL fragment:
    SELECT ``key_cols``, v_empty, sum_pow, hll_estimate FROM
    ``table_expr`` GROUP BY keys.  Shares the literal constants with
    the Spark side by construction (same _hll_consts call)."""
    m, numer, lc_vals, cutoff = _hll_consts(p)
    wbits = 32 - p
    numer_sql = f"CAST('{numer!r}' AS DOUBLE)"
    lc_sql = "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in lc_vals) + "]"
    keys_sel = f"{key_cols}, " if key_cols else ""
    keys_grp = f"GROUP BY {key_cols}" if key_cols else ""
    return f"""
    SELECT {keys_sel}v_empty, sum_pow,
           CASE WHEN v_empty > 0
                 AND {numer_sql} / sum_pow <= {cutoff!r}
                THEN ({lc_sql})[CAST(v_empty AS INT)]
                ELSE {numer_sql} / sum_pow
           END AS hll_estimate
    FROM (
      SELECT {keys_sel}
             CAST({m} - COUNT(*) AS BIGINT) AS v_empty,
             CAST(COALESCE(SUM((1::BIGINT << (32 - rho))), 0)
                  + ({m} - COUNT(*)) * 4294967296 AS BIGINT) AS sum_pow
      FROM (
        SELECT {keys_sel}reg, MAX(rho) AS rho
        FROM (
          SELECT {keys_sel}h % {m} AS reg,
                 CASE WHEN h // {m} = 0 THEN {wbits + 1}
                      ELSE POSITION('1' IN LPAD(BIN(h // {m}), {wbits}, '0'))
                 END AS rho
          FROM (
            SELECT {keys_sel}
                   ('0x' || substr(md5(CAST({value} AS VARCHAR)), 1, 8))::BIGINT AS h
            FROM {table_expr} WHERE {value} IS NOT NULL
          )
        ) GROUP BY {keys_sel}reg
      ) {keys_grp}
    )
    """


# ---------------------------------------------------------------------------
# Misra-Gries heavy-hitter summary (deterministic frequency sketch)
#
# Count-min above answers point queries with a PROBABILISTIC overcount;
# Misra-Gries is its deterministic dual: a k-entry summary whose
# estimates UNDERCOUNT by at most N/(k+1) total occurrences, so every
# item with true frequency > N/(k+1) is guaranteed present — the
# classical heavy-hitters contract (Misra & Gries 1982).  The summary
# is MERGEABLE (Agarwal, Cormode, Huang, Phillips, Wei, Yi — PODS'12):
# merging two k-summaries by summing matching counts and then
# subtracting the (k+1)-th largest count from every entry (dropping
# non-positives) preserves the N/(k+1) bound for the combined stream
# under ANY merge tree.  That theorem is what makes the sketch
# distributable: each hash chunk reduces its exact counts to a
# k-summary independently, and one union+reduce merges them — two
# shuffles total, no sequential scan anywhere.
#
# Determinism: "the (k+1)-th largest" is the count at row_number k+1
# under ORDER BY (count DESC, item) — a pure integer pick, so the kept
# entry set and every estimate are bit-identical cross-engine.


def mg_reduce(
    cnts: DataFrame, item: str, cnt: str, k: int, part: str | None = None
) -> DataFrame:
    """One Misra-Gries reduce: subtract the (k+1)-th largest count from
    every entry (per ``part`` chunk if given) and keep positive
    remainders — at most k entries survive, since only counts strictly
    above the pivot stay positive.  Input counts must be per-item
    EXACT within their chunk (each item in one chunk only)."""
    from pyspark.sql import Window as W

    pw = W.partitionBy(part) if part else W.partitionBy(F.lit(1))
    ow = pw.orderBy(F.col(cnt).desc(), F.col(item))
    r = cnts.withColumn("_rn", F.row_number().over(ow))
    s = r.withColumn(
        "_s",
        F.coalesce(
            F.max(F.when(F.col("_rn") == k + 1, F.col(cnt))).over(pw),
            F.lit(0),
        ),
    )
    out = s.filter(F.col(cnt) - F.col("_s") > 0).select(
        *( [part] if part else [] ),
        F.col(item),
        (F.col(cnt) - F.col("_s")).cast("long").alias(cnt),
    )
    return out


def misra_gries_summary(
    df: DataFrame, item: str, k: int, chunks: int = 8
) -> DataFrame:
    """Distributed Misra-Gries k-summary of ``df[item]`` occurrences:
    hash-chunk the DOMAIN (md5-salted ``:mg`` bucket, so each item's
    exact count lands wholly in one chunk), reduce each chunk's exact
    counts to a k-summary, then merge the <= chunks*k survivors with
    one final reduce.  Returns (item, est) with the PODS'12 guarantee
    exact_count - N/(k+1) <= est <= exact_count.  Scale: one
    map-side-combined groupBy to the item domain, a per-chunk window
    over domain/chunks rows, and a single-partition window over
    <= chunks*k rows — state is k-bounded at every level, and the
    guarantee is scale-free because it is relative to N."""
    ch = md5_long(F.concat(F.col(item).cast("string"), F.lit(":mg"))) % chunks
    exact = (
        df.filter(F.col(item).isNotNull())
        .groupBy(item)
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("_ch", ch)
    )
    lvl1 = mg_reduce(exact, item, "c", k, part="_ch")
    merged = mg_reduce(lvl1.drop("_ch"), item, "c", k)
    return merged.select(F.col(item), F.col("c").alias("est"))


def mg_sql(table_expr: str, item: str, k: int, chunks: int = 8) -> str:
    """DuckDB twin of :func:`misra_gries_summary` — same md5 ``:mg``
    chunking, same (count DESC, item) pivot rule, same two-level
    reduce; returns SQL yielding (item, est)."""
    return f"""
    SELECT {item}, CAST(c AS BIGINT) AS est FROM (
      SELECT {item}, c - COALESCE(MAX(CASE WHEN rn = {k + 1} THEN c END)
                                  OVER (), 0) AS c
      FROM (
        SELECT {item}, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, {item}) AS rn
        FROM (
          SELECT {item}, c - COALESCE(MAX(CASE WHEN rn = {k + 1} THEN c END)
                                      OVER (PARTITION BY ch), 0) AS c
          FROM (
            SELECT {item}, ch, c,
                   ROW_NUMBER() OVER (PARTITION BY ch
                                      ORDER BY c DESC, {item}) AS rn
            FROM (
              SELECT {item},
                     ('0x' || substr(md5(CAST({item} AS VARCHAR) || ':mg'),
                                     1, 8))::BIGINT % {chunks} AS ch,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM {table_expr} WHERE {item} IS NOT NULL
              GROUP BY 1, 2
            )
          ) WHERE c > 0
        ) WHERE c > 0
      )
    ) WHERE c > 0
    """


# ---------------------------------------------------------------------------
# Count-sketch (AMS / Charikar-Chen-Farach-Colton signed sketch)
#
# Count-min's counters only ever ADD (overestimate-only); the count-
# sketch multiplies each increment by a ±1 sign hash, so collision mass
# CANCELS in expectation and the estimator is unbiased — under- and
# over-estimates both occur, and the median over d rows controls the
# variance.  The same signed cells give the AMS second-frequency-moment
# estimator: per row, Σ_j C[i,j]² is an unbiased estimate of F2 = Σ f².


def _cs_pos(col: Column, i: int, w: int) -> Column:
    """Bucket hash for count-sketch row ``i`` (md5-salted like every
    sketch in this module — deterministic, SQL-twin-able)."""
    return F.pmod(md5_long(F.concat(col, F.lit(f":cs{i}"))), F.lit(w))


def _cs_sign(col: Column, i: int) -> Column:
    """±1 sign hash for row ``i`` (independent salt from the bucket)."""
    return F.lit(1) - F.lit(2) * F.pmod(
        md5_long(F.concat(col, F.lit(f":css{i}"))), F.lit(2)
    )


def count_sketch_build(
    df: DataFrame, item: str, d: int = 3, w: int = 64
) -> DataFrame:
    """COUNT-SKETCH build: a d x w SIGNED counter matrix as (i, pos, c)
    rows, c = Σ sign_i(item) over items hashing to (i, pos).

    Mergeable by construction — signed cells ADD cell-wise, so
    per-partition (or per-micro-batch) sketches roll up in one bounded
    aggregation, the same linearity count-min enjoys.  Scale: one
    explode(d) + one (i, pos) groupBy with map-side partials; the
    matrix is d*w rows — broadcast-size for any real (d, w)."""
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 and w >= 2, got d={d} w={w}")
    c = F.col(item).cast("string")
    cells = F.array(
        *[F.struct(_cs_pos(c, i, w).alias("pos"), _cs_sign(c, i).alias("s"))
          for i in range(d)]
    )
    rows = df.filter(c.isNotNull()).select(
        F.posexplode(cells).alias("i", "cell")
    )
    return rows.groupBy(
        "i", F.col("cell.pos").alias("pos")
    ).agg(F.sum("cell.s").cast("long").alias("c"))


def count_sketch_estimate(
    sketch: DataFrame, items: DataFrame, item: str, d: int = 3, w: int = 64
) -> DataFrame:
    """Point-frequency estimates: median over the d rows of
    sign_i(item)·C[i, pos_i(item)] — unbiased (signed collisions cancel
    in expectation), so errors run BOTH directions, unlike count-min.
    The median of d exact ints is the exact order statistic at
    ceil(d/2) of the sorted signed reads (absent cells read 0).  The
    sketch is d*w rows — broadcast — so estimation is a narrow
    broadcast join for any probe count."""
    c = F.col(item).cast("string")
    probes = items.select(
        item,
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        _cs_pos(c, i, w).alias("pos"), _cs_sign(c, i).alias("s")
                    )
                    for i in range(d)
                ]
            )
        ).alias("i", "cell"),
    )
    joined = probes.join(
        F.broadcast(sketch),
        (probes["i"] == sketch["i"]) & (probes["cell"]["pos"] == sketch["pos"]),
        "left",
    ).select(
        item,
        (probes["cell"]["s"] * F.coalesce(sketch["c"], F.lit(0))).alias("read"),
    )
    mid = (d + 1) // 2
    return joined.groupBy(item).agg(
        F.element_at(F.array_sort(F.collect_list("read")), mid)
        .cast("long")
        .alias("est")
    )


def ams_f2_estimate(sketch: DataFrame, d: int) -> DataFrame:
    """AMS second-frequency-moment estimate from a count-sketch matrix:
    per row i, Σ_j C[i,j]² (exact int64 — conveyed wide by callers when
    the bound requires), median over the d rows.  -> one row
    (est_f2 long).  The classic Alon-Matias-Szegedy streaming moment,
    here as a d-row fold over an already-broadcast-size matrix."""
    per_row = sketch.groupBy("i").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2r")
    )
    mid = (d + 1) // 2
    return per_row.agg(
        F.element_at(F.array_sort(F.collect_list("f2r")), mid)
        .cast("long")
        .alias("est_f2")
    )
