"""Deduplication operators — the first stages of any 100 TB corpus pipeline.

Strategy ladder (cheapest first):

1. :func:`exact_dedup` — hash-groupBy on content hash.  Uniform 128-bit
   shuffle key; always run this first.
2. :func:`minhash_signatures` / :func:`lsh_candidates` — MinHash-LSH over
   word shingles.  Cost: one explode + one partial-agg shuffle for
   signatures; candidate pairing joins only within LSH buckets, so pair
   count is bounded by bucket collisions, never |docs|².
3. :func:`simhash` — 16-bit SimHash (majority vote over token hash
   bits); :func:`simhash_near_dup` pairs documents within a Hamming
   ball via banded buckets — pigeonhole-EXACT (recall 1.0) when
   max_hamming < n_bands, unlike the probabilistic LSH stages.
4. :func:`jaccard_similarity` — exact n-gram Jaccard, applied to candidate
   pairs only (verification stage after LSH).
5. :func:`embedding_near_dup` — cosine-threshold pairs over an embedding
   column; all-pairs for correctness.  The scale path is
   :func:`similarity.sign_lsh_banded_candidates` (multi-band sign-LSH —
   recall measured in tests/test_banded_lsh.py: 0.987 vs the single-band
   prefilter's 0.687 at cosine>=0.95 on a known-truth corpus), with
   exact-cosine verification inside the candidate set only.

Hashes are md5 throughout — deterministic, engine-portable, and uniform.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from byte_convert_avro_spark.operators.graph import both_directions
from byte_convert_avro_spark.plans.stats_reset import reset_plan_stats


def exact_dedup(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical contents; keeper = min id.
    -> (text_hash, n_copies, keeper_doc_id)"""
    return df.groupBy(F.md5(F.col(content_col)).alias("text_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min(id_col).alias(f"keeper_{id_col}"),
    )


def drop_exact_dups(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct content — the applying form of
    :func:`exact_dedup`.  One shuffle on the content hash."""
    w_min = exact_dedup(df, content_col, id_col).select(
        F.col(f"keeper_{id_col}").alias(id_col)
    )
    return df.join(w_min, id_col, "left_semi")


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Explode word n-gram shingles: adds column ``sh``.  Documents shorter
    than n words produce no rows.

    The transform is guarded by an inline CASE, not only the filter:
    Catalyst pushes the explode's inferred isnotnull/size predicates into
    the scan Filter where they evaluate the transform on UNFILTERED rows
    — with size(_w) < n, sequence(1, size-{n-1}) descends through 0 and
    element_at(_w, 0) throws under ANSI.  The CASE branch is evaluated
    conditionally, so short docs just produce an empty array wherever the
    expression lands."""
    words = df.withColumn("_w", F.split(text_col, " ")).filter(F.size("_w") >= n)
    parts = ", ".join(f"element_at(_w, i + {j})" for j in range(n))
    shingles = (
        f"CASE WHEN size(_w) >= {n} THEN "
        f"transform(sequence(1, size(_w) - {n - 1}), i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )
    return words.select(
        "*",
        F.explode(F.expr(shingles)).alias("sh"),
    ).drop("_w")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_bands: int = 8, shingle_n: int = 3, rows_per_band: int = 1,
) -> DataFrame:
    """Per-(doc, band) MinHash signature: min over shingles of
    md5(hash_idx || '|' || shingle).  ``n_bands`` independent hash
    families via the index prefix.  -> (id_col, band, sig)

    ``rows_per_band`` (classic banding ``r``) concatenates r independent
    minima into each band signature: P(unrelated docs share a band sig)
    drops ~quadratically at r=2 while a true near-dup pair still matches
    a band with probability J^r.  Why it matters at scale (measured,
    BENCH_r9_organic_recall.json): at r=1 on a low-entropy corpus the
    hottest band signatures are shared by a growing fraction of the
    WHOLE corpus, so bucket sizes grow with corpus size and any absolute
    ``max_docs_per_bucket`` cap drops an increasing share of REAL
    near-dup pairs (bucket16 recall at J>=0.5 fell 0.94 -> 0.51 going
    5k -> 50k docs); at r=2 buckets shrink enough that the same caps
    keep their recall.  r=1 (the default) is bit-identical to the
    pre-parameter behavior.

    Scale: shingles explode ONCE (never ×bands) and all band minima
    accumulate as parallel agg buffers in a single codegen'd hash
    aggregation — partial min runs map-side, so the one shuffle carries
    |docs| rows of n_bands columns regardless of shingle count.  (Two
    rejected forms, A/B'd same-session at local sf10: exploding
    shingles×bands pushes n_bands× the rows through explode+agg for the
    same hashes — ~2-2.5× slower than this form; computing the signature
    row-locally with array higher-order functions avoids the shuffle
    entirely but falls out of whole-stage codegen into interpreted
    lambdas — ~3-4× slower.)"""
    if rows_per_band < 1:
        raise ValueError(f"rows_per_band must be >= 1, got {rows_per_band}")
    total = n_bands * rows_per_band
    sh = word_shingles(df.select(id_col, text_col), text_col, shingle_n)
    # Each aggregate/band expression renders as ONE parsed SQL string:
    # building the same tree from nested Column calls costs ~10 py4j
    # driver round trips per hash family (~0.9 s of pure driver time at
    # 32 families, measured r14) for an identical parsed plan.  The
    # prefix literal is an integer + '|', so no quoting hazard.
    mins = sh.groupBy(id_col).agg(
        *[
            F.expr(f"min(md5(concat('{h}|', sh)))").alias(f"_s{h}")
            for h in range(total)
        ]
    )
    band_arr = "array({})".format(
        ", ".join(
            "concat({})".format(
                ", ".join(f"_s{b * rows_per_band + r}" for r in range(rows_per_band))
            )
            for b in range(n_bands)
        )
    )
    return mins.select(
        id_col,
        F.posexplode(F.expr(band_arr)).alias("band", "sig"),
    )


def lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_pairs_per_doc: int | None = None,
    max_docs_per_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any band signature.
    -> (doc_a, doc_b, n_bands_matched), doc_a < doc_b.

    TWO independent caps, bounding the two places LSH blows up:

    ``max_docs_per_bucket`` bounds the CANDIDATE ENUMERATION — a
    (band, sig) bucket holding B docs emits B(B-1)/2 join rows, so one
    boilerplate signature shared by 10^5 docs emits 5x10^9 pairs before
    any downstream cap can see them (measured: the uncapped join
    spilled 45 GB at the sf10 100x-duplication stress).  Buckets larger
    than the cap are DROPPED before the pair join (one extra aggregation
    on the join's own (band, sig) shuffle key, map-side partials) — the
    same discipline as winnowing's fingerprint df cap: a
    near-universal signature carries no pair-discriminative signal, and
    the docs it would have linked are exactly the ones exact/chunk
    dedup already catches for free.  Join output is then bounded at
    cap²/2 rows per bucket BY CONSTRUCTION.

    ``max_pairs_per_doc`` bounds the VERIFICATION fan-out — downstream
    exact verification ships each doc's shingle array once per
    candidate pair, so a hub doc colliding with k partners costs k
    array copies.  With the cap, each pair must rank within the top
    ``max_pairs_per_doc`` of BOTH endpoints (by ``n_bands_matched``
    DESC — strongest evidence first — partner id as the deterministic
    tie-break), hard-bounding every doc to at most that many surviving
    pairs (an either-endpoint rule would leave hub fan-in unbounded
    through its partners' lists).  Cost: two window shuffles over the
    (already bucket-bounded) candidate set.

    Defaults None = unchanged exact behavior (the correctness-baseline
    oracle form).

    Plan shape (r14): the pair stage is ONE aggregation + a row-local
    enumeration, not a self-join.  The self-join form referenced
    ``sigs`` two or three times and Catalyst plans each reference as its
    own copy of the upstream subtree — the full shingle + n-hash minhash
    aggregation ran 2-3x per query (guide §7.2 duplicated subtrees; the
    r14 before-plans show the duplicate scans, and exchange reuse does
    not fire across the differently-aliased branches).  Here each
    (band, sig) bucket collects its (tiny, LSH-bounded) sorted doc-id
    array once and emits the i<j pairs with a row-local nested
    ``transform``; enumeration stays capped at B(B-1)/2 per bucket with
    B <= max_docs_per_bucket when the cap is set.  The bucket-size
    filter runs on size(collect_set) — same exchange as the collect, so
    the cap costs no extra aggregation pass.  One evaluation of the
    signature pipeline, two exchanges total (bucket key, pair key)."""
    if max_docs_per_bucket is not None and max_docs_per_bucket < 2:
        raise ValueError(
            f"max_docs_per_bucket must be >= 2, got {max_docs_per_bucket}"
        )
    buckets = sigs.groupBy("band", "sig").agg(
        F.sort_array(F.collect_set(id_col)).alias("_ds")
    )
    size_ok = F.size("_ds") >= 2
    if max_docs_per_bucket is not None:
        size_ok = size_ok & (F.size("_ds") <= max_docs_per_bucket)
    pairs = (
        buckets.filter(size_ok)
        .select(
            "band",
            F.explode(
                F.expr(
                    "flatten(transform(_ds, (x, i) -> "
                    "transform(slice(_ds, i + 2, size(_ds) - i - 1), "
                    "y -> named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("_p"),
        )
        .select("_p.doc_a", "_p.doc_b", "band")
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("band").alias("n_bands_matched"))
    )
    if max_pairs_per_doc is None:
        return pairs
    if max_pairs_per_doc < 1:
        raise ValueError(f"max_pairs_per_doc must be >= 1, got {max_pairs_per_doc}")
    from pyspark.sql import Window as W

    # rank each doc's UNDIRECTED pair list (both orientations — two
    # one-sided windows would let a doc keep up to 2k pairs split
    # across its doc_a/doc_b roles); a pair survives iff it ranks within
    # k on BOTH endpoints, i.e. both directed rows survive.
    directed = both_directions(
        pairs, "doc_a", "doc_b", "n_bands_matched", names=("doc", "partner")
    )
    rk = F.row_number().over(
        W.partitionBy("doc").orderBy(F.desc("n_bands_matched"), "partner")
    )
    kept = directed.withColumn("_rk", rk).filter(F.col("_rk") <= max_pairs_per_doc)
    return (
        kept.select(
            F.least("doc", "partner").alias("doc_a"),
            F.greatest("doc", "partner").alias("doc_b"),
            "n_bands_matched",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_sides"), F.first("n_bands_matched").alias("n_bands_matched"))
        .filter(F.col("_sides") == 2)
        .drop("_sides")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash over distinct tokens: per bit position, majority vote of the
    corresponding md5-nibble high bit (+1/-1), encoded as a '0'/'1' string.
    -> (id_col, simhash)

    Near-dups differ in few bits; bucketing on bit-prefixes gives the LSH
    variant.  (bits <= 32 — one md5 hex nibble per bit.)

    Scale: all ``bits`` majority votes accumulate as parallel conditional-
    sum agg buffers in ONE codegen'd hash aggregation over the distinct
    (doc, token) rows — partial sums run map-side, so the only post-
    distinct shuffle carries |docs| rows of ``bits`` ints.  The hex
    nibbles are decoded once per row into 32-bit ints (``conv`` per
    8-nibble group) and each vote is an integer shift-and-mask — not a
    per-buffer substring.  (A/B'd at local sf1, 5-run interleaved
    medians — see NOTES round 5: this form 0.70s; the pre-round-5
    explode×bits form 0.73s with bits× the rows through explode, hash-agg
    probes and TWO extra shuffles; substring-per-buffer 0.78s;
    isin-per-buffer 1.81s.  Locally a wash vs explode — the buffer form
    wins at scale by never materializing bits× intermediate rows.)"""
    if not 1 <= bits <= 32:
        # md5 supplies 32 hex nibbles; past that the conv() groups would
        # read empty substrings and emit constant votes — fail fast
        raise ValueError(f"simhash bits must be in [1, 32], got {bits}")
    n_groups = (bits + 7) // 8
    tokens = (
        df.select(id_col, F.explode(F.split(text_col, " ")).alias("tok"))
        .distinct()
        .withColumn("h", F.md5("tok"))
    )
    for g in range(n_groups):
        tokens = tokens.withColumn(
            f"_m{g}",
            F.expr(f"conv(substring(h, {8 * g + 1}, 8), 16, 10)").cast("long"),
        )

    def vote(i: int):
        g, j = divmod(i, 8)
        # nibble j's high bit within the 32-bit group value
        return F.sum(
            F.expr(f"CASE WHEN (_m{g} >> {4 * (7 - j) + 3}) & 1 = 1 THEN 1 ELSE -1 END")
        )

    votes = tokens.groupBy(id_col).agg(
        *[vote(i).alias(f"_v{i}") for i in range(bits)]
    )
    return votes.select(
        id_col,
        F.concat(
            *[F.when(F.col(f"_v{i}") >= 0, "1").otherwise("0") for i in range(bits)]
        ).alias("simhash"),
    )


def simhash_near_dup(
    sigs: DataFrame, id_col: str = "doc_id", sig_col: str = "simhash",
    bits: int = 16, n_bands: int = 4, max_hamming: int = 3,
    max_docs_per_bucket: int | None = None,
) -> DataFrame:
    """Hamming-ball near-dup pairs over SimHash signatures: band the
    ``bits``-bit signature into ``n_bands`` contiguous substrings,
    candidates = pairs agreeing on ANY band, then verify exact Hamming
    distance <= ``max_hamming``.  -> (doc_a, doc_b, hamming).

    EXACT by pigeonhole when ``max_hamming < n_bands`` (the default):
    a pair within the Hamming ball differs in at most ``n_bands - 1``
    bit positions, so at least one band is untouched and the pair always
    collides — 100% recall, not probabilistic (pinned by
    tests/test_operators_direct.py::test_simhash_near_dup_pigeonhole_exact).
    A signature whose actual width differs from ``bits`` would silently
    break that guarantee (bands would cover only a prefix), so every row
    is width-checked in the plan and a mismatch RAISES.

    Scale: the self-join runs within (band, band-key) buckets — the
    shuffle key — so pair generation is partition-local and bounded by
    Σ|bucket|² per band, never |docs|²; the verify is a native
    conv→xor→bit_count per candidate (codegen'd, no explode).

    ``max_docs_per_bucket`` (default None) bounds the enumeration at
    real duplication (a B-doc bucket emits B²/2 join rows — the round-8
    LSH finding, measured at 45 GB of spill uncapped): oversized
    (band, key) buckets are dropped before the join on its own shuffle
    key.  EXPLICIT TRADE: dropping a bucket voids the pigeonhole
    guarantee FOR PAIRS WHOSE ONLY agreeing band was dropped — recall
    becomes exact-over-surviving-buckets; in practice a bucket only
    exceeds a sane cap when one signature is near-universal boilerplate
    whose members exact/chunk dedup already catches.  Leave None where
    the 100%-recall contract matters more than the bound."""
    if bits % n_bands:
        raise ValueError(f"bits={bits} must divide into n_bands={n_bands}")
    if not 1 <= bits <= 63:
        # the verify casts conv(sig, 2, 10) to a signed BIGINT; a 64-bit
        # signature would overflow it and mis-count distances — fail fast
        raise ValueError(f"simhash_near_dup bits must be in [1, 63], got {bits}")
    w = bits // n_bands
    # job-time width guard: assert_true returns NULL on pass (keeping the
    # filter in the plan) and raises on the first wrong-width signature
    checked = sigs.filter(
        F.assert_true(
            F.length(sig_col) == bits,
            F.concat(
                F.lit(f"simhash_near_dup: signature width != bits={bits}: "),
                F.col(sig_col),
            ),
        ).isNull()
    )
    keyed = checked.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.posexplode(
            F.array(*[F.substring(sig_col, b * w + 1, w) for b in range(n_bands)])
        ).alias("band", "bk"),
    )
    if max_docs_per_bucket is not None:
        if max_docs_per_bucket < 2:
            raise ValueError(
                f"max_docs_per_bucket must be >= 2, got {max_docs_per_bucket}"
            )
        ok = (
            keyed.groupBy("band", "bk")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") <= max_docs_per_bucket)
            .select("band", "bk")
        )
        keyed = keyed.join(ok, ["band", "bk"])
    a = keyed.select(F.col("id").alias("doc_a"), F.col("sig").alias("_sa"), "band", "bk")
    b = keyed.select(
        F.col("id").alias("doc_b"), F.col("sig").alias("_sb"),
        F.col("band").alias("band2"), F.col("bk").alias("bk2"),
    )
    cands = (
        a.join(b, (a.band == b.band2) & (a.bk == b.bk2) & (a.doc_a < b.doc_b))
        .select("doc_a", "doc_b", "_sa", "_sb")
        .distinct()
    )
    ham = F.expr(
        "bit_count(CAST(conv(_sa, 2, 10) AS BIGINT) ^ CAST(conv(_sb, 2, 10) AS BIGINT))"
    ).cast("int")
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def jaccard_similarity(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate ``pairs``
    (doc_a, doc_b).  Verification stage after LSH — cost scales with the
    candidate set, not the corpus.  -> (doc_a, doc_b, n_common, n_a, n_b,
    jaccard)

    Precondition: ``pairs`` must be a DISTINCT pair set (all callers pass
    aggregated ``lsh_candidates`` output).  The two endpoint joins keep
    input multiplicity, so a duplicated input pair yields duplicated
    output rows; dedup upstream if the candidate source can repeat.

    Scale: each document's distinct shingles are aggregated ONCE into an
    array (one shuffle on the doc id, map-side partial ``collect_set``;
    element order is irrelevant to ``array_intersect``/``size``, so no
    per-doc sort is spent), and pairs join those per-doc arrays — the
    overlap is then a partition-local ``array_intersect`` per pair.
    (Rejected form,
    A/B'd at local sf1 — see NOTES round 5: joining pairs onto exploded
    shingle ROWS re-shuffles a hub document's full shingle set once per
    candidate pair — a doc in 10k pairs ships its shingles 10k× — and
    needs a second |pairs × common-shingles|-row groupBy to count the
    overlap.)"""
    sh = word_shingles(df.select(id_col, text_col), text_col, shingle_n)
    # The per-doc shingle-array frame is lazily checkpointed (r15): the
    # two attach joins below both read it, and without the checkpoint
    # Catalyst planned the full corpus shingle aggregation once per
    # reference (guide §7.2; exchange reuse does not fire across the
    # aliased branches).  One row per doc, bounded by document length —
    # the safe collect — vs recomputing scan+shingles+aggregation twice.
    # Partition count pinned explicitly: AQE would coalesce the tiny
    # frame to one partition and serialize everything downstream (the
    # r15 prefix-filter finding).
    n_part = df.sparkSession.sparkContext.defaultParallelism
    sets = (
        sh.groupBy(id_col)
        .agg(F.collect_set("sh").alias("_shs"))
        .repartition(n_part, id_col)
        .localCheckpoint(eager=False)
    )
    # Attach each endpoint's array with a SHUFFLE_HASH-hinted equi join
    # (r15, replacing the r14 melt + merge-hinted SMJ + collect_list
    # regroup).  Interleaved sf1 A/B (SCALE.md r15): two-join
    # shuffle-hash 22.9 s vs melt-SMJ 43.5 s vs melt-SHJ 43.1 s vs
    # two-join broadcast 16.3 s — the melt's pair-keyed regroup moves
    # and re-sorts every pair row WITH its array payloads, costing more
    # than the second equi join it saved.  The hint choice: unhinted,
    # Catalyst was observed (r14) to BROADCAST the corpus-wide set
    # table (fatal at 100 TB — the 8 GB/512M-row relation cap); the
    # shuffle-hash join shuffles each side by the doc key with NO sort
    # of the array payloads and no driver collect, and AQE skew-split
    # still applies.  Callers with provably tiny pair sets can still
    # broadcast upstream of this operator.
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("_shs").alias("_sha"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("_shs").alias("_shb"))
    return (
        pairs.join(a.hint("shuffle_hash"), "doc_a")
        .join(b.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sha", "_shb")).cast("long").alias("n_common"),
            F.size("_sha").cast("long").alias("n_a"),
            F.size("_shb").cast("long").alias("n_b"),
        )
        # pairs sharing no shingle are dropped — the pre-rewrite form (and
        # the DuckDB oracle) inner-joined on the shared shingle, so a
        # zero-overlap candidate never produced a row
        .filter(F.col("n_common") >= 1)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )


def embedding_near_dup(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    threshold: float = 0.95, round_to: int = 4,
) -> DataFrame:
    """Cosine-threshold near-dup pairs.  All-pairs (correctness form) —
    at corpus scale prefilter with
    :func:`similarity.sign_lsh_banded_candidates` and verify within the
    candidate set.  -> (id_a, id_b, sim)

    The threshold compares the RAW sequential-fold cosine (bit-identical
    across engines); ``round_to`` applies to the displayed ``sim`` only —
    filtering on a rounded double would make the emitted row set depend on
    per-engine representation ties at the boundary."""
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    e = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ).withColumn("nrm", F.sqrt(F.expr(dot.format(a="e", b="e"))))
    a = e.select(F.col("id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = e.select(F.col("id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "_sim_raw",
            F.expr(dot.format(a="ea", b="eb")) / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("_sim_raw") >= threshold)
        .select("id_a", "id_b", F.round("_sim_raw", round_to).alias("sim"))
    )


def text_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", window: int = 16,
) -> DataFrame:
    """Non-overlapping ``window``-char chunk fingerprints per document:
    -> (id_col, chunk_idx, chunk_hash), 1-based chunk_idx.  Documents
    shorter than ``window`` produce no rows; the tail remainder shorter
    than ``window`` is never chunked (substring-dedup treats it as
    unsharable).  The unit of substring-level duplicate detection —
    contrast :func:`text.rolling_hashes`, the stride-1 overlapping form
    (winnowing's raw material)."""
    d = df.filter(F.length(text_col) >= window)
    return d.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length({text_col}) DIV {window}),"
                f" i -> md5(substring({text_col}, (i - 1) * {window} + 1, {window})))"
            )
        ).alias("chunk_idx0", "chunk_hash"),
    ).select(id_col, (F.col("chunk_idx0") + 1).alias("chunk_idx"), "chunk_hash")


def repeated_chunks(
    chunks: DataFrame, id_col: str = "doc_id", min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated chunks: hashes appearing in >= ``min_docs``
    DISTINCT documents (within-doc repeats alone don't qualify — this is
    the boilerplate/license detector, not self-repetition).
    -> (chunk_hash, n_docs, n_occurrences)

    Scale: ONE shuffle on the uniform 128-bit chunk hash; the distinct-doc
    count partial-aggregates map-side.  Never all-pairs."""
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count_distinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def chunk_dup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    window: int = 16, min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span accounting over non-overlapping
    ``window``-char chunks — the substring-level rung of the dedup ladder
    (exact-doc < chunk < near-doc): a doc that is MOSTLY cross-document
    boilerplate is invisible to exact dedup and may sit below near-dup
    thresholds, but its chunk profile exposes it.
    -> (id_col, total_chars, n_chunks, n_dup_chunks, dup_frac, kept_chars,
    dropped) for EVERY input document (short docs: 0 chunks, kept whole).

    - ``dup_frac``     duplicated-chunk fraction (0.0 when chunkless)
    - ``kept_chars``   chars surviving chunk-level stripping
      (total - window * n_dup_chunks) — exact because chunks don't overlap
    - ``dropped``      1 iff >= half the chunks are cross-doc duplicates
      (integer compare ``2*n_dup >= n_chunks`` — no float threshold)

    Scale: chunk explode is narrow; the shared-chunk detection is one
    shuffle on chunk_hash; the membership join re-shuffles chunks on the
    same key (the chunk exchange is reusable) against the much smaller
    shared set; the per-doc rollup shuffles on the doc id.  No stage pairs
    documents — cost is O(corpus chunks), never |docs|²."""
    chunks = text_chunks(df, text_col, id_col, window)
    shared = repeated_chunks(chunks, id_col, min_docs).select(
        "chunk_hash", F.lit(1).alias("_dup")
    )
    per = (
        chunks.join(shared, "chunk_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce("_dup", F.lit(0))).alias("n_dup_chunks"),
        )
    )
    base = df.select(id_col, F.length(text_col).cast("long").alias("total_chars"))
    j = base.join(per, id_col, "left").select(
        id_col,
        "total_chars",
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0)).cast("long").alias("n_dup_chunks"),
    )
    return j.select(
        id_col,
        "total_chars",
        "n_chunks",
        "n_dup_chunks",
        F.when(
            F.col("n_chunks") > 0,
            F.col("n_dup_chunks").cast("double") / F.col("n_chunks"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        (F.col("total_chars") - F.lit(window) * F.col("n_dup_chunks")).alias("kept_chars"),
        (
            (F.col("n_chunks") > 0)
            & (F.col("n_dup_chunks") * 2 >= F.col("n_chunks"))
        )
        .cast("int")
        .alias("dropped"),
    )


def strip_repeated_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    window: int = 16, min_docs: int = 2,
) -> DataFrame:
    """The APPLYING form of substring-level dedup — where
    :func:`chunk_dup_stats` only *accounts* for duplicated spans, this
    REBUILDS each document's text with every cross-document duplicate
    chunk removed: the kept ``window``-char chunks concatenated in
    original order, followed by the un-chunked tail remainder (chars past
    ``(len DIV window) * window``).  Documents shorter than ``window``
    pass through whole.
    -> (id_col, stripped_md5, kept_chars, n_kept_chunks) for EVERY input
    document; the md5 is of the reconstructed text so an oracle can
    value-compare the strip without shipping full texts through the
    compare.

    Scale: the shared-chunk detection is the same one chunk-hash shuffle
    as the stats form, and — the load-bearing choice — only the kept
    chunk INDEXES (ints) flow through the per-doc rollup; the text itself
    never leaves its document row.  Reconstruction is a row-local
    ``aggregate`` over the sorted index array re-reading substrings from
    the doc's own text column, so the heavy string bytes are touched
    exactly once, map-side, after all shuffles."""
    chunks = text_chunks(df, text_col, id_col, window)
    shared = repeated_chunks(chunks, id_col, min_docs).select(
        "chunk_hash", F.lit(1).alias("_dup")
    )
    kept = (
        chunks.join(shared, "chunk_hash", "left")
        .filter(F.col("_dup").isNull())
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("_kept_idxs"))
    )
    j = df.select(id_col, F.col(text_col).alias("_txt")).join(kept, id_col, "left")
    stripped = F.expr(
        f"concat(aggregate(coalesce(_kept_idxs, cast(array() as array<int>)), '', (acc, i) ->"
        f" concat(acc, substring(_txt, (i - 1) * {window} + 1, {window}))),"
        f" substring(_txt, (length(_txt) DIV {window}) * {window} + 1))"
    )
    return j.select(
        id_col,
        F.md5(stripped).alias("stripped_md5"),
        F.length(stripped).cast("long").alias("kept_chars"),
        F.coalesce(F.size("_kept_idxs"), F.lit(0)).cast("long").alias("n_kept_chunks"),
    )


def cross_corpus_ngram_overlap(
    train: DataFrame, bench: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", n: int = 5, carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Benchmark decontamination: per train document, the number of
    distinct word ``n``-grams it shares with ANY benchmark/eval document.
    -> (id_col, *carry_cols, n_shared_grams) for contaminated docs only;
    ``carry_cols`` are per-document train columns (functionally dependent
    on ``id_col``, e.g. lang) passed through the aggregation so callers
    need no re-scan join to recover them.

    Scale: the eval side of a decontamination pass is tiny (benchmarks are
    MBs; the corpus is TBs), so its distinct gram set is ``F.broadcast``
    hinted — the train side streams map-side through the hash join and the
    only shuffle is the final partial-agg count by document.  Train grams
    are never collected or shuffled whole."""
    tg = word_shingles(train, text_col, n).select(id_col, *carry_cols, "sh")
    bg = word_shingles(bench.select(text_col), text_col, n).select("sh").distinct()
    return (
        tg.join(F.broadcast(bg), "sh")
        .groupBy(id_col, *carry_cols)
        .agg(F.count_distinct("sh").alias("n_shared_grams"))
    )


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Resolve near-dup candidate pairs into clusters: connected
    components by iterative min-label propagation.  -> (v, component)
    where ``component`` is the smallest id reachable from ``v``.

    The step dedup pipelines need after LSH pairing — "A~B, B~C" must
    collapse to ONE keeper for {A,B,C}, which no single join can express.

    Scale: each iteration is one shuffle join (edges × labels on src) +
    one partial-first min-agg on dst + one node-sized POINTER-JUMPING
    join (label <- label-of-label, path compression).  The jump
    compresses id-aligned chains exponentially (the 200-node path test
    converges in ~9 rounds where pure propagation needs 199) and costs
    one node-sized merge join; on adversarial id layouts it degrades
    toward plain diameter-bounded propagation (the sf0.1 entity graph:
    30 rounds for a ~32-diameter component, jump saving only ~2), hence
    the default budget of 50 with the raise-on-exhaustion contract
    below.  Every round the fed-back labels frame passes through
    ``plans.reset_plan_stats`` — ``localCheckpoint`` preserves origin
    plan STATISTICS, and because each round joins labels against two
    labels-derived frames the size estimate SQUARES per round: a BigInt
    whose bit-length doubles until plan-stats computation alone costs
    minutes of single-threaded ``BigInteger.multiply`` (measured at
    sf0.1: rounds flat at 0.6 s for 17 rounds, then 4 s, 10 s, 24 s,
    66 s; with the reset, flat 0.6 s through convergence).
    ``localCheckpoint`` truncates lineage each
    round so plans don't grow with iterations — marked LAZY and triggered
    by the convergence aggregate, so materializing the new labels AND
    detecting the fixpoint is ONE action (one job launch) per round: the
    per-row changed flag is computed in the label-update projection
    itself and summed, never a second pass over the joined old/new
    labels.  If the fixpoint is NOT reached within ``max_iter`` rounds
    (a pathological chain of diameter > max_iter), the function RAISES
    rather than silently returning partially-propagated labels — re-run
    with a higher budget.  (Job-count bound pinned by
    tests/test_operators_direct.py::test_connected_components_one_job_per_round.)"""
    # The static edge list's storage form is SIZE-ADAPTIVE (both A/B'd at
    # local sf0.1/sf1 — NOTES round 5):
    # - BIG graphs: CACHED pre-partitioned and pre-sorted on the join key
    #   (the iterative-graph discipline).  InMemoryTableScan reports its
    #   partitioning/ordering, so every round's sort-merge join reads the
    #   big side shuffle- and sort-free and only the (small) labels side
    #   moves — 1.3× at sf1 (8.4M-pair graph).  localCheckpoint would
    #   lose that: a checkpointed RDD reports no outputPartitioning.
    # - SMALL graphs: localCheckpoint (raw-row storage).  The SQL cache
    #   pays columnar decompression on every round's scan, which at small
    #   sizes costs more than the per-round shuffle it avoids (1.5×
    #   SLOWER at sf0.1's 164k edge rows).
    # Both per-round joins carry a MERGE hint: the cache's accurate stats
    # would otherwise flip smaller graphs to broadcast joins, whose per-
    # round broadcast-BUILD is a driver round trip that costs more than
    # the labels shuffle it saves (measured at sf0.1) and breaks the
    # one-job-per-round property.
    edges = (
        both_directions(pairs, a, b, names=("src", "dst"))
        .distinct()
        .repartition(F.col("src"))
        .sortWithinPartitions("src")
        .persist()
    )
    # the try opens BEFORE any action so a failure during setup (count,
    # checkpoint conversion, labels) cannot leak a pinned edge cache for
    # the session.  (A two-phase alternative — cache the plain distinct
    # first and build the partitioned cache only for big graphs, sparing
    # small graphs the repartition+sort — was A/B'd and LOST at both
    # scales: the big path pays an extra full cache write+read, sf1 8.6s
    # vs 6.4s, and the small path measured no cheaper either.)
    try:
        n_edges = edges.count()  # materialize the cache (one setup job)
        if n_edges < 2_000_000:
            ckpt = edges.localCheckpoint()  # raw-row storage, reads the cache once
            edges.unpersist()
            edges = ckpt
        labels = (
            edges.select(F.col("src").alias("v")).distinct()
            .withColumn("label", F.col("v"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            nbr_min = (
                edges.hint("merge")
                .join(labels.select(F.col("v").alias("src"), "label"), "src")
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min("label").alias("nbr_label"))
            )
            # POINTER JUMPING (path compression): label(v) <- label(label(v)).
            # label values are always ids of same-component nodes, so the
            # jump stays inside the component and is monotone under least();
            # combined with the neighbor-min step it makes the covered
            # distance-to-min at least DOUBLE per round — convergence in
            # O(log diameter) rounds instead of O(diameter).  This is what
            # makes long-chain components (entity-resolution graphs grow
            # them with scale: the sf0.1 audit caught a >25-diameter
            # customer-match chain the sf0.01 corpus never built) converge
            # inside any sane budget: diameter 10^6 needs ~20 rounds, not
            # 10^6.  Cost: one extra node-sized merge join per round.
            parent = labels.select(
                F.col("v").alias("label"), F.col("label").alias("jump_label")
            )
            joined = labels.join(nbr_min.hint("merge"), "v", "left").join(
                parent.hint("merge"), "label", "left"
            )
            least_new = F.least(
                F.coalesce("nbr_label", "label"),
                F.coalesce("jump_label", "label"),
            )
            # reset_plan_stats: see docstring — without it the preserved
            # origin statistics square per round and the driver drowns in
            # BigInteger arithmetic by round ~20.
            new_labels = reset_plan_stats(
                joined.select(
                    "v",
                    F.least(F.col("label"), least_new).alias("label"),
                    (least_new < F.col("label")).cast("int").alias("_chg"),
                ).localCheckpoint(eager=False)
            )
            # this aggregate is the round's ONE action: computing it runs
            # every partition of new_labels, materializing the lazy
            # checkpoint in the same job
            changed = new_labels.agg(F.sum("_chg")).first()[0]
            labels = new_labels.drop("_chg")
            if not changed:
                return labels.select("v", F.col("label").alias("component"))
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the budget); re-run with higher max_iter"
        )
    finally:
        # the returned frame derives from checkpointed label RDDs only —
        # the edge cache can always be released here (a no-op when the
        # small path already swapped edges for its checkpoint)
        edges.unpersist()


def _rank_ordered_doc_arrays(
    tokens: DataFrame, id_col: str, tok_col: str, plen_sql: str
) -> DataFrame:
    """Shared scaffold of the prefix-filter joins (r15): per doc, its
    distinct tokens as ONE array in global rarity order (ascending
    (document-frequency, token) — the same total order the pre-r15
    form's vocab-wide ``row_number`` rank induced, without the
    single-partition vocab sort), plus the size and the prefix slice.

    ``plen_sql`` is a SQL expression over ``_s`` giving the prefix
    length (clamped at 0 so sub-threshold docs yield an empty prefix
    and simply emit no candidate rows).

    The frame is lazily ``localCheckpoint``ed: every consumer — both
    sides of the candidate join, and any verify re-read — replays the
    materialized rows instead of re-running the scan + distinct +
    vocab join + per-doc collect.  The pre-r15 form evaluated that
    subtree once per join side and twice more in the verify (4 full
    evaluations, guide §7.2); the checkpoint is the r14g Bradley-
    Terry trade — the frame is one row per doc (bounded by document
    length, the safe collect), while the recompute is the whole
    token pipeline including two shuffles."""
    vocab = tokens.groupBy(tok_col).agg(F.count("*").alias("_df"))
    tk = tokens.join(vocab, tok_col)
    docs = (
        tk.groupBy(id_col)
        .agg(
            F.expr(
                f"transform(array_sort(collect_list(struct(_df, {tok_col}))),"
                f" x -> x.{tok_col})"
            ).alias("_arr")
        )
        .select(id_col, "_arr", F.size("_arr").alias("_s"))
        .withColumn("_pre", F.expr(f"slice(_arr, 1, greatest(0, {plen_sql}))"))
    )
    # Pin the checkpointed RDD's partition count EXPLICITLY: the frame
    # is bytes-tiny (one row per doc), so AQE's coalescing would shrink
    # the doc-key exchange to ONE partition — and every downstream task
    # count (the prefix explodes, the candidate join's probe side, the
    # per-pair verify work) inherits the checkpoint's partitioning, so
    # the whole Θ(candidate-pairs) stage would run single-task
    # (measured: 522 s vs 26 s at sf0.1).  defaultParallelism scales
    # with the session's cores — not a local[32] constant.
    n_part = tokens.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(n_part, id_col).localCheckpoint(eager=False)


def _prefix_candidate_join(
    docs: DataFrame,
    id_col: str,
    tok_col: str,
    extra_filter,
    alpha_sql: str,
) -> DataFrame:
    """Shared candidate stage of the prefix-filter joins (r15): explode
    each side's prefix (carrying the full rank-ordered array), equi-join
    on the prefix token, and keep exactly ONE row per candidate pair —
    the MIN-RANK-WITNESS rule replaces the pre-r15 ``distinct()``:

    a pair sharing w prefix tokens used to emit w join rows and pay a
    pair-keyed distinct exchange over all of them (~7 witnesses/pair at
    sf0.1 — an ~87M-row shuffle for a 12M-pair candidate set); here a
    row survives only when its join token IS the first element of the
    two prefixes' rank-ordered intersection, which is unique per pair,
    so the join output needs no dedup at all.  Exactness: for any pair
    meeting the similarity threshold the minimum-rank common token
    provably lies in BOTH prefixes (if it didn't, the prefix tokens of
    that side would all be non-shared, bounding the overlap below the
    threshold) and its row passes the positional bound (which is >= the
    true overlap at the min-rank witness) — so every qualifying pair
    survives exactly once; non-qualifying pairs emit at most once and
    die in the verify filter.

    Because both endpoints' full arrays ride the (prefix-row-sized)
    join, verification is row-local ``array_intersect`` right here —
    no pair-keyed verify joins, no re-shuffle of corpus token streams.
    ``alpha_sql`` is the minimum-required-overlap expression over
    ``_sa``/``_sb``; ``extra_filter`` the family's length filter."""
    pa = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("_s").alias("_sa"),
        F.col("_pre").alias("_prea"),
        F.col("_arr").alias("_arra"),
        F.posexplode("_pre").alias("_pa0", tok_col),
    )
    pb = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("_s").alias("_sb"),
        F.col("_pre").alias("_preb"),
        F.col("_arr").alias("_arrb"),
        F.posexplode("_pre").alias("_pb0", tok_col),
    )
    alpha = F.expr(alpha_sql)
    cand = pa.join(pb, tok_col).filter(
        (F.col("id_a") < F.col("id_b"))
        & extra_filter
        # positional filter: overlap <= 1 + min(remaining suffix)
        & (
            F.lit(1)
            + F.least(
                F.col("_sa") - (F.col("_pa0") + 1),
                F.col("_sb") - (F.col("_pb0") + 1),
            )
            >= alpha
        )
        # min-rank-witness: emit the pair only at the first common
        # prefix token (array_intersect preserves the first array's
        # rank order; non-empty by construction — the join token is
        # in both prefixes)
        & (
            F.element_at(F.array_intersect("_prea", "_preb"), 1)
            == F.col(tok_col)
        )
    )
    return cand.select(
        "id_a",
        "id_b",
        "_sa",
        "_sb",
        F.size(F.array_intersect("_arra", "_arrb")).alias("inter_sz"),
    )


def prefix_filter_jaccard(
    tokens: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "token",
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07): every unordered doc
    pair with Jaccard(token sets) >= t_num/t_den — no false negatives,
    unlike the MinHash-LSH ladder (``lsh_candidates``), whose recall is
    probabilistic.  This is the third rung of the near-dup family:
    exact-hash (identity), LSH (approximate, cheapest), prefix filter
    (exact similarity join, still sub-quadratic on real corpora).

    The filter: order the vocabulary rarest-first; if two sets with
    sizes sa, sb have J >= t they share >= ceil(t/(1+t) * (sa+sb))
    tokens, so each set's PREFIX of its (s - ceil(t*s) + 1) rarest
    tokens must intersect — candidate pairs are an equi-join on prefix
    tokens only.  Stopwords (the frequent tail) are never prefix
    members, so the join's per-key fan-out is bounded by RARE-token
    document frequency — the quadratic stopword blowup of a naive
    token join never happens.  All threshold arithmetic is integer
    (``ceil(t*s)`` = ``(t_num*s + t_den - 1) DIV t_den``; the verify is
    ``inter * t_den >= union * t_num``) — no float crosses an engine
    boundary.

    Input: distinct (id, token) pairs.  Output: ``(id_a, id_b,
    inter_sz, union_sz, jacc)`` with id_a < id_b.

    Plan shape (r15 — the bucket-single-eval rewrite): the per-doc
    rank-ordered token array builds ONCE (one doc-keyed aggregation
    over the vocab-decorated stream; no vocab-wide single-partition
    rank window, no per-doc rank/count windows) into a lazily
    checkpointed frame; the candidate join explodes that frame's
    prefixes, and the MIN-RANK-WITNESS rule (see
    ``_prefix_candidate_join``) emits every candidate pair exactly
    once — the pre-r15 pair-keyed ``distinct()`` over ~7 witness
    rows/pair is gone.  The verify is row-LOCAL: both endpoints' full
    arrays ride the prefix rows, overlap = size(array_intersect) in the
    candidate join itself; zero post-candidate shuffles.  The per-doc
    byte cost is Θ(s·plen) into the candidate exchange — the right
    trade whenever candidate fan-out rivals or exceeds corpus size
    (replicated corpora, the regime this operator targets); the pre-r15
    pair-keyed verify re-shuffled the token stream per candidate
    ENDPOINT (Θ(s) bytes × pair fan-out) plus a |pairs × shared-tokens|
    groupBy.

    Measured at sf0.1 (7.1M qualifying pairs, 31-token vocab, ~3.7k
    mean prefix df — the worst case for witness duplication): the
    benched pairs query fell 122.0 -> 24.7 s (median-of-3, equal host
    spin) with the r15 row-local verify.  Attaching each side's array
    by an equi join after the candidate join instead measured a wash in
    an interleaved A/B (11.5 vs 10.8-11.6 s) — the win is the dead
    distinct exchange + dead verify joins + the single-eval checkpoint,
    not the verify flavor.

    Empty-string tokens count as members (both engines split '' to
    [''] — the shared convention)."""
    if not (0 < t_num <= t_den):
        raise ValueError(f"need 0 < t_num <= t_den, got {t_num}/{t_den}")
    # prefix length = s - ceil(t*s) + 1; ceil via integer floor-div
    # ((a + b - 1) div b) so the arithmetic is exact at any magnitude
    # (double division + cast would only truncate exactly below 2^52).
    docs = _rank_ordered_doc_arrays(
        tokens,
        id_col,
        tok_col,
        f"_s - (({t_num}L * _s + {t_den - 1}L) div {t_den}L) + 1",
    )
    # PPJoin's two exactness-preserving candidate filters (witness-local):
    # - LENGTH filter: J >= t forces t*max(sa,sb) <= min(sa,sb)
    #   (overlap <= min and >= t*union >= t*max);
    # - POSITIONAL filter: the min-rank shared token at positions
    #   (pa, pb) bounds the overlap by 1 + min(sa-pa, sb-pb), and a
    #   qualifying pair needs overlap >= alpha = ceil(t/(1+t)*(sa+sb)).
    length_ok = (F.col("_sa") * t_den >= F.col("_sb") * t_num) & (
        F.col("_sb") * t_den >= F.col("_sa") * t_num
    )
    alpha_sql = (
        f"({t_num}L * (_sa + _sb) + {t_num + t_den - 1}L)"
        f" div {t_num + t_den}L"
    )
    inter = _prefix_candidate_join(docs, id_col, tok_col, length_ok, alpha_sql)
    union = F.col("_sa") + F.col("_sb") - F.col("inter_sz")
    return (
        inter.filter(
            F.col("inter_sz") * F.lit(t_den) >= union * F.lit(t_num)
        )
        .select(
            "id_a",
            "id_b",
            F.col("inter_sz").cast("long").alias("inter_sz"),
            union.cast("long").alias("union_sz"),
            (F.col("inter_sz").cast("double") / union).alias("jacc"),
        )
    )


def overlap_join(
    tokens: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "token",
    min_overlap: int = 2,
) -> DataFrame:
    """EXACT absolute-overlap self-join: every unordered doc pair
    sharing at least ``min_overlap`` distinct tokens — the t-overlap
    sibling of ``prefix_filter_jaccard`` (SSJoin, Chaudhuri et al.
    ICDE'06): under a global token order, |A∩B| >= c forces the two
    prefixes that DROP only the last c-1 tokens (keep s-c+1) to
    intersect, so candidates are an equi-join on prefix tokens — never
    all-pairs.  The positional filter carries over: a witness at ranks
    (pa, pb) bounds the overlap by 1 + min(sa-pa, sb-pb), exactness
    preserved by the same minimal-witness argument as the Jaccard form.

    Absolute overlap is the right threshold for CONTAINMENT-style
    dedup (a short doc embedded in a long one — Jaccard punishes the
    size mismatch, shared-token count does not); the output carries
    both directed containments as exact-int divisions.

    Output: ``(id_a, id_b, inter_sz, cont_a, cont_b)`` with
    id_a < id_b, cont_x = inter / |x|.  Input: distinct (id, token).

    Plan shape (r15): identical scaffold to ``prefix_filter_jaccard``
    — ONE checkpointed per-doc rank-ordered array frame (no vocab-wide
    rank window, no per-doc windows), prefix-token equi-join with the
    min-rank-witness single-emission rule (no pair distinct), overlap
    row-local via the carried arrays (no verify joins); all threshold
    arithmetic integer."""
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    c = min_overlap
    docs = _rank_ordered_doc_arrays(tokens, id_col, tok_col, f"_s - {c} + 1")
    # both sets must be at least c tokens; alpha (the required overlap)
    # is the constant c
    length_ok = (F.col("_sa") >= c) & (F.col("_sb") >= c)
    inter = _prefix_candidate_join(docs, id_col, tok_col, length_ok, f"{c}L")
    return inter.filter(F.col("inter_sz") >= c).select(
        "id_a",
        "id_b",
        F.col("inter_sz").cast("long").alias("inter_sz"),
        (F.col("inter_sz").cast("double") / F.col("_sa")).alias("cont_a"),
        (F.col("inter_sz").cast("double") / F.col("_sb")).alias("cont_b"),
    )


def cap_pairs_per_doc(
    pairs: DataFrame,
    max_pairs_per_doc: int,
    score_col: str = "jacc",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Bound an undirected pair set to each endpoint's top
    ``max_pairs_per_doc`` partners — the ``lsh_candidates`` fan-out
    discipline generalized to ANY scored pair stream (r13 verdict #5:
    the EXACT prefix-filter join's plan is output-bound, ~100x pairs
    per 10x data on a replicated corpus, so the 100 TB operating point
    needs a capped rung like the LSH ladder's).

    A pair survives iff it ranks within k on BOTH endpoints
    (``score_col`` DESC, partner id ASC as the deterministic
    tie-break); the both-endpoints rule hard-bounds every doc's degree
    at k — an either-endpoint rule would leave hub fan-in unbounded
    through its partners' lists.  All non-id columns ride along
    unchanged.  Cost: one window shuffle over the doubled (directed)
    pair stream — pair-set-sized, never corpus-sized.

    The direction doubling is :func:`graph.both_directions`, one
    explode: a self-union executed the ``pairs`` subtree twice, 2x wall
    on the prefix-filter join whose capped rung this operator exists
    for (extended bench: 209.7 s self-union vs ~1x join cost after the
    explode rewrite)."""
    if max_pairs_per_doc < 1:
        raise ValueError(
            f"max_pairs_per_doc must be >= 1, got {max_pairs_per_doc}"
        )
    from pyspark.sql import Window as W

    carry = [c for c in pairs.columns if c not in (id_a, id_b)]
    directed = both_directions(
        pairs, id_a, id_b, *carry, names=("_doc", "_partner")
    )
    rk = F.row_number().over(
        W.partitionBy("_doc").orderBy(F.desc(score_col), "_partner")
    )
    kept = directed.withColumn("_rk", rk).filter(
        F.col("_rk") <= max_pairs_per_doc
    )
    return (
        kept.select(
            F.least("_doc", "_partner").alias(id_a),
            F.greatest("_doc", "_partner").alias(id_b),
            *carry,
        )
        .groupBy(id_a, id_b, *carry)
        .agg(F.count("*").alias("_sides"))
        .filter(F.col("_sides") == 2)
        .drop("_sides")
    )
