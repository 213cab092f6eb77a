"""Direct operator-level tests for the pieces the oracle queries exercise
only indirectly: the general as-of join (tolerance/direction variants vs
the native window plan and vs a hand-computed truth), sign-LSH buckets,
multimodal blob stats / frame sampling, and exact-dedup application."""

from __future__ import annotations

from pyspark.sql import functions as F

from byte_convert_avro_spark.operators.asof import (
    asof_join,
    asof_join_tolerance,
    asof_join_tolerance_native,
)
from byte_convert_avro_spark.operators.dedup import drop_exact_dups
from byte_convert_avro_spark.operators.multimodal import blob_stats, frame_sample_positions
from byte_convert_avro_spark.operators.similarity import sign_lsh_buckets

LEFT = [  # (key, t, lv)
    ("a", 10, "L1"),
    ("a", 20, "L2"),
    ("a", 35, "L3"),
    ("b", 5, "L4"),
]
RIGHT = [  # (key, t, rv)
    ("a", 8, 100),
    ("a", 20, 200),
    ("a", 30, 300),
    ("b", 50, 400),
]


def _frames(spark):
    left = spark.createDataFrame(LEFT, "k string, t long, lv string")
    right = spark.createDataFrame(RIGHT, "k string, t long, rv long")
    return left, right


def test_asof_native_backward(spark):
    """Backward, allow-exact-match: 10->8, 20->20, 35->30; b@5 -> null."""
    left, right = _frames(spark)
    got = {
        (r.k, r.t): (r.rv_asof, r.t_asof)
        for r in asof_join(left, right, on="t", by="k").collect()
    }
    assert got == {
        ("a", 10): (100, 8),
        ("a", 20): (200, 20),
        ("a", 35): (300, 30),
        ("b", 5): (None, None),
    }


def test_asof_tolerance_matches_native_when_unbounded(spark):
    left, right = _frames(spark)
    native = {
        (r.k, r.t): r.rv_asof for r in asof_join(left, right, on="t", by="k").collect()
    }
    cogrouped = {
        (r.k, r.t): r.rv_asof
        for r in asof_join_tolerance(left, right, on="t", by="k").collect()
    }
    assert cogrouped == native


def test_asof_tolerance_bounds_the_match(spark):
    """tolerance=5: 10->8 (gap 2) stays; 35->30 (gap 5) stays; 20->20 ok;
    with tolerance=1 only the exact match at 20 survives."""
    left, right = _frames(spark)
    t5 = {
        (r.k, r.t): r.rv_asof
        for r in asof_join_tolerance(left, right, on="t", by="k", tolerance=5).collect()
    }
    assert t5[("a", 10)] == 100 and t5[("a", 35)] == 300
    t1 = {
        (r.k, r.t): r.rv_asof
        for r in asof_join_tolerance(left, right, on="t", by="k", tolerance=1).collect()
    }
    assert t1 == {("a", 10): None, ("a", 20): 200, ("a", 35): None, ("b", 5): None}


def test_asof_forward_direction(spark):
    left, right = _frames(spark)
    fwd = {
        (r.k, r.t): r.rv_asof
        for r in asof_join_tolerance(
            left, right, on="t", by="k", direction="forward"
        ).collect()
    }
    assert fwd == {("a", 10): 200, ("a", 20): 200, ("a", 35): None, ("b", 5): 400}


def test_sign_lsh_buckets_deterministic_and_collision(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, -1.0, 2.0, 0.5]),
            (2, [0.9, -0.8, 1.5, 0.4]),  # same signs as 1
            (3, [-1.0, 1.0, -2.0, -0.5]),  # opposite
        ],
        "id long, embedding array<double>",
    )
    got = {r.id: r.lsh_bucket for r in sign_lsh_buckets(df, n_bits=4).collect()}
    assert got[1] == got[2] == "1011"
    assert got[3] == "0100"


def test_blob_stats_sniffs_magic(spark):
    df = spark.createDataFrame(
        [(b"\x89PNG\r\n\x1a\n1234",), (b"\xff\xd8\xff\xe0JFIF",), (b"plain",)],
        "blob binary",
    )
    rows = blob_stats(df).collect()
    assert [r.sniffed_format for r in rows] == ["png", "jpeg", "unknown"]
    assert rows[0].n_bytes == 12 and len(rows[0].content_md5) == 32


def test_frame_sample_positions(spark):
    df = spark.createDataFrame([(1, 3500)], "vid long, duration_ms long")
    got = sorted(r.frame_ms for r in frame_sample_positions(df).collect())
    assert got == [0, 1000, 2000, 3000]


def test_drop_exact_dups_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (9, "x")], "doc_id long, text string"
    )
    kept = sorted((r.doc_id, r.text) for r in drop_exact_dups(df).collect())
    assert kept == [(1, "x"), (2, "y")]


# ---------------------------------------------------------------------------
def _toy_vectors(spark):
    """Two well-separated clusters around (1,0) and (0,1)."""
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], "a"),
        (2, [0.95, 0.05], "a"),
        (10, [0.0, 1.0], "b"),
        (11, [0.1, 0.9], "b"),
        (12, [0.05, 0.95], "b"),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")


def test_cosine_topk_operator(spark):
    from byte_convert_avro_spark.operators.similarity import cosine_topk

    vecs = _toy_vectors(spark)
    queries = vecs.filter(F.col("vec_id").isin(0, 10))
    corpus = vecs.filter(~F.col("vec_id").isin(0, 10))
    got = {
        (r.qid, r.rank): r.id for r in cosine_topk(corpus, queries, k=2).collect()
    }
    # query 0 (cluster a) -> nearest are 2 then 1; query 10 -> 12 then 11
    assert got[(0, 1)] == 2 and got[(0, 2)] == 1
    assert got[(10, 1)] == 12 and got[(10, 2)] == 11


def test_ivf_build_and_search_match_brute_force(spark):
    from byte_convert_avro_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_search,
    )

    vecs = _toy_vectors(spark)
    cents = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "label string, embedding array<double>"
    )
    indexed = ivf_build(vecs, cents)
    cells = {r.vec_id: r.cell for r in indexed.collect()}
    assert all(cells[i] == "a" for i in (0, 1, 2))
    assert all(cells[i] == "b" for i in (10, 11, 12))

    queries = vecs.filter(F.col("vec_id").isin(0, 10))
    # nprobe=2 probes BOTH cells -> must equal exact brute force
    ivf = {
        (r.qid, r.rank): r.id
        for r in ivf_search(indexed, cents, queries, k=3, nprobe=2).collect()
    }
    brute = {
        (r.qid, r.rank): r.id for r in cosine_topk(vecs, queries, k=3).collect()
    }
    assert ivf == brute


# ---------------------------------------------------------------------------
def test_multimodal_image_metadata_real_and_fake_paths(spark):
    """The REAL path parses actual PNG headers pure-Python and degrades
    to a PERMISSIVE 'unknown' row on non-image bytes; deterministic_fake
    keeps the hash-derived metadata for the synthetic-corpus oracles."""
    import struct

    from byte_convert_avro_spark.operators.multimodal import decode_image_metadata

    png = (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480)
        + bytes([8, 6, 0, 0, 0])
    )
    df = spark.createDataFrame(
        [(1, b"blob-bytes"), (2, png)], "doc_id long, blob binary"
    )
    fake = decode_image_metadata(df, deterministic_fake=True).collect()[0]
    assert 1 <= fake.width <= 1920 and 1 <= fake.height <= 1080
    assert fake.format in ("png", "jpeg", "webp") and fake.n_bytes == 10

    real = {r.doc_id: r for r in decode_image_metadata(df).collect()}
    assert real[1].format == "unknown" and real[1].width is None
    assert (real[2].width, real[2].height, real[2].channels, real[2].format) == (
        640, 480, 4, "png",
    )


def test_multimodal_audio_contract(spark):
    """decode_audio_metadata / resample_audio / audio_fingerprint:
    deterministic fakes exercise the Arrow-batched plumbing with
    hand-verifiable outputs; the real hooks raise (documented stubs)."""
    import hashlib

    import pytest as _pytest

    from byte_convert_avro_spark.operators.multimodal import (
        audio_fingerprint,
        decode_audio_metadata,
        resample_audio,
    )

    df = spark.createDataFrame([(1, b"some-audio-bytes")], "doc_id long, blob binary")
    h = hashlib.md5(b"some-audio-bytes").hexdigest()

    m = decode_audio_metadata(df, deterministic_fake=True).collect()[0]
    assert m.duration_ms == (int(h[:5], 16) % 600000) + 1000
    assert m.sample_rate in (8000, 16000, 22050, 44100, 48000)
    assert m.channels in (1, 2) and m.codec in ("wav", "mp3", "flac", "opus")
    assert m.n_bytes == 16 and m.content_md5 == h

    r = resample_audio(df, target_rate=16000, deterministic_fake=True).collect()[0]
    expect = (
        hashlib.md5(b"some-audio-bytes" + b"|16000hz").hexdigest() + "|16000hz-resampled"
    )
    assert bytes(r.resampled) == expect.encode()
    assert r.resampled_md5 == hashlib.md5(expect.encode()).hexdigest()
    assert (r.out_rate, r.out_bytes) == (16000, len(expect))

    f = audio_fingerprint(df, deterministic_fake=True).collect()[0]
    assert f.fingerprint == hashlib.md5((h + "|fp").encode()).hexdigest()[:16]

    # metadata REAL path: parses actual WAV headers, 'unknown' otherwise
    import struct as _struct

    rate, ch, data_len = 16000, 2, 64000
    byte_rate = rate * ch * 2
    wav = (
        b"RIFF" + _struct.pack("<I", 36 + data_len) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, ch, rate, byte_rate, ch * 2, 16)
        + b"data" + _struct.pack("<I", data_len) + b"\x00" * 4  # truncated body ok
    )
    wdf = spark.createDataFrame(
        [(1, b"some-audio-bytes"), (2, wav)], "doc_id long, blob binary"
    )
    real = {r.doc_id: r for r in decode_audio_metadata(wdf).collect()}
    assert real[1].codec == "unknown" and real[1].sample_rate is None
    assert (
        real[2].sample_rate, real[2].channels, real[2].codec, real[2].duration_ms
    ) == (rate, ch, "wav", data_len * 1000 // byte_rate)

    # sample DECODING still requires an audio library — those hooks raise
    for op in (resample_audio, audio_fingerprint):
        with _pytest.raises(Exception) as e:
            op(df, deterministic_fake=False).collect()
        assert "NotImplementedError" in str(e.value) or "library" in str(e.value) or "chromaprint" in str(e.value)


def test_wire_schema_id_matches_struct_unpack(spark):
    """Native-expression schema-id extraction == struct.unpack('>i'),
    including negative (high-bit) ids."""
    import struct

    from byte_convert_avro_spark.wire import schema_id

    ids = [0, 1, 100, 2**31 - 1, -1, -2**31, 123456789]
    payloads = [(bytes([0]) + struct.pack(">i", i) + b"body",) for i in ids]
    df = spark.createDataFrame(payloads, "v binary")
    got = [r.sid for r in df.select(schema_id(F.col("v")).alias("sid")).collect()]
    assert got == ids


def test_asof_tolerance_native_matches_cogrouped(spark):
    """The native union+window tolerance form is pointwise identical to the
    cogrouped merge_asof form for backward AND forward, bounded and
    unbounded — same rows, same nulled-out matches."""
    left, right = _frames(spark)
    for direction in ("backward", "forward"):
        for tol in (None, 1, 5, 100):
            native = {
                (r.k, r.t): (r.rv_asof, r.t_asof)
                for r in asof_join_tolerance_native(
                    left, right, on="t", by="k", tolerance=tol, direction=direction
                ).collect()
            }
            cogrouped = {
                (r.k, r.t): (r.rv_asof, r.t_asof)
                for r in asof_join_tolerance(
                    left, right, on="t", by="k", tolerance=tol, direction=direction
                ).collect()
            }
            assert native == cogrouped, (direction, tol)


def test_asof_tolerance_native_rejects_nearest(spark):
    left, right = _frames(spark)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join_tolerance_native(left, right, on="t", by="k", direction="nearest")


def test_connected_components_one_job_per_round(spark):
    """Each propagation round must be ONE Spark job: the lazy
    localCheckpoint of the new labels is materialized by the convergence
    aggregate itself, never a separate count() pass.  A 6-node path has
    diameter 5 -> 6 rounds to detect the fixpoint; with the 3 setup jobs
    (edge-cache materialization, small-graph checkpoint conversion,
    initial labels checkpoint) that is at most 9 jobs (the old
    two-actions-per-round form needed 15).  AQE is disabled so jobs map
    1:1 to actions; auto-broadcast is disabled as future-proofing only —
    today the tiny graph takes the checkpoint path (no stats) and both
    joins carry merge hints, so no broadcast-build jobs can occur, but
    if either changed, each broadcast build would add a (harmless)
    driver job and obscure the action count this test pins."""
    from byte_convert_avro_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], "doc_a int, doc_b int"
        )
        sc.setJobGroup("cc_job_bound", "connected_components job-count test")
        labels = connected_components(pairs, max_iter=10)
        sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup("cc_job_bound")
        assert len(jobs) <= 9, f"expected <= 9 jobs for 6 rounds, got {len(jobs)}"
        got = {(r.v, r.component) for r in labels.collect()}
        assert got == {(i, 0) for i in range(6)}
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)


def test_lsh_candidates_hub_cap(spark):
    """max_pairs_per_doc hard-bounds every doc's surviving pairs: a hub
    signature colliding with many partners keeps only its top-k (by
    n_bands_matched DESC, partner id), the both-endpoints rule means no
    doc exceeds the cap through partners' lists, and the default (None)
    output is byte-identical to the uncapped form."""
    from collections import Counter

    from byte_convert_avro_spark.operators.dedup import lsh_candidates
    import pytest as _pytest

    # doc 0 is a hub: shares band-0 sig 'H' with docs 1..6; docs 10/11
    # share a private sig on bands 0 AND 1 (strongest pair)
    rows = [(0, 0, "H")] + [(i, 0, "H") for i in range(1, 7)]
    rows += [(10, 0, "P"), (11, 0, "P"), (10, 1, "Q"), (11, 1, "Q")]
    sigs = spark.createDataFrame(rows, "doc_id long, band int, sig string")

    base = {(r.doc_a, r.doc_b): r.n_bands_matched for r in lsh_candidates(sigs).collect()}
    again = {
        (r.doc_a, r.doc_b): r.n_bands_matched
        for r in lsh_candidates(sigs, max_pairs_per_doc=None).collect()
    }
    assert base == again  # default unchanged
    assert base[(10, 11)] == 2 and base[(0, 1)] == 1

    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidates(sigs, max_pairs_per_doc=3).collect()
    }
    per_doc = Counter()
    for a2, b2 in capped:
        per_doc[a2] += 1
        per_doc[b2] += 1
    assert max(per_doc.values()) <= 3
    assert (10, 11) in capped  # strongest pair always survives
    # the 7-doc clique collapses to the deterministic lowest-id core
    # {0,1,2,3} (each doc keeps its 3 lowest-id tied partners; a pair
    # needs BOTH endpoints' votes), docs 4..6 drop out entirely
    assert capped == {
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (10, 11)
    }
    with _pytest.raises(ValueError):
        lsh_candidates(sigs, max_pairs_per_doc=0)


def test_kmeans_one_job_per_round(spark):
    """kmeans_lloyd runs EXACTLY one Spark job per Lloyd round (the
    (cell, dim) centroid-update collect) plus one seed job: assignment is
    a narrow literal-argmin, so no per-round join/broadcast-build jobs
    exist.  AQE off so jobs map 1:1 to actions."""
    import random

    from byte_convert_avro_spark.operators.similarity import kmeans_lloyd

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        random.seed(7)
        data = [(i, [random.random() for _ in range(8)]) for i in range(100)]
        df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
        sc.setJobGroup("km_job_bound", "kmeans job-count test")
        kmeans_lloyd(df, "embedding", "vec_id", k=4, n_iter=3).collect()
        sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup("km_job_bound")
        # 1 seed collect + 3 round collects + 1 final collect
        assert len(jobs) <= 5, f"expected <= 5 jobs for 3 rounds, got {len(jobs)}"
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_kmeans_recovers_separated_clusters_deterministically(spark):
    """On well-separated blobs Lloyd converges to the exact per-blob
    means within 3 rounds, and two runs return bit-identical centroids
    (no RNG anywhere)."""
    from byte_convert_avro_spark.operators.similarity import kmeans_lloyd

    # two tight blobs around (0, 0) and (100, 100)
    pts = [(i, [float(i % 5), float(i % 3)]) for i in range(10)]
    pts += [(10 + i, [100.0 + (i % 5), 100.0 + (i % 3)]) for i in range(10)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    runs = []
    for _ in range(2):
        cents = {
            r.cell: tuple(r.embedding)
            for r in kmeans_lloyd(df, "embedding", "vec_id", k=2, n_iter=3).collect()
        }
        runs.append(cents)
    assert runs[0] == runs[1]
    got = sorted(runs[0].values())
    exact = lambda xs: (sum(x[0] for x in xs) / len(xs), sum(x[1] for x in xs) / len(xs))
    lo = exact([p[1] for p in pts[:10]])
    hi = exact([p[1] for p in pts[10:]])
    assert got[0] == tuple(map(float, lo)) or abs(got[0][0] - lo[0]) < 1e-9
    assert abs(got[1][0] - hi[0]) < 1e-9 and abs(got[1][1] - hi[1]) < 1e-9


def _pagerank_reference(edges, n_rounds=3, damping=0.85):
    """Plain-Python PageRank with the engine's update rule: uniform 1/N
    init, ``(1-d)/N + d * sum(rank(u)/outdeg(u))`` per round."""
    nodes = sorted({v for e in edges for v in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    ranks = dict.fromkeys(nodes, 1.0 / n)
    for _ in range(n_rounds):
        sums = dict.fromkeys(nodes, 0.0)
        for s, d in sorted(edges):
            sums[d] += ranks[s] / outdeg[s]
        ranks = {v: (1.0 - damping) / n + damping * sums[v] for v in nodes}
    return ranks


def test_pagerank_fast_path_close_to_deterministic(spark):
    """The ordered source-id fold (the only fold path) agrees with a
    plain-Python power iteration to float-accumulation tolerance on a
    string-id graph, and the ranks sum to ~1.0 (no rank leakage on the
    symmetric graph)."""
    from byte_convert_avro_spark.operators.graph import pagerank_fixed_rounds

    e0 = [(f"a{i}", f"b{i % 3}") for i in range(12)]
    pairs = e0 + [(d, s) for s, d in e0]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    det = {r.v: r.rank for r in pagerank_fixed_rounds(edges, n_rounds=3).collect()}
    ref = _pagerank_reference(pairs)
    assert det.keys() == ref.keys()
    assert all(abs(det[v] - ref[v]) < 1e-12 for v in det)
    assert abs(sum(det.values()) - 1.0) < 1e-9


def test_kmv_partial_merge_equals_global(spark):
    """The scale property the KMV sketch relies on: the k smallest hashes
    of a union == the k smallest of each part's LOCAL k smallest, merged —
    so partitions ship k values, never their distinct sets, and the
    estimate is identical to the single-pass computation."""
    from pyspark.sql import functions as F

    k = 32
    vals = spark.range(0, 5000).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
        (F.col("id") % 7).alias("part"),
    )
    global_k = [r.h for r in vals.orderBy("h").limit(k).collect()]
    from pyspark.sql import Window as W

    local_k = (
        vals.withColumn(
            "rn", F.row_number().over(W.partitionBy("part").orderBy("h"))
        )
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    merged_k = [r.h for r in local_k.orderBy("h").limit(k).collect()]
    assert merged_k == global_k
    assert 31.0 * 4294967296.0 / merged_k[-1] == 31.0 * 4294967296.0 / global_k[-1]


def test_interval_overlap_join_matches_brute_force(spark):
    """Bucketed interval join == the naive overlap predicate on closed
    intervals, across bucket widths (incl. intervals spanning many
    buckets, touching endpoints, and zero-length intervals); disjoint-
    column and bucket guards raise."""
    import pytest as _pytest

    from byte_convert_avro_spark.operators.intervals import interval_overlap_join

    L = [(1, 0, 10), (2, 5, 5), (3, 20, 45), (4, 100, 100)]
    R = [(100, 8, 25), (200, 45, 99), (300, 100, 120), (400, 46, 46)]
    left = spark.createDataFrame(L, "lid int, ls long, le long")
    right = spark.createDataFrame(R, "rid int, rs long, re long")
    truth = {
        (a, b)
        for a, s1, e1 in L
        for b, s2, e2 in R
        if s1 <= e2 and s2 <= e1
    }
    for bucket in (1, 7, 10, 1000):
        got = {
            (r.lid, r.rid)
            for r in interval_overlap_join(
                left, right, "ls", "le", "rs", "re", bucket=bucket
            ).collect()
        }
        assert got == truth, bucket
    with _pytest.raises(ValueError, match="bucket"):
        interval_overlap_join(left, right, "ls", "le", "rs", "re", bucket=0)
    clash = right.withColumnRenamed("rs", "ls")
    with _pytest.raises(ValueError, match="disjoint"):
        interval_overlap_join(left, clash, "ls", "le", "ls", "re", bucket=10)


def test_kmeans_empty_cell_drops_deterministically(spark):
    """Duplicate seed vectors force an immediate empty cell (ties break to
    the lowest cell id, so the higher duplicate gets no members): the
    emptied cell must drop out permanently and the surviving centroids
    stay correct and bit-stable across runs — the documented
    deterministic empty-cell contract."""
    from byte_convert_avro_spark.operators.similarity import kmeans_lloyd

    pts = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0])]
    pts += [(10 + i, [0.0, 0.1 * 0]) for i in range(5)]
    pts += [(20 + i, [5.0, 5.0]) for i in range(5)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    runs = []
    for _ in range(2):
        cents = {
            r.cell: tuple(r.embedding)
            for r in kmeans_lloyd(df, "embedding", "vec_id", k=3, n_iter=2).collect()
        }
        runs.append(cents)
    assert runs[0] == runs[1]
    # cell 1 (the duplicate [0,0] seed) lost the tie everywhere and died
    assert set(runs[0]) == {0, 2}
    assert runs[0][0] == (0.0, 0.0) and runs[0][2] == (5.0, 5.0)


def test_simhash_near_dup_pigeonhole_exact(spark, sf_dir):
    """With max_hamming < n_bands the banded candidate set provably
    contains EVERY pair in the Hamming ball (3 flipped bits cannot touch
    all 4 bands), so the operator's output must equal the brute-force
    all-pairs computation exactly — recall 1.0, not probabilistic."""
    from byte_convert_avro_spark.operators.dedup import simhash, simhash_near_dup
    from byte_convert_avro_spark.queries.base import t

    # deterministic subset: a bare limit() over an unordered parquet scan
    # is not a stable row set, so a cache eviction between the two collects
    # could compare different subsets — filter on the key instead
    sigs = simhash(
        t(spark, sf_dir, "documents").where("doc_id < 200"), "text", "doc_id", bits=16
    ).cache()
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dup(sigs, bits=16, n_bands=4, max_hamming=3).collect()
    }
    rows = sigs.collect()
    truth = {}
    for i, ra in enumerate(rows):
        for rb in rows[i + 1:]:
            a, b = sorted((ra.doc_id, rb.doc_id))
            sa = ra.simhash if a == ra.doc_id else rb.simhash
            sb = rb.simhash if a == ra.doc_id else ra.simhash
            h = sum(x != y for x, y in zip(sa, sb))
            if h <= 3:
                truth[(a, b)] = h
    sigs.unpersist()
    assert truth, "sanity: the corpus must contain Hamming<=3 pairs"
    assert got == truth


def test_simhash_near_dup_rejects_unbandable_bits(spark):
    from byte_convert_avro_spark.operators.dedup import simhash_near_dup
    import pytest as _pytest

    df = spark.createDataFrame([(1, "0" * 10)], "doc_id int, simhash string")
    with _pytest.raises(ValueError):
        simhash_near_dup(df, bits=10, n_bands=4)


def test_simhash_bit_width_guards(spark):
    """bits outside md5's 32 nibbles (simhash) or BIGINT's 63 sign bits
    (simhash_near_dup verify) must RAISE instead of silently emitting
    garbage signatures / mis-counted distances."""
    from byte_convert_avro_spark.operators.dedup import simhash, simhash_near_dup
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with _pytest.raises(ValueError, match=r"\[1, 32\]"):
        simhash(docs, "text", "doc_id", bits=33)
    with _pytest.raises(ValueError):
        simhash(docs, "text", "doc_id", bits=0)
    sigs = spark.createDataFrame([(1, "0" * 64)], "doc_id int, simhash string")
    with _pytest.raises(ValueError, match=r"\[1, 63\]"):
        simhash_near_dup(sigs, bits=64, n_bands=4)


def test_asof_rejects_bad_right_cols(spark):
    """Explicit right_cols containing duplicates or the on/by column would
    build a payload struct with duplicate field names — must RAISE."""
    import pytest as _pytest

    left, right = _frames(spark)
    for bad in (["rv", "rv"], ["rv", "t"], ["rv", "k"]):
        with _pytest.raises(ValueError, match="right_cols"):
            asof_join(left, right, on="t", by="k", right_cols=bad)


def test_connected_components_raises_on_budget_exhaustion(spark):
    """A component that cannot converge within max_iter must RAISE —
    silently returning partially-propagated labels would merge dedup
    clusters wrongly downstream (the documented contract in
    operators/dedup.py).  With pointer jumping a 9-node chain needs ~4
    rounds plus the fixpoint-detection round, so max_iter=2 exhausts."""
    from byte_convert_avro_spark.operators.dedup import connected_components

    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a int, doc_b int"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)
    # the same graph converges fine with an adequate budget
    got = {
        (r.v, r.component)
        for r in connected_components(pairs, max_iter=15).collect()
    }
    assert got == {(i, 0) for i in range(9)}


def test_connected_components_long_chain_logarithmic_rounds(spark):
    """The sf0.1 regression pin: a 200-node chain (diameter 199) must
    converge within an EXPLICIT 12-round budget — pointer jumping makes
    rounds O(log diameter) (~9 observed), where pure min-label
    propagation would need 199 rounds and raised on the sf0.1
    entity-resolution graph.  The budget is passed explicitly rather
    than relying on the default (now 50): a regression to linear
    propagation must fail HERE, not hide inside a generous default.
    Also pins that path compression cannot cross components: two
    disjoint chains keep distinct labels."""
    from byte_convert_avro_spark.operators.dedup import connected_components

    chain_a = [(i, i + 1) for i in range(199)]
    chain_b = [(1000 + i, 1000 + i + 1) for i in range(50)]
    pairs = spark.createDataFrame(chain_a + chain_b, "doc_a int, doc_b int")
    got = {
        (r.v, r.component)
        for r in connected_components(pairs, max_iter=12).collect()
    }
    want = {(i, 0) for i in range(200)} | {(1000 + i, 1000) for i in range(51)}
    assert got == want


def test_multimodal_resize_and_features_contract(spark):
    """resize_images / extract_features: deterministic fakes exercise the
    Arrow-batched plumbing with verifiable outputs; the real hooks raise
    (documented stubs); extract_features feeds similarity ops directly."""
    import hashlib

    import pytest as _pytest

    from byte_convert_avro_spark.operators.multimodal import (
        extract_features,
        resize_images,
    )

    df = spark.createDataFrame([(1, b"some-image-bytes")], "doc_id long, blob binary")

    r = resize_images(df, deterministic_fake=True).collect()[0]
    expect = hashlib.md5(b"some-image-bytes" + b"|64x64").hexdigest() + "|64x64-resized"
    assert bytes(r.resized) == expect.encode()
    assert r.resized_md5 == hashlib.md5(expect.encode()).hexdigest()
    assert (r.out_w, r.out_h, r.out_bytes) == (64, 64, len(expect))

    f = extract_features(df, dim=8, deterministic_fake=True).collect()[0]
    h = hashlib.md5(b"some-image-bytes").hexdigest()
    assert f.features == [(int(h[2 * i: 2 * i + 2], 16) - 127.5) / 127.5 for i in range(8)]
    assert all(-1.0 <= x <= 1.0 for x in f.features)

    with _pytest.raises(Exception) as e1:
        resize_images(df, deterministic_fake=False).collect()
    assert "NotImplementedError" in str(e1.value) or "imaging library" in str(e1.value)
    with _pytest.raises(Exception) as e2:
        extract_features(df, deterministic_fake=False).collect()
    assert "NotImplementedError" in str(e2.value) or "vision encoder" in str(e2.value)
    with _pytest.raises(ValueError):
        extract_features(df, dim=17, deterministic_fake=True)


def test_simhash_near_dup_raises_on_wrong_width_signature(spark):
    """A signature narrower/wider than `bits` would silently break the
    pigeonhole guarantee (bands cover only a prefix) — must raise."""
    from byte_convert_avro_spark.operators.dedup import simhash_near_dup

    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "0" * 16), (2, "0" * 12)], "doc_id int, simhash string"
    )
    with _pytest.raises(Exception, match="signature width"):
        simhash_near_dup(df, bits=16, n_bands=4).collect()


# ---------------------------------------------------------------------------
# strip_repeated_chunks — the applying form of substring-level dedup
# ---------------------------------------------------------------------------
def test_strip_repeated_chunks_rebuilds_text(spark):
    """Hand-built corpus, window=4: the shared 'AAAABBBB' boilerplate
    prefix is stripped from both carriers, unique chunks and the
    un-chunked tail survive, a short doc passes through whole, and an
    all-boilerplate doc strips to just its tail."""
    import hashlib

    from byte_convert_avro_spark.operators.dedup import strip_repeated_chunks

    rows = [
        (1, "AAAABBBBwxyzt"),   # chunks AAAA,BBBB,wxyz + tail 't'
        (2, "AAAABBBBqrstu"),   # chunks AAAA,BBBB,qrst + tail 'u'
        (3, "AAAABBBB"),        # all chunks shared -> only empty tail
        (4, "xy"),              # shorter than window -> passes whole
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.stripped_md5, r.kept_chars, r.n_kept_chunks)
        for r in strip_repeated_chunks(df, "text", "doc_id", window=4).collect()
    }
    want_text = {1: "wxyzt", 2: "qrstu", 3: "", 4: "xy"}
    want_kept = {1: 1, 2: 1, 3: 0, 4: 0}
    assert set(got) == {1, 2, 3, 4}
    for doc_id, txt in want_text.items():
        md5 = hashlib.md5(txt.encode()).hexdigest()
        assert got[doc_id] == (md5, len(txt), want_kept[doc_id]), doc_id


# ---------------------------------------------------------------------------
# shared_fingerprint_pairs — the capped winnowing pair stage
# ---------------------------------------------------------------------------
def test_shared_fingerprint_pairs_cap_drops_universal_fps(spark):
    """f_common sits in ALL 4 docs (> cap=3) so it pairs nothing; docs
    1/2 still pair through their 2 rare shared fps; containment uses
    capped sizes."""
    from byte_convert_avro_spark.operators.text import shared_fingerprint_pairs

    rows = [
        (1, "f_common"), (2, "f_common"), (3, "f_common"), (4, "f_common"),
        (1, "f_rare1"), (2, "f_rare1"),
        (1, "f_rare2"), (2, "f_rare2"),
        (3, "f_only3"),
    ]
    fps = spark.createDataFrame(rows, "doc_id long, fp_hash string")
    got = shared_fingerprint_pairs(
        fps, "doc_id", "fp_hash", min_shared=2, max_docs_per_fp=3
    ).collect()
    assert len(got) == 1
    r = got[0]
    # capped sizes: doc1 -> {rare1, rare2} = 2, doc2 -> 2 (f_common dropped)
    assert (r.doc_a, r.doc_b, r.n_shared, r.n_a, r.n_b) == (1, 2, 2, 2, 2)
    assert r.containment == 1.0


def test_shared_fingerprint_pairs_rejects_cap_below_two(spark):
    import pytest as _pytest

    from byte_convert_avro_spark.operators.text import shared_fingerprint_pairs

    fps = spark.createDataFrame([(1, "x")], "doc_id long, fp_hash string")
    with _pytest.raises(ValueError, match="max_docs_per_fp"):
        shared_fingerprint_pairs(fps, max_docs_per_fp=1)


# ---------------------------------------------------------------------------
# kmeans_minibatch — the hash-sampled trainer
# ---------------------------------------------------------------------------
def test_kmeans_minibatch_full_sample_equals_lloyd(spark):
    """sample_mod=1 samples every row every round, so mini-batch must
    reproduce full Lloyd exactly (same seeds, same folds) on a corpus
    where no cell ever empties."""
    from byte_convert_avro_spark.operators.similarity import (
        kmeans_lloyd,
        kmeans_minibatch,
    )

    rows = [
        (i, [float(i % 3) * 10 + 0.1 * i, float(i % 3) * -5.0]) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = {
        r.cell: r.embedding
        for r in kmeans_lloyd(df, "embedding", "vec_id", k=3, n_iter=2).collect()
    }
    mb = {
        r.cell: r.embedding
        for r in kmeans_minibatch(
            df, "embedding", "vec_id", k=3, n_iter=2, sample_mod=1
        ).collect()
    }
    assert full == mb


def test_kmeans_minibatch_rejects_bad_mod(spark):
    import pytest as _pytest

    from byte_convert_avro_spark.operators.similarity import kmeans_minibatch

    df = spark.createDataFrame([(1, [0.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="sample_mod"):
        kmeans_minibatch(df, sample_mod=0)


# ---------------------------------------------------------------------------
# triangle_count — degree-oriented exactly-once enumeration
# ---------------------------------------------------------------------------
def test_triangle_count_hand_graph(spark):
    """K4 on {1,2,3,4} (4 triangles) + a pendant node + noise the
    canonicalizer must handle: duplicate edges, reversed orientation,
    a self-loop.  The per-node and per-edge operators share the
    oriented adjacency, so the same graph pins them too."""
    from byte_convert_avro_spark.operators.graph import (
        triangle_count,
        triangle_counts_per_node,
        triangle_support_per_edge,
    )

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5),            # pendant — no new triangle
        (2, 1), (3, 1),    # reversed duplicates
        (1, 2),            # exact duplicate
        (5, 5),            # self-loop
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df, "src", "dst").collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 7, 4)
    per_node = {
        r.n: (r.degree, r.triangles)
        for r in triangle_counts_per_node(df, "src", "dst").collect()
    }
    assert per_node == {1: (3, 3), 2: (3, 3), 3: (3, 3), 4: (4, 3), 5: (1, 0)}
    support = {
        (r.a, r.b): r.support
        for r in triangle_support_per_edge(df, "src", "dst").collect()
    }
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert support == {**{e: 2 for e in k4}, (4, 5): 0}


def test_triangle_count_star_has_none(spark):
    """A hub star (the degree-skew regime the orientation exists for):
    0 triangles, and the hub's edges all orient INTO it."""
    from byte_convert_avro_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 30)], "src long, dst long"
    )
    r = triangle_count(df, "src", "dst").collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (30, 29, 0)


# ---------------------------------------------------------------------------
# bloom filter — deterministic sketch pre-filter
# ---------------------------------------------------------------------------
def test_bloom_filter_no_false_negatives(spark):
    """Every member must pass the filter (the Bloom guarantee); absent
    keys mostly fail at this sizing; results are deterministic."""
    from byte_convert_avro_spark.operators.sketch import bloom_build, bloom_probe

    members = spark.createDataFrame([(i,) for i in range(100)], "u long")
    probe = spark.createDataFrame([(i,) for i in range(300)], "u long")
    words = bloom_build(members, "u", m_bits=2016, k=3)
    got = {
        r.u: bool(r.bloom_maybe)
        for r in bloom_probe(probe, words, "u", m_bits=2016, k=3).collect()
    }
    assert all(got[i] for i in range(100)), "false negative!"
    fp = sum(1 for i in range(100, 300) if got[i])
    assert fp < 60  # ~2000 bits / 100 keys / k=3 -> low fp rate
    # deterministic: rebuild gives the identical word table
    w1 = sorted(map(tuple, words.collect()))
    w2 = sorted(map(tuple, bloom_build(members, "u", m_bits=2016, k=3).collect()))
    assert w1 == w2


def test_bloom_build_validates_args(spark):
    import pytest as _pytest

    from byte_convert_avro_spark.operators.sketch import bloom_build

    df = spark.createDataFrame([(1,)], "u long")
    with _pytest.raises(ValueError, match="m_bits"):
        bloom_build(df, "u", m_bits=0)
    with _pytest.raises(ValueError, match="k must"):
        bloom_build(df, "u", k=0)


def test_bloom_probe_null_key_is_false(spark):
    """NULL probe keys must yield boolean False (documented contract),
    not NULL - a NULL verdict escapes both filter(col) and filter(~col)."""
    from byte_convert_avro_spark.operators.sketch import bloom_build, bloom_probe

    members = spark.createDataFrame([(1,), (2,)], "u long")
    probe = spark.createDataFrame([(1,), (None,)], "u long")
    words = bloom_build(members, "u")
    got = {r.u: r.bloom_maybe for r in bloom_probe(probe, words, "u").collect()}
    assert got[1] is True
    assert got[None] is False


def test_bpe_merge_fold_handles_chains(spark):
    """The greedy left-to-right merge fold must merge runs correctly:
    'aaaa' under pair (a,a) -> (aa)(aa), and non-matching words pass
    through unchanged (the string-replace shortcut gets runs wrong —
    this pins the exact fold)."""
    from byte_convert_avro_spark.queries.text import _BPE_SEP, _bpe_exprs
    from pyspark.sql import functions as F

    e = _bpe_exprs()
    s = _BPE_SEP
    df = spark.createDataFrame(
        [("a:a:a:a".replace(":", s),), ("a:b:a:b:c".replace(":", s),), ("x",)],
        "sj string",
    ).crossJoin(
        spark.createDataFrame([("a", "a")], "ml string, mr string")
    )
    got = [
        r.out
        for r in df.select(
            F.expr(
                f"aggregate(slice(split(sj, '{s}'), 2, size(split(sj, '{s}')) - 1),"
                f" element_at(split(sj, '{s}'), 1),"
                f" (acc, x) -> {e['step']},"
                f" acc -> {e['commit']})"
            ).alias("out")
        ).collect()
    ]
    assert got == [f"aa{s}aa", f"a{s}b{s}a{s}b{s}c", "x"]


# ---------------------------------------------------------------------------
# operators/scd.py — parameterized band + SCD2 history


def test_band_label_thresholds_parameterized(spark):
    """Custom thresholds/labels produce the right piecewise bands;
    mismatched lengths and non-ascending thresholds raise at plan time."""
    import pytest

    from byte_convert_avro_spark.operators.scd import band_label

    df = spark.createDataFrame([(v,) for v in [1.0, 9.0, 99.0, 1000.0]], "v double")
    got = [r.b for r in df.select(band_label("v", (10, 100), ("s", "m", "l")).alias("b")).collect()]
    assert got == ["s", "s", "m", "l"]
    # default thresholds are the registry query's original values
    got = [r.b for r in df.select(band_label("v").alias("b")).collect()]
    assert got == ["low", "mid", "high", "high"]
    with pytest.raises(ValueError, match="labels"):
        band_label("v", (10,), ("a", "b", "c"))
    with pytest.raises(ValueError, match="ascend"):
        band_label("v", (100, 10), ("a", "b", "c"))


def test_scd2_history_compresses_runs(spark):
    """Consecutive equal attribute values collapse into one versioned
    interval; valid_to chains to the next version's valid_from; the open
    row is flagged current."""
    from byte_convert_avro_spark.operators.scd import scd2_history

    rows = [
        ("u", 1, 10, "a"), ("u", 2, 20, "a"), ("u", 3, 30, "b"),
        ("u", 4, 40, "b"), ("u", 5, 50, "a"),
        ("v", 6, 15, "x"),
    ]
    df = spark.createDataFrame(rows, "k string, eid long, ts long, attr string")
    hist = {
        (r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.n_events, r.is_current)
        for r in scd2_history(df, "k", "attr", "ts", "eid").collect()
    }
    assert hist[("u", 1)] == ("a", 10, 30, 2, 0)
    assert hist[("u", 2)] == ("b", 30, 50, 2, 0)
    assert hist[("u", 3)] == ("a", 50, None, 1, 1)
    assert hist[("v", 1)] == ("x", 15, None, 1, 1)


def test_pca_power_recovers_dominant_direction(spark):
    """On an anisotropic synthetic corpus (variance concentrated along a
    known axis pair), 5 power-iteration rounds align the learned loading
    with the true direction (|cos| > 0.99), and two runs are
    bit-identical (no RNG anywhere)."""
    import math

    from byte_convert_avro_spark.operators.similarity import pca_power_top_component

    # dominant direction ∝ (3, 4)/5 in dims 1-2, noise in dims 3-4
    rows = []
    for i in range(60):
        a = (i % 7) - 3.0  # strong signal coordinate
        n1 = ((i * 13) % 5 - 2) * 0.01
        n2 = ((i * 29) % 5 - 2) * 0.01
        rows.append((i, [a * 3.0 / 5.0, a * 4.0 / 5.0, n1, n2]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    runs = []
    for _ in range(2):
        got = {
            r.dim: r.loading
            for r in pca_power_top_component(
                df, "embedding", "vec_id", n_iter=5, fold_chunk=16
            ).collect()
        }
        runs.append(got)
    assert runs[0] == runs[1]
    v = [runs[0][d] for d in sorted(runs[0])]
    true_dir = [3.0 / 5.0, 4.0 / 5.0, 0.0, 0.0]
    cos = sum(a * b for a, b in zip(v, true_dir))
    nrm = math.sqrt(sum(x * x for x in v))
    assert abs(cos / nrm) > 0.99, v


def test_media_header_parsers_pure_python():
    """operators/media_headers: real header structs for every supported
    container, defensive None on malformed bytes."""
    import struct

    from byte_convert_avro_spark.operators.media_headers import (
        parse_image_header,
        parse_wav_header,
    )

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 1920, 1080) + bytes([8, 2, 0, 0, 0])
    )
    assert parse_image_header(png) == {
        "width": 1920, "height": 1080, "channels": 3, "format": "png"
    }

    # JPEG with APP0 + DQT segments BEFORE the SOF0 marker (the scan must
    # walk segment lengths, not assume SOF position)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 600, 800) + bytes([3, 0, 0, 0])
    jpeg = b"\xff\xd8" + app0 + dqt + sof0
    assert parse_image_header(jpeg) == {
        "width": 800, "height": 600, "channels": 3, "format": "jpeg"
    }

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert parse_image_header(gif)["width"] == 320
    # 14-byte file header then the DIB header; dims layout depends on the
    # DIB variant, keyed by its size field (ADVICE r07 fix)
    bmp = b"BM" + b"\x00" * 12 + struct.pack("<I", 40) + struct.pack("<ii", 100, -50) + b"\x00" * 4
    got = parse_image_header(bmp)
    assert (got["width"], got["height"]) == (100, 50)  # top-down negative h
    core = b"BM" + b"\x00" * 12 + struct.pack("<I", 12) + struct.pack("<HH", 640, 480)
    got = parse_image_header(core)  # BITMAPCOREHEADER: 16-bit unsigned dims
    assert (got["width"], got["height"]) == (640, 480)
    os2 = b"BM" + b"\x00" * 12 + struct.pack("<I", 16) + struct.pack("<ii", 7, 7)
    assert parse_image_header(os2) is None  # unrecognized DIB size: None, not garbage
    v5_large = b"BM" + b"\x00" * 12 + struct.pack("<I", 124) + struct.pack("<ii", 32, 16) + b"\x00" * 4
    assert parse_image_header(v5_large)["width"] == 32  # BITMAPV5HEADER layout matches INFO

    assert parse_image_header(b"") is None
    assert parse_image_header(b"\xff\xd8\x00\x01") is None  # marker desync
    assert parse_image_header(b"\x89PNG\r\n\x1a\nXXXX") is None

    # WAV with an odd-length LIST chunk BEFORE fmt (word-alignment walk)
    lst = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"  # padded
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    dat = b"data" + struct.pack("<I", 32000)
    wav = b"RIFF" + struct.pack("<I", 100) + b"WAVE" + lst + fmt + dat
    assert parse_wav_header(wav) == {
        "duration_ms": 2000, "sample_rate": 8000, "channels": 1, "codec": "wav"
    }
    assert parse_wav_header(b"RIFFxxxxAVI ") is None
    assert parse_wav_header(b"") is None


# ---------------------------------------------------------------------------
# round-7 self-review regression tests


def test_scd2_history_null_attrs_collapse(spark):
    """NULL attribute values are a real value: consecutive NULLs compress
    into ONE run (null-safe equality), and a leading NULL still opens its
    run (lag-of-constant distinguishes 'no previous row')."""
    from byte_convert_avro_spark.operators.scd import scd2_history

    rows = [
        ("u", 1, 10, None), ("u", 2, 20, None), ("u", 3, 30, "a"),
        ("u", 4, 40, None),
    ]
    df = spark.createDataFrame(rows, "k string, eid long, ts long, attr string")
    hist = {
        r.version: (r.attr, r.n_events, r.is_current)
        for r in scd2_history(df, "k", "attr", "ts", "eid").collect()
    }
    assert hist == {
        1: (None, 2, 0),  # two leading NULLs = one run
        2: ("a", 1, 0),
        3: (None, 1, 1),
    }


def test_bounded_ordered_agg_rejects_reserved_names(spark):
    import pytest

    df = spark.createDataFrame([(0, 1, 1.0)], "g int, k long, osum double")
    with pytest.raises(ValueError, match="reserves column names"):
        BF_bounded(df)


def BF_bounded(df):
    from byte_convert_avro_spark import functions as BF

    return BF.bounded_ordered_agg(df, ["g"], "k", "osum")


def test_jpeg_fill_bytes_and_eoi():
    """ITU T.81 fill bytes (0xFF runs before a marker) must not desync
    the SOF scan; an EOI before any SOF returns None."""
    import struct

    from byte_convert_avro_spark.operators.media_headers import parse_image_header

    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 10, 20) + bytes([3, 0, 0, 0])
    )
    padded = b"\xff\xd8" + b"\xff\xff\xff" + sof0  # fill run then SOF
    got = parse_image_header(padded)
    assert got and (got["width"], got["height"]) == (20, 10)
    assert parse_image_header(b"\xff\xd8\xff\xd9") is None  # EOI first


def test_bigram_familiarity_survives_short_docs(spark, tmp_path):
    """A one-word (and an empty) document must not crash the bigram
    explode (sequence(1, 0) is DESCENDING in Spark): short docs simply
    drop, matching DuckDB's empty generate_series."""
    from byte_convert_avro_spark.queries.training_prep import doc_bigram_familiarity

    docs = spark.createDataFrame(
        [(1, "hello world again", "s", "en"), (2, "single", "s", "en"),
         (3, "", "s", "en")],
        "doc_id long, text string, source string, lang string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r.n_bigrams for r in doc_bigram_familiarity(spark, str(tmp_path)).collect()}
    assert got == {1: 2}


def test_word_shingles_short_docs_no_crash(spark):
    """Docs shorter than n words yield zero shingles (the explode's
    inferred predicates must not evaluate a throwing transform on
    unfiltered rows)."""
    from byte_convert_avro_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "one"), (3, "")], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.sh) for r in word_shingles(df, n=3).select("doc_id", "sh").collect()
    )
    assert got == [(1, "a b c"), (1, "b c d")]


def test_bpe_pair_explode_survives_fully_merged_word(spark):
    """A 2-char word that IS the learned merge collapses to one symbol;
    the next round's pair explode must yield zero pairs for it, not an
    ANSI element_at error."""
    import os
    import tempfile

    from byte_convert_avro_spark.queries.text import _bpe_train_spark

    d = tempfile.mkdtemp()
    # 'ab' dominates -> merge 1 = (a, b); word 'ab' becomes ONE symbol
    docs = spark.createDataFrame(
        [(i, "ab ab ab abc xy", "s", "en") for i in range(3)],
        "doc_id long, text string, source string, lang string",
    )
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    _, rules = _bpe_train_spark(spark, d, n_rounds=3)
    assert rules[0][:2] == ("a", "b")
    assert len(rules) == 3  # rounds 2-3 ran over the collapsed table


# ---------------------------------------------------------------------------
# round-8: bounded hierarchy walk


def test_walk_to_root_depths_roots_and_multiple_trees(spark):
    """(node, root, depth) over a two-tree forest; roots appear with
    depth 0; converged rows ride along while deep chains keep walking."""
    from byte_convert_avro_spark.operators.graph import walk_to_root

    #      1            10
    #     / \            |
    #    2   3          11
    #        |
    #        4
    edges = [(2, 1), (3, 1), (4, 3), (11, 10)]
    df = spark.createDataFrame(edges, "node long, parent long")
    got = {r.n: (r.root, r.depth) for r in walk_to_root(df).collect()}
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 2), 10: (10, 0), 11: (10, 1)
    }


def test_walk_to_root_cycle_raises(spark):
    """A parent cycle can never converge — typed error at max_rounds, not
    a silent partial answer."""
    import pytest

    from byte_convert_avro_spark.operators.graph import walk_to_root

    df = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "node long, parent long")
    with pytest.raises(RuntimeError, match="converge"):
        walk_to_root(df, max_rounds=5)
    with pytest.raises(ValueError, match="max_rounds"):
        walk_to_root(df, max_rounds=0)


def test_walk_to_root_depth_exceeding_bound_raises(spark):
    """A chain deeper than max_rounds raises instead of emitting a
    truncated walk."""
    import pytest

    from byte_convert_avro_spark.operators.graph import walk_to_root

    chain = [(i + 1, i) for i in range(10)]  # depth-10 path 10->...->0
    df = spark.createDataFrame(chain, "node long, parent long")
    with pytest.raises(RuntimeError, match="converge"):
        walk_to_root(df, max_rounds=3)
    out = {r.n: r.depth for r in walk_to_root(df, max_rounds=12).collect()}
    assert out[10] == 10 and out[0] == 0


def test_pagerank_storage_level_identical_ranks(spark):
    """Checkpoints are always serialized MEMORY_AND_DISK blocks, a
    memory-footprint choice, not a semantic one: reruns are bit-identical,
    ranks match a plain-Python power iteration, and the two-level chunked
    fold (``fold_chunk``) covers the same nodes as the flat fold with ranks
    equal up to float accumulation order."""
    from byte_convert_avro_spark.operators.graph import pagerank_fixed_rounds

    def ranks(edges, **kw):
        out = pagerank_fixed_rounds(edges, n_rounds=3, **kw).collect()
        return {r.v: r.rank for r in out}

    e0 = [(i, (i * 7) % 20) for i in range(20) if i != (i * 7) % 20]
    pairs = sorted(set(e0 + [(d, s) for s, d in e0]))
    edges = spark.createDataFrame(pairs, "src long, dst long")
    base = ranks(edges)
    assert ranks(edges) == base
    ref = _pagerank_reference(pairs)
    assert base.keys() == ref.keys()
    assert all(abs(base[v] - ref[v]) < 1e-12 for v in base)
    chunked = ranks(edges, fold_chunk=4)
    assert chunked.keys() == base.keys()
    assert all(abs(chunked[v] - base[v]) < 1e-12 for v in base)


def test_flac_header_parser_pure_python():
    """parse_flac_header: spec-exact STREAMINFO bit unpack; malformed
    inputs (wrong magic, non-STREAMINFO first block, short block, zero
    sample rate) return None."""
    import struct

    from byte_convert_avro_spark.operators.media_headers import parse_flac_header

    def build(rate, ch, bps, samples, block_type=0, block_len=34):
        pack = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | samples
        return (
            b"fLaC"
            + bytes([0x80 | block_type])
            + block_len.to_bytes(3, "big")
            + b"\x10\x00\x10\x00" + b"\x00\x00\x00" * 2
            + struct.pack(">Q", pack)
            + b"\x00" * 16
        )

    got = parse_flac_header(build(44100, 2, 16, 44100 * 30))
    assert got == {
        "duration_ms": 30000, "sample_rate": 44100, "channels": 2, "codec": "flac"
    }
    assert parse_flac_header(build(96000, 8, 24, 1))["channels"] == 8
    assert parse_flac_header(build(8000, 1, 16, 7999))["duration_ms"] == 999

    assert parse_flac_header(b"") is None
    assert parse_flac_header(b"fLaC") is None
    assert parse_flac_header(build(44100, 2, 16, 100, block_type=4)) is None
    assert parse_flac_header(build(44100, 2, 16, 100, block_len=20)) is None
    assert parse_flac_header(build(0, 2, 16, 100)) is None  # zero rate


def test_decode_audio_metadata_flac_route(spark):
    """decode_audio_metadata sniffs WAV first, then FLAC; junk stays a
    PERMISSIVE unknown row."""
    import struct

    from byte_convert_avro_spark.operators.multimodal import decode_audio_metadata

    pack = (48000 << 44) | (0 << 41) | (15 << 36) | 48000 * 2
    flac = (
        b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
        + b"\x10\x00\x10\x00" + b"\x00\x00\x00" * 2
        + struct.pack(">Q", pack) + b"\x00" * 16
    )
    df = spark.createDataFrame([(1, flac), (2, b"not-audio")], "doc_id long, blob binary")
    got = {r.doc_id: r for r in decode_audio_metadata(df).collect()}
    assert (got[1].codec, got[1].duration_ms, got[1].channels) == ("flac", 2000, 1)
    assert got[2].codec == "unknown" and got[2].sample_rate is None


def test_mp3_header_parser_pure_python():
    """parse_mp3_header: MPEG1/2 Layer III tables, ID3v2 skip, CBR
    duration estimate; Layer I/II, reserved version, free/bad bitrate,
    and missing sync return None."""
    from byte_convert_avro_spark.operators.media_headers import parse_mp3_header

    def frame(b1, br_idx, sr_idx, mode):
        return bytes([0xFF, b1, (br_idx << 4) | (sr_idx << 2), mode << 6])

    # MPEG1 L3 128kbps 44.1kHz stereo, 16000 bytes -> exactly 1000 ms
    blob = frame(0xFB, 9, 0, 0) + b"\x00" * (16000 - 4)
    assert parse_mp3_header(blob) == {
        "duration_ms": 1000, "sample_rate": 44100, "channels": 2, "codec": "mp3"
    }
    # MPEG2 L3 (version bits 10): the LOW bitrate table; mono
    got = parse_mp3_header(frame(0xF3, 9, 0, 3) + b"\x00" * 7996)
    assert (got["sample_rate"], got["channels"]) == (22050, 1)
    assert got["duration_ms"] == 8000 * 8 // 80  # idx 9 in V2 table = 80
    # ID3v2 tag skipped (syncsafe size)
    id3 = b"ID3" + bytes([4, 0, 0]) + bytes([0, 0, 0, 100]) + b"x" * 100
    assert parse_mp3_header(id3 + blob)["duration_ms"] == 1000
    # ID3v2.4 FOOTER flag (0x10): a 10-byte footer follows the body,
    # not counted in the syncsafe size (review fix)
    id3f = (
        b"ID3" + bytes([4, 0, 0x10]) + bytes([0, 0, 0, 100])
        + b"x" * 100 + b"3DI" + b"\x00" * 7
    )
    assert parse_mp3_header(id3f + blob)["duration_ms"] == 1000

    assert parse_mp3_header(b"") is None
    assert parse_mp3_header(b"\xff\xfb") is None          # truncated header
    assert parse_mp3_header(frame(0xFD, 9, 0, 0) + b"\x00" * 100) is None  # Layer II
    assert parse_mp3_header(frame(0xEB, 9, 0, 0) + b"\x00" * 100) is None  # reserved ver
    assert parse_mp3_header(frame(0xFB, 0, 0, 0) + b"\x00" * 100) is None  # free bitrate
    assert parse_mp3_header(frame(0xFB, 15, 0, 0) + b"\x00" * 100) is None  # bad bitrate
    assert parse_mp3_header(frame(0xFB, 9, 3, 0) + b"\x00" * 100) is None  # bad rate idx
    assert parse_mp3_header(b"AB" + blob) is None          # no sync at start


def test_webp_header_parser_pure_python():
    """parse_image_header WEBP: VP8X canvas dims, VP8L packed dims +
    alpha bit, VP8 lossy key frame; malformed/unknown chunks -> None."""
    from byte_convert_avro_spark.operators.media_headers import parse_image_header

    vp8x = (
        b"RIFF" + (30).to_bytes(4, "little") + b"WEBP"
        + b"VP8X" + (10).to_bytes(4, "little")
        + bytes([0x10, 0, 0, 0])
        + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little")
    )
    assert parse_image_header(vp8x) == {
        "width": 1920, "height": 1080, "channels": 4, "format": "webp"
    }
    b = (639) | (479 << 14)  # no alpha
    vp8l = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
        + b"VP8L" + (9).to_bytes(4, "little") + bytes([0x2F]) + b.to_bytes(4, "little")
    )
    assert parse_image_header(vp8l) == {
        "width": 640, "height": 480, "channels": 3, "format": "webp"
    }
    vp8 = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (12).to_bytes(4, "little")
        + b"\x00" * 3 + b"\x9d\x01\x2a"
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little")
    )
    assert parse_image_header(vp8)["width"] == 320
    assert parse_image_header(b"RIFF1234WEBPXXXX") is None  # unknown chunk
    assert parse_image_header(vp8[:20]) is None              # truncated
    bad_start = vp8[:23] + b"\x00\x00\x00" + vp8[26:]
    assert parse_image_header(bad_start) is None             # bad start code
    vp8l_bad_sig = vp8l[:20] + bytes([0x30]) + vp8l[21:]
    assert parse_image_header(vp8l_bad_sig) is None


def test_asof_nearest_native(spark):
    """Native nearest: per left row the smaller absolute gap wins, exact
    ties prefer backward; tolerance nulls both directions; equals the
    cogrouped merge_asof path on tie-free data."""
    from byte_convert_avro_spark.operators.asof import (
        asof_join_nearest_native,
        asof_join_tolerance,
    )

    left, right = _frames(spark)
    got = {
        (r.k, r.t): (r.rv_asof, r.t_asof)
        for r in asof_join_nearest_native(left, right, on="t", by="k").collect()
    }
    # a@10: candidates 8 (gap 2) vs 20 (gap 10) -> 8; a@35: 30 (5) vs none fwd
    # b@5: only forward 50
    assert got == {
        ("a", 10): (100, 8),
        ("a", 20): (200, 20),
        ("a", 35): (300, 30),
        ("b", 5): (400, 50),
    }
    # exact tie prefers backward: left t=25, right at 20 and 30 (gap 5 each)
    l2 = spark.createDataFrame([("a", 25, "L")], "k string, t long, lv string")
    tie = asof_join_nearest_native(l2, right, on="t", by="k").collect()[0]
    assert (tie.rv_asof, tie.t_asof) == (200, 20)
    # tolerance bounds both directions
    t3 = {
        (r.k, r.t): r.rv_asof
        for r in asof_join_nearest_native(
            left, right, on="t", by="k", tolerance=3
        ).collect()
    }
    assert t3 == {("a", 10): 100, ("a", 20): 200, ("a", 35): None, ("b", 5): None}
    # parity with the cogrouped nearest on this tie-free fixture
    cg = {
        (r.k, r.t): r.rv_asof
        for r in asof_join_tolerance(
            left, right, on="t", by="k", direction="nearest"
        ).collect()
    }
    native = {k: v[0] for k, v in got.items()}
    assert cg == native


def test_mp4_header_parser_pure_python():
    """parse_mp4_header: box walk to moov/mvhd (+ trak/tkhd dims), v0 and
    v1 mvhd layouts, largesize boxes; malformed walks return None."""
    import struct

    from byte_convert_avro_spark.operators.media_headers import parse_mp4_header

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    mvhd = box(
        b"mvhd",
        b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", 1000, 30500) + b"\x00" * 80,
    )
    tkhd = box(
        b"tkhd",
        b"\x00" * 4 + b"\x00" * 72 + struct.pack(">II", 1920 << 16, 1080 << 16),
    )
    blob = ftyp + box(b"moov", mvhd + box(b"trak", tkhd))
    assert parse_mp4_header(blob) == {
        "duration_ms": 30500, "width": 1920, "height": 1080, "format": "mp4"
    }
    # version-1 mvhd: 64-bit times/duration
    mvhd1 = box(
        b"mvhd",
        b"\x01" + b"\x00" * 3 + b"\x00" * 16
        + struct.pack(">I", 90000) + struct.pack(">Q", 90000 * 12) + b"\x00" * 76,
    )
    got = parse_mp4_header(ftyp + box(b"moov", mvhd1))
    assert (got["duration_ms"], got["width"]) == (12000, None)
    # largesize (size==1 + 64-bit) moov still walks
    inner = mvhd
    large_moov = (
        struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(inner)) + inner
    )
    assert parse_mp4_header(ftyp + large_moov)["duration_ms"] == 30500

    assert parse_mp4_header(b"") is None
    assert parse_mp4_header(b"junkjunkjunkjunk") is None
    assert parse_mp4_header(ftyp) is None                       # no moov
    assert parse_mp4_header(ftyp + box(b"moov", b"")) is None   # empty moov
    zero_ts = box(
        b"mvhd", b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", 0, 10) + b"\x00" * 80
    )
    assert parse_mp4_header(ftyp + box(b"moov", zero_ts)) is None
    # box claiming to extend past the buffer: walk stops, no moov found
    bad = ftyp + struct.pack(">I", 999) + b"moov" + b"\x00" * 8
    assert parse_mp4_header(bad) is None


def test_decode_video_metadata_permissive(spark):
    """decode_video_metadata: real MP4 parse + PERMISSIVE unknown row."""
    import struct

    from byte_convert_avro_spark.operators.multimodal import decode_video_metadata

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    mvhd = box(
        b"mvhd",
        b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", 600, 1200) + b"\x00" * 80,
    )
    mp4 = ftyp + box(b"moov", mvhd)
    df = spark.createDataFrame(
        [(1, mp4), (2, b"not-a-video")], "doc_id long, blob binary"
    )
    got = {r.doc_id: r for r in decode_video_metadata(df).collect()}
    assert (got[1].format, got[1].duration_ms) == ("mp4", 2000)
    assert got[2].format == "unknown" and got[2].duration_ms is None
    assert got[2].n_bytes == 11 and len(got[2].content_md5) == 32


def test_lsh_candidates_bucket_cap(spark):
    """max_docs_per_bucket drops oversized (band, sig) buckets BEFORE the
    pair join (enumeration bound); small buckets still pair; the
    per-doc cap composes; bad cap raises."""
    import pytest

    from byte_convert_avro_spark.operators.dedup import lsh_candidates

    # one band; sig 'hub' shared by 5 docs, sig 'pair' by 2
    rows = [(i, 0, "hub") for i in range(5)] + [(10, 0, "pair"), (11, 0, "pair")]
    sigs = spark.createDataFrame(rows, "doc_id long, band int, sig string")

    unc = {(r.doc_a, r.doc_b) for r in lsh_candidates(sigs).collect()}
    assert len(unc) == 10 + 1  # C(5,2) hub pairs + the small-bucket pair

    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidates(sigs, max_docs_per_bucket=4).collect()
    }
    assert capped == {(10, 11)}  # hub bucket (5 > 4) dropped entirely

    both = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidates(
            sigs, max_pairs_per_doc=3, max_docs_per_bucket=10
        ).collect()
    }
    assert (10, 11) in both and len(both) <= 11

    with pytest.raises(ValueError, match="max_docs_per_bucket"):
        lsh_candidates(sigs, max_docs_per_bucket=1)


def test_asof_nearest_null_payload_and_duplicate_left_rows(spark):
    """Round-8 review regression: the join-back form dropped left rows
    with NULL columns (null-unsafe equality) and multiplied duplicate
    left rows (2x2 self-match).  The single-pass form passes both
    through one-for-one."""
    from byte_convert_avro_spark.operators.asof import asof_join_nearest_native

    left = spark.createDataFrame(
        [("a", 10, None), ("a", 10, None), ("a", 20, "x")],
        "k string, t long, lv string",
    )
    right = spark.createDataFrame([("a", 8, 100)], "k string, t long, rv long")
    rows = asof_join_nearest_native(left, right, on="t", by="k").collect()
    assert len(rows) == 3  # both duplicates AND the null-payload rows kept
    assert all(r.rv_asof == 100 for r in rows)
    assert sorted((r.t, r.lv) for r in rows) == [(10, None), (10, None), (20, "x")]


def test_simhash_and_signlsh_bucket_caps(spark):
    """The round-8 enumeration cap applied symmetrically across the LSH
    families: oversized buckets drop pre-join; pairs from small buckets
    survive; simhash documents the pigeonhole trade explicitly."""
    import pytest

    from byte_convert_avro_spark.operators.dedup import simhash_near_dup
    from byte_convert_avro_spark.operators.similarity import (
        sign_lsh_banded_candidates,
    )

    # 5 identical signatures (every band a 5-doc bucket) + a near pair
    rows = [(i, "1010101010101010") for i in range(5)]
    rows += [(10, "0101010101010101"), (11, "0101010101010111")]
    sigs = spark.createDataFrame(rows, "doc_id long, simhash string")
    unc = {(r.doc_a, r.doc_b) for r in simhash_near_dup(sigs).collect()}
    assert len(unc) == 10 + 1
    capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dup(sigs, max_docs_per_bucket=4).collect()
    }
    assert capped == {(10, 11)}
    with pytest.raises(ValueError, match="max_docs_per_bucket"):
        simhash_near_dup(sigs, max_docs_per_bucket=1)

    vecs = [(i, [1.0] * 8) for i in range(5)] + [
        (10, [-1.0] * 8), (11, [-1.0] * 8)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    unc2 = {
        (r.id_a, r.id_b)
        for r in sign_lsh_banded_candidates(df, n_bands=2, bits_per_band=4).collect()
    }
    assert len(unc2) == 10 + 1
    capped2 = {
        (r.id_a, r.id_b)
        for r in sign_lsh_banded_candidates(
            df, n_bands=2, bits_per_band=4, max_docs_per_bucket=4
        ).collect()
    }
    assert capped2 == {(10, 11)}


def test_pca_two_components_deflation(spark):
    """Component 2 is orthogonal to component 1 (to float rounding) and
    recovers the second variance direction; both runs reproduce."""
    from byte_convert_avro_spark.operators.similarity import (
        pca_power_two_components,
    )

    rows = []
    for i in range(200):
        a = (i % 7) - 3.0
        b = ((i * 3) % 5) - 2.0
        rows.append(
            (i, [a * 0.6 + b * 0.1, a * 0.8 - b * 0.075, b * 0.5,
                 0.01 * ((i * 13) % 5 - 2)])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    runs = []
    for _ in range(2):
        out = {
            (r.component, r.dim): r.loading
            for r in pca_power_two_components(
                df, n_iter=5, fold_chunk=16
            ).collect()
        }
        runs.append(out)
    assert runs[0] == runs[1]  # deterministic across runs
    v1 = [runs[0][(1, d)] for d in range(1, 5)]
    v2 = [runs[0][(2, d)] for d in range(1, 5)]
    assert abs(sum(a * b for a, b in zip(v1, v2))) < 1e-9  # orthogonal
    # v2 dominated by the b-signal axis (dim 3)
    assert abs(v2[2]) > 0.9


def test_kmv_grouped_chunk_invariance_and_exactness(spark):
    """kmv_grouped's chunking must be invisible in the result: chunks=1
    (one chunk == the direct rank filter) and chunks=8/64 produce
    IDENTICAL sketches, small groups are exact (k_used == distinct
    count), duplicates never shift the sketch, and NULL values are
    excluded."""
    from byte_convert_avro_spark.operators.sketch import kmv_grouped

    rows = [("a", i % 50) for i in range(500)]          # heavy duplicates
    rows += [("b", i) for i in range(200)]              # distinct-rich
    rows += [("c", i) for i in range(5)] + [("c", None)]  # small + NULL
    df = spark.createDataFrame(rows, "g string, v int")
    outs = {
        c: {
            r.g: (r.k_used, r.kth, r.distinct_est)
            for r in kmv_grouped(df, ["g"], "v", k=32, chunks=c).collect()
        }
        for c in (1, 8, 64)
    }
    assert outs[1] == outs[8] == outs[64]
    got = outs[1]
    assert set(got) == {"a", "b", "c"}
    # small group: exact, below k
    assert got["c"][0] == 5 and got["c"][2] == 5.0
    # duplicates collapse: group a has 50 distinct values -> k_used = 32
    assert got["a"][0] == 32 and got["b"][0] == 32
    # doubling every row changes nothing
    doubled = kmv_grouped(df.unionAll(df), ["g"], "v", k=32, chunks=8)
    assert {
        r.g: (r.k_used, r.kth, r.distinct_est) for r in doubled.collect()
    } == got


def test_kmv_grouped_matches_direct_rank_filter(spark):
    """The chunked min-k merge must equal the direct per-key
    row_number-over-distinct-hashes reference (the oracle's spelling)
    bit-for-bit, including the estimator."""
    from pyspark.sql import Window as W

    from byte_convert_avro_spark.operators.sketch import kmv_grouped

    rows = [(f"g{i % 7}", f"u{(i * 13) % 211}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {
        r.g: (r.k_used, r.kth, r.distinct_est)
        for r in kmv_grouped(df, ["g"], "v", k=16, chunks=4).collect()
    }
    hv = F.conv(F.substring(F.md5(F.col("v")), 1, 8), 16, 10).cast("long")
    h = df.select("g", hv.alias("hv")).distinct()
    rn = F.row_number().over(W.partitionBy("g").orderBy("hv"))
    ref_rows = (
        h.withColumn("rn", rn)
        .filter(F.col("rn") <= 16)
        .groupBy("g")
        .agg(F.count("*").cast("long").alias("k_used"), F.max("hv").alias("kth"))
        .collect()
    )
    ref = {}
    for r in ref_rows:
        est = float(r.k_used) if r.k_used < 16 else 15.0 * 4294967296.0 / r.kth
        ref[r.g] = (r.k_used, r.kth, est)
    assert got == ref


def test_kmv_grouped_no_driver_group_loop_plan(spark):
    """The scale contract: ONE plan regardless of group count — a
    Window (streaming lag + dense_rank) below a single bounded merge
    aggregate, no Python stages, and no per-group collect-and-loop (the
    plan is built before any job runs)."""
    from byte_convert_avro_spark.operators.sketch import kmv_grouped
    from byte_convert_avro_spark.plans.inspect import explain_str

    df = spark.createDataFrame([("a", 1)], "g string, v int")
    out = kmv_grouped(df, ["g"], "v", k=8, chunks=16)
    plan = explain_str(out)
    assert "Window" in plan and "dense_rank" in plan
    # no Python execution stages (the local-data scan's
    # applySchemaToPythonRDD line is the input, not a stage)
    for node in ("BatchEvalPython", "ArrowEvalPython", "InPandas"):
        assert node not in plan
    import pytest

    with pytest.raises(ValueError):
        kmv_grouped(df, ["g"], "v", k=1)
    with pytest.raises(ValueError):
        kmv_grouped(df, ["g"], "v", chunks=0)


def test_bfs_min_hops_known_graph(spark):
    """bfs_min_hops on a hand-built graph: min-hop distances exact, a
    node discovered at two depths keeps the minimum, hop budget cuts
    the walk, unreachable nodes absent, hop 0 = the seed set even for
    isolated seeds."""
    from byte_convert_avro_spark.operators.graph import bfs_min_hops

    #  1 -> 2 -> 3 -> 4 -> 5, plus shortcut 1 -> 3, and 9 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,), (9,)], "node int")
    out = bfs_min_hops(edges, seeds, 10)
    assert out.columns == ["node", "hop"]  # caller's node name, not 'n'
    got = {r.node: r.hop for r in out.collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 1, 4: 2, 5: 3}
    capped = {r.node: r.hop for r in bfs_min_hops(edges, seeds, 2).collect()}
    assert capped == {1: 0, 9: 0, 2: 1, 3: 1, 4: 2}
    zero = {r.node: r.hop for r in bfs_min_hops(edges, seeds, 0).collect()}
    assert zero == {1: 0, 9: 0}
    renamed = bfs_min_hops(
        edges.withColumnRenamed("src", "a").withColumnRenamed("dst", "b"),
        seeds.withColumnRenamed("node", "user"),
        2, node="user", src="a", dst="b",
    )
    assert renamed.columns == ["user", "hop"]
    assert {r.user: r.hop for r in renamed.collect()} == capped
    import pytest

    with pytest.raises(ValueError):
        bfs_min_hops(edges, seeds, -1)


def test_minhash_rows_per_band_shapes_and_default_identity(spark):
    """rows_per_band: r=1 must be BIT-IDENTICAL to the pre-parameter
    signatures (oracle queries depend on it); r=2 concatenates two
    independent 32-hex minima per band and shrinks unrelated-doc bucket
    collisions (two docs sharing a band sig at r=2 must share BOTH
    component minima)."""
    from byte_convert_avro_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    r1 = minhash_signatures(df)
    r1b = minhash_signatures(df, rows_per_band=1)
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r1b.collect()))
    assert all(len(r.sig) == 32 for r in r1.collect())
    r2 = minhash_signatures(df, n_bands=4, rows_per_band=2)
    rows = r2.collect()
    assert {r.band for r in rows} == {0, 1, 2, 3}
    assert all(len(r.sig) == 64 for r in rows)
    # near-identical docs share bands at r=2; unrelated docs share none
    sig = {(r.doc_id, r.band): r.sig for r in rows}
    shared_12 = sum(sig[(1, b)] == sig[(2, b)] for b in range(4))
    shared_13 = sum(sig[(1, b)] == sig[(3, b)] for b in range(4))
    assert shared_12 >= 1 and shared_13 == 0
    import pytest

    with pytest.raises(ValueError):
        minhash_signatures(df, rows_per_band=0)


def test_k_core_peel_known_graph(spark):
    """k_core_peel on a hand graph: a 4-clique (every node degree 3)
    survives k=3 peeling; the pendant chain peels off over two rounds;
    stats per round are exact and the converged rounds repeat."""
    from byte_convert_avro_spark.operators.graph import k_core_peel

    # 4-clique 1-2-3-4 plus chain 4-5-6
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r.round: (r.n_nodes, r.n_edges)
        for r in k_core_peel(df, k=3, rounds=4).collect()
    }
    # round 0: all 6 nodes, 8 edges; round 1 removes BOTH chain nodes
    # simultaneously (6 has degree 1, 5 degree 2 — peeling drops every
    # node under k in the same round); the 4-clique is the stable 3-core
    assert got[0] == (6, 8)
    assert got[1] == (4, 6)
    assert got[2] == (4, 6)
    assert got[4] == (4, 6)
    import pytest

    with pytest.raises(ValueError):
        k_core_peel(df, k=0, rounds=1)
    with pytest.raises(ValueError):
        k_core_peel(df, k=2, rounds=-1)
    # total peel: k above every degree empties the graph in round 1 and
    # the stats rows for the empty rounds must read (0, 0), not NULL —
    # covers the coalesce'd degree-derived stats path
    empty = {
        r.round: (r.n_nodes, r.n_edges)
        for r in k_core_peel(df, k=10, rounds=2).collect()
    }
    assert empty == {0: (6, 8), 1: (0, 0), 2: (0, 0)}


def test_rank_sketch_chunk_and_partition_invariance(spark):
    """rank_sketch_grouped must be a pure function of row CONTENT: the
    chunk parameter, the input partitioning, and row arrival order are
    all invisible in the sketch (the property KLL/GK cannot offer and
    the reason this sketch can sit under a cross-engine oracle gate).
    Small groups keep every row; NULL values are excluded."""
    from byte_convert_avro_spark.operators.sketch import rank_sketch_grouped

    rows = [("a", i, float((i * 37) % 1000)) for i in range(500)]
    rows += [("b", 1000 + i, float(i)) for i in range(10)]
    rows += [("b", 2000, None)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    outs = {}
    for c, reparted in ((1, False), (8, True), (64, False)):
        d = df.repartition(13) if reparted else df
        outs[(c, reparted)] = {
            r.g: (r.k_used, tuple(r.smp))
            for r in rank_sketch_grouped(
                d, ["g"], "v", "id", k=32, chunks=c
            ).collect()
        }
    vals = list(outs.values())
    assert vals[0] == vals[1] == vals[2]
    got = vals[0]
    assert got["b"][0] == 10  # small group: every non-NULL row kept
    assert got["b"][1] == tuple(sorted(float(i) for i in range(10)))
    assert got["a"][0] == 32
    assert list(got["a"][1]) == sorted(got["a"][1])  # smp is value-sorted


def test_rank_sketch_merge_equals_whole(spark):
    """Mergeability — the property that makes the sketch usable for
    daily-partition rollups: sketch(part1) ++ sketch(part2) merged at
    the same k must equal sketch(whole) exactly, for any split."""
    from byte_convert_avro_spark.operators.sketch import (
        rank_sketch_grouped,
        rank_sketch_merge,
    )

    rows = [(f"g{i % 3}", i, float((i * 17) % 500)) for i in range(900)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    whole = {
        r.g: (r.k_used, tuple(r.smp))
        for r in rank_sketch_grouped(
            df, ["g"], "v", "id", k=24, chunks=8
        ).collect()
    }
    p1 = df.filter(F.col("id") % 2 == 0)
    p2 = df.filter(F.col("id") % 2 == 1)
    parts = rank_sketch_grouped(p1, ["g"], "v", "id", k=24, chunks=8).unionAll(
        rank_sketch_grouped(p2, ["g"], "v", "id", k=24, chunks=8)
    )
    merged = {
        r.g: (r.k_used, tuple(r.smp))
        for r in rank_sketch_merge(parts, ["g"], k=24).collect()
    }
    assert merged == whole


def test_rank_sketch_quantile_convention_and_error(spark):
    """The integer order-statistic convention: idx = max(1, ceil(q*n))
    computed as (q_num*n + q_den - 1) DIV q_den — checked against a
    known sample — and the k=128 sketch's p50 rank error on a 10k-row
    group stays inside 3x the one-sided binomial sd sqrt(.25/128) ~ 4.4%
    (a seeded determinism check, not a probabilistic one: the hash is
    fixed, so the error is a constant this test pins)."""
    from byte_convert_avro_spark.operators.sketch import (
        rank_sketch_grouped,
        rank_sketch_quantile,
    )

    # convention: n=10 -> p50 idx 5, p90 idx 9; n=1 -> both idx 1
    df = spark.createDataFrame(
        [("x", i, float(i)) for i in range(1, 11)], "g string, id long, v double"
    )
    sk = rank_sketch_grouped(df, ["g"], "v", "id", k=32, chunks=1)
    r = sk.select(
        rank_sketch_quantile("smp", 1, 2).alias("p50"),
        rank_sketch_quantile("smp", 9, 10).alias("p90"),
    ).collect()[0]
    assert (r.p50, r.p90) == (5.0, 9.0)
    big = spark.createDataFrame(
        [("x", i, float(i)) for i in range(10_000)], "g string, id long, v double"
    )
    est = (
        rank_sketch_grouped(big, ["g"], "v", "id", k=128, chunks=8)
        .select(rank_sketch_quantile("smp", 1, 2).alias("p50"))
        .collect()[0]
        .p50
    )
    assert abs(est / 10_000.0 - 0.5) < 3 * (0.25 / 128) ** 0.5


def test_rank_sketch_validates_args(spark):
    import pytest

    from byte_convert_avro_spark.operators.sketch import (
        rank_sketch_grouped,
        rank_sketch_quantile,
    )

    df = spark.createDataFrame([("a", 1, 1.0)], "g string, id long, v double")
    with pytest.raises(ValueError):
        rank_sketch_grouped(df, ["g"], "v", "id", k=1)
    with pytest.raises(ValueError):
        rank_sketch_grouped(df, ["g"], "v", "id", k=8, chunks=0)
    with pytest.raises(ValueError):
        rank_sketch_quantile("smp", 0, 10)
    with pytest.raises(ValueError):
        rank_sketch_quantile("smp", 11, 10)


def test_redact_pii_staged_order_and_edges(spark):
    """The staged contract: emails go first (digit-heavy local parts),
    dotted quads second (they'd otherwise match the phone heuristic),
    phones last on redacted text — plus edge inputs: text with no PII
    is unchanged, 256+ octets don't match IPv4, a bare 8-digit run DOES
    match the phone heuristic (recall-over-precision, documented), and
    counts are per-stage-input so nothing double-counts."""
    from byte_convert_avro_spark.operators.text import redact_pii

    rows = [
        ("clean text, no identifiers here",),
        ("a.b+c_1@x-y.co.uk and d@e.io",),
        ("quad 10.0.3.7 but not 999.1.1.1 as an ip",),
        ("call +1 (415) 555-0188 now",),
        ("ids 12345678 kept but 123456789 trips",),
        ("mix: u9@h.com at 192.168.0.1 tel 020-7946-0958",),
    ]
    df = spark.createDataFrame(rows, "t string")
    out = {r.t: r for r in redact_pii(df, "t").collect()}
    r0 = out[rows[0][0]]
    assert (r0.n_emails, r0.n_ipv4, r0.n_phones) == (0, 0, 0)
    assert r0.text_redacted == rows[0][0]
    assert out[rows[1][0]].n_emails == 2
    r2 = out[rows[2][0]]
    # 999.1.1.1 is NOT an IPv4 (octet > 255) — but the 9-char dotted
    # run then falls through to the PHONE heuristic, the documented
    # recall-over-precision cascade: nothing digit-dense survives.
    assert r2.n_ipv4 == 1 and r2.n_phones == 1
    assert r2.text_redacted == "quad <IP> but not <PHONE> as an ip"
    r3 = out[rows[3][0]]
    assert r3.n_phones == 1 and r3.text_redacted == "call <PHONE> now"
    r4 = out[rows[4][0]]
    # the phone heuristic's floor is 9 chars (digit + 7-of-class +
    # digit): an 8-digit id survives, a 9-digit run is scrubbed — the
    # documented recall trade at its exact boundary
    assert r4.n_phones == 1
    assert r4.text_redacted == "ids 12345678 kept but <PHONE> trips"
    r5 = out[rows[5][0]]
    assert (r5.n_emails, r5.n_ipv4, r5.n_phones) == (1, 1, 1)
    assert r5.text_redacted == "mix: <EMAIL> at <IP> tel <PHONE>"


def test_count_min_never_underestimates_and_merges(spark):
    """Count-min contract: every estimate >= the true count (collisions
    only ADD); per-partition matrices merged by cell-wise sum equal the
    whole-corpus matrix; the matrix is a pure function of content (the
    same rows re-partitioned build the identical sketch); absent items
    get pure collision mass, never negative."""
    from byte_convert_avro_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    rows = [(i, f"t{i % 17}") for i in range(1700)] + [
        (1700 + j, "rare") for j in range(3)
    ]
    df = spark.createDataFrame(rows, "rid long, token string")
    sk = count_min_build(df, "token", d=3, w=8)  # 18 items in 8 cols
    items = spark.createDataFrame(
        [(f"t{i}",) for i in range(17)] + [("rare",), ("absent",)],
        "token string",
    )
    est = {
        r.token: r.est
        for r in count_min_estimate(sk, items, "token", d=3, w=8).collect()
    }
    exact = {f"t{i}": 100 for i in range(17)}
    exact["rare"] = 3
    for tk, true_cnt in exact.items():
        assert est[tk] >= true_cnt, (tk, est[tk], true_cnt)
    assert est["absent"] >= 0
    # mergeability: sum of part matrices == whole matrix
    p1 = df.filter(F.col("rid") < 850)
    p2 = df.filter(F.col("rid") >= 850)
    parts = count_min_build(p1, "token", d=3, w=8).unionAll(
        count_min_build(p2, "token", d=3, w=8)
    )
    merged = parts.groupBy("i", "pos").agg(F.sum("cnt").alias("cnt"))
    whole = {
        (r.i, r.pos): r.cnt
        for r in count_min_build(df, "token", d=3, w=8).collect()
    }
    got = {(r.i, r.pos): r.cnt for r in merged.collect()}
    assert got == whole
    # content determinism under re-partitioning
    re13 = {
        (r.i, r.pos): r.cnt
        for r in count_min_build(df.repartition(13), "token", d=3, w=8).collect()
    }
    assert re13 == whole
    import pytest

    with pytest.raises(ValueError):
        count_min_build(df, "token", d=0)
    with pytest.raises(ValueError):
        count_min_build(df, "token", w=1)


def test_bellman_ford_rounds_known_graph(spark):
    """bellman_ford_rounds on a hand-built weighted graph: a cheaper
    two-edge path must BEAT a direct edge (the no-visited-set property
    BFS cannot express), distances improve in later rounds, the round
    budget bounds path length, unreachable nodes are absent, and the
    caller's column names survive."""
    from byte_convert_avro_spark.operators.graph import bellman_ford_rounds

    #  1 -10-> 4, but 1 -1-> 2 -1-> 4 is cheaper; 4 -1-> 5;
    #  3-edge path 1->2->4->5 (cost 3); 9 unreachable island edge.
    edges = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 4, 1), (4, 5, 1), (9, 8, 1)],
        "src int, dst int, w int",
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    out = bellman_ford_rounds(edges, seeds, 3)
    assert out.columns == ["node", "dist"]
    got = {r.node: r.dist for r in out.collect()}
    assert got == {1: 0, 2: 1, 4: 2, 5: 3}
    # one round: only direct edges relaxed — 4 still costs 10
    r1 = {r.node: r.dist for r in bellman_ford_rounds(edges, seeds, 1).collect()}
    assert r1 == {1: 0, 2: 1, 4: 10}
    # two rounds: 4 improves to 2 (cheaper longer path), 5 appears via 4@10+1
    r2 = {r.node: r.dist for r in bellman_ford_rounds(edges, seeds, 2).collect()}
    assert r2 == {1: 0, 2: 1, 4: 2, 5: 11}
    # zero rounds: seeds only
    r0 = {r.node: r.dist for r in bellman_ford_rounds(edges, seeds, 0).collect()}
    assert r0 == {1: 0}
    renamed = bellman_ford_rounds(
        edges.withColumnRenamed("src", "a")
        .withColumnRenamed("dst", "b")
        .withColumnRenamed("w", "cost"),
        seeds.withColumnRenamed("node", "user"),
        2,
        node="user",
        src="a",
        dst="b",
        weight="cost",
    )
    assert renamed.columns == ["user", "dist"]
    assert {r.user: r.dist for r in renamed.collect()} == r2
    import pytest

    with pytest.raises(ValueError):
        bellman_ford_rounds(edges, seeds, -1)


def test_neighborhood_kmv_equals_bottomk_of_exact_reach(spark):
    """neighborhood_kmv after r rounds must equal the bottom-k of the
    md5 hashes of the EXACT r-hop neighborhood, for every node — the
    mergeability invariant HyperBall-style sweeps rely on.  Crafted
    path+branch graph, k=3 so saturation truncates some sketches."""
    import hashlib

    from byte_convert_avro_spark.operators.graph import neighborhood_kmv

    #  1-2-3-4-5 path plus branch 3-6; undirected = both directions
    und = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src int, dst int"
    )
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def reach(v, r):
        seen = {v}
        frontier = {v}
        for _ in range(r):
            frontier = {x for f in frontier for x in adj.get(f, ())} - set()
            seen |= frontier
        return seen

    def h32(n):
        return int(hashlib.md5(str(n).encode()).hexdigest()[:8], 16)

    out = neighborhood_kmv(edges, k=3, rounds=2)
    got = {(r.radius, r.node): (r.k_used, r.kth) for r in out.collect()}
    for v in adj:
        for r in (1, 2):
            hs = sorted(h32(x) for x in reach(v, r))
            keep = hs[:3]
            assert got[(r, v)] == (len(keep), keep[-1]), (v, r, keep, got[(r, v)])
    # validation
    import pytest

    with pytest.raises(ValueError):
        neighborhood_kmv(edges, k=1, rounds=1)
    with pytest.raises(ValueError):
        neighborhood_kmv(edges, k=3, rounds=0)


# ---------------------------------------------------------------------------
# label_propagation_rounds — deterministic smallest-label tie rule
# ---------------------------------------------------------------------------
def test_label_propagation_two_cliques_hand_trace(spark):
    """LPA on two triangles bridged by one edge, hand-traced for rounds
    1 and 2: the smallest-label tie rule (argmax on (count, -label))
    must reproduce the exact synchronous trajectory, and the internal
    symmetric-closure + dedup must make duplicate edges, reversed
    duplicates, and self-loops no-ops."""
    import pytest

    from byte_convert_avro_spark.operators.graph import label_propagation_rounds

    base = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    edges = spark.createDataFrame(base, "src int, dst int")

    # Round 1 from self-labels: every vote count is 1, so each node takes
    # its smallest neighbor id.
    r1 = {r.node: r.lbl for r in label_propagation_rounds(edges, 1).collect()}
    assert r1 == {1: 2, 2: 1, 3: 1, 10: 3, 11: 10, 12: 10}

    # Round 2 from r1's labels (hand-derived): node 1 sees {1: 2} -> 1;
    # node 10 sees {10: 2, 1: 1} -> 10 (count beats smallness); 11 and 12
    # tie {3: 1, 10: 1} -> 3 (smallest label on a count tie).
    r2 = {r.node: r.lbl for r in label_propagation_rounds(edges, 2).collect()}
    assert r2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 3, 12: 3}

    # Multi-edges, reversed duplicates, and self-loops must not change
    # the vote counts (dedup + a != b filter inside the operator).
    noisy = spark.createDataFrame(
        base + [(2, 1), (1, 2), (1, 1), (10, 11)], "src int, dst int"
    )
    r2n = {r.node: r.lbl for r in label_propagation_rounds(noisy, 2).collect()}
    assert r2n == r2

    # Renamed columns survive.
    ren = label_propagation_rounds(
        edges.withColumnRenamed("src", "a").withColumnRenamed("dst", "b"),
        1,
        src="a",
        dst="b",
    )
    assert ren.columns == ["node", "lbl"]
    assert {r.node: r.lbl for r in ren.collect()} == r1

    with pytest.raises(ValueError):
        label_propagation_rounds(edges, 0)


# ---------------------------------------------------------------------------
# language_id — marker scoring and the fixed tie-priority order
# ---------------------------------------------------------------------------
def test_language_id_crafted_docs(spark):
    """language_id on crafted docs: each language's markers win their own
    doc, an exact en/de score tie resolves to en (the documented fixed
    priority es < fr < de < en), a shared marker (' la ' is in both fr
    and es lists) does not flip a clear es doc, and a marker-free doc is
    'unknown'."""
    from byte_convert_avro_spark.operators.text import language_id

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of war"),
            (2, "der hund und die katze"),
            (3, "le chien et la maison"),
            (4, "el gato y la casa"),
            (5, "the und"),  # s_en == s_de == 1 -> tie -> en
            (6, "zzz qqq"),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.guessed_lang for r in language_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "en", 6: "unknown"}
    # output contract: adds exactly the one column
    assert language_id(docs).columns == ["doc_id", "text", "guessed_lang"]


# ---------------------------------------------------------------------------
# dot_col — the public sequential-fold dot product wrapper
# ---------------------------------------------------------------------------
def test_dot_col_sequential_fold(spark):
    """dot_col computes the left-to-right IEEE fold of the elementwise
    product — pinned on exact-representable values and on the empty
    array (fold over nothing = the 0.0 seed)."""
    from pyspark.sql import functions as F

    from byte_convert_avro_spark.operators.similarity import dot_col

    df = spark.createDataFrame(
        [
            ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0], 32.0),
            ([0.5, -0.25], [8.0, 4.0], 3.0),
            ([], [], 0.0),
        ],
        "a array<double>, b array<double>, want double",
    )
    rows = df.select(dot_col("a", "b").alias("got"), "want").collect()
    assert all(r.got == r.want for r in rows), rows


def test_band_join_matches_brute_force_incl_negatives(spark):
    """band_join == the naive |l-r|<=delta cross filter on a crafted set
    spanning the sign boundary (truncation-toward-zero buckets), bucket
    boundaries (values exactly delta apart), and duplicates (every pair
    must appear exactly once — single-witness, no dedup pass)."""
    from byte_convert_avro_spark.operators.intervals import band_join

    lvals = [-1001, -1000, -999, -500, -1, 0, 1, 499, 500, 501, 1000, 7, 7]
    rvals = [-1500, -1000, -501, -500, -499, 0, 250, 500, 999, 1000, 7]
    left = spark.createDataFrame(
        [(i, v) for i, v in enumerate(lvals)], "lid int, lv long"
    )
    right = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rvals)], "rid int, rv long"
    )
    for delta, bucket in ((500, None), (500, 100), (0, None), (3, 1000)):
        got = sorted(
            (r.lid, r.rid)
            for r in band_join(left, right, "lv", "rv", delta, bucket).collect()
        )
        want = sorted(
            (i, j)
            for i, lv in enumerate(lvals)
            for j, rv in enumerate(rvals)
            if abs(lv - rv) <= delta
        )
        assert got == want, (delta, bucket, got[:20], want[:20])


def test_band_join_rejects_bad_args(spark):
    from byte_convert_avro_spark.operators.intervals import band_join

    import pytest as _pytest

    df = spark.createDataFrame([(1,)], "v long")
    df2 = spark.createDataFrame([(1,)], "w long")
    with _pytest.raises(ValueError, match="delta"):
        band_join(df, df2, "v", "w", delta=-1)
    with _pytest.raises(ValueError, match="bucket"):
        band_join(df, df2, "v", "w", delta=5, bucket=0)
    with _pytest.raises(ValueError, match="disjoint"):
        band_join(df, df.select(F.col("v")), "v", "v", delta=5)


# ---------------------------------------------------------------------------
# HyperLogLog (operators/sketch.py HLL block)


def test_hll_registers_merge_identity_and_bounds(spark):
    """Splitting the input arbitrarily, sketching each split, and
    hll_merge-ing must give the identical register table as one global
    build (MAX associativity); rho stays within [1, 27]."""
    from byte_convert_avro_spark.operators import sketch as SK

    df = spark.createDataFrame(
        [(i % 7, f"u{i}") for i in range(2000)], "g int, uid string"
    )
    whole = SK.hll_registers(df, ["g"], "uid")
    parts = [
        SK.hll_registers(df.filter(F.col("uid").substr(2, 9).cast("long") % 3 == k), ["g"], "uid")
        for k in range(3)
    ]
    merged = SK.hll_merge(parts[0].union(parts[1]).union(parts[2]), ["g"])
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b
    rhos = [r.rho for r in whole.collect()]
    assert all(1 <= r <= 27 for r in rhos), sorted(set(rhos))


def test_hll_linear_counting_branch_small_cardinality(spark):
    """With n << m the raw estimator is biased; the finalize must take
    the literal linear-counting branch: estimate == 64*ln(64/V) for the
    observed V, and with distinct hashes mapping to distinct registers
    the LC estimate is close to truth."""
    import math

    from byte_convert_avro_spark.operators import sketch as SK

    df = spark.createDataFrame([(f"x{i}",) for i in range(5)], "uid string")
    regs = SK.hll_registers(df.withColumn("g", F.lit(1)), ["g"], "uid")
    row = SK.hll_finalize(regs, ["g"]).collect()[0]
    v = row.v_empty
    assert 59 <= v <= 64 - 1  # 5 values land in <= 5 registers
    assert row.hll_estimate == SK.HLL_LC[v - 1]
    assert row.hll_estimate == 64.0 * math.log(64.0 / v)
    # LC at this density is essentially exact
    assert abs(row.hll_estimate - (64 - v) * 1.0) < 1.0


def test_hll_estimate_accuracy_midrange(spark):
    """Raw-branch accuracy: at n=5000 with m=64 the standard error is
    1.04/sqrt(64) = 13%; assert within 3 sigma."""
    from byte_convert_avro_spark.operators import sketch as SK

    df = spark.createDataFrame(
        [(f"user-{i}",) for i in range(5000)], "uid string"
    ).withColumn("g", F.lit(1))
    row = SK.hll_finalize(SK.hll_registers(df, ["g"], "uid"), ["g"]).collect()[0]
    assert row.v_empty == 0
    assert 5000 * 0.61 < row.hll_estimate < 5000 * 1.39, row.hll_estimate


def test_hll_duplicate_insensitive(spark):
    """Feeding each value once vs 50x must give byte-identical state
    (no DISTINCT needed anywhere — max(rho) absorbs duplicates)."""
    from byte_convert_avro_spark.operators import sketch as SK

    once = spark.createDataFrame([(f"v{i}",) for i in range(100)], "u string")
    many = spark.createDataFrame(
        [(f"v{i}",) for i in range(100) for _ in range(50)], "u string"
    )
    a = sorted(
        map(tuple, SK.hll_registers(once.withColumn("g", F.lit(1)), ["g"], "u").collect())
    )
    b = sorted(
        map(tuple, SK.hll_registers(many.withColumn("g", F.lit(1)), ["g"], "u").collect())
    )
    assert a == b


def test_hll_empty_input_canonical_sketch(spark):
    """An EMPTY keyless input must yield the canonical empty sketch in
    both engines — one row, v_empty=m, sum_pow=m*2^32, estimate 0.0
    (= LC[m] = m*ln(1)) — not zero rows in one engine and NULLs in the
    other (the r13 ADVICE divergence: hll_sql's keyless aggregate always
    emits a row, while Spark's groupBy over empty input emits none)."""
    import duckdb

    from byte_convert_avro_spark.operators import sketch as SK

    con = duckdb.connect()
    con.execute("CREATE TABLE ev AS SELECT 1 AS uid WHERE false")
    row = con.execute(
        "SELECT * FROM (" + SK.hll_sql("ev", "", "uid") + ")"
    ).fetchall()
    assert row == [(SK.HLL_M, SK.HLL_M * 4294967296, 0.0)]
    # Spark side: groupBy over empty -> zero rows, which is why query
    # sites seed a left join; pin that the seed-coalesce spelling lands
    # on the same 0.0.
    empty = spark.createDataFrame([], "g int, uid string")
    fin = SK.hll_finalize(SK.hll_registers(empty, ["g"], "uid"), ["g"])
    assert fin.count() == 0
    seeded = (
        spark.range(1)
        .select(F.lit(1).alias("g"))
        .join(fin, "g", "left")
        .select(F.coalesce(F.col("hll_estimate"), F.lit(0.0)).alias("est"))
        .collect()
    )
    assert [r.est for r in seeded] == [0.0]


def test_skyline_rejects_non_integral_min_col(spark):
    """skyline_2d's RANGE frame needs an exact integer sort key; a
    double min_col must raise instead of silently producing
    engine-dependent boundary results (r13 ADVICE)."""
    import pytest

    from byte_convert_avro_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame([(1.0, 2)], "price double, sz int")
    with pytest.raises(ValueError, match="integral"):
        skyline_2d(df, "price", "sz")
    # integral passes validation
    ok = spark.createDataFrame([(1, 2)], "price int, sz int")
    assert skyline_2d(ok, "price", "sz").count() == 1


# ---------------------------------------------------------------------------
# skyline_2d (operators/skyline.py)


def _brute_skyline(rows):
    out = []
    for x in rows:
        dominated = any(
            y[0] <= x[0]
            and y[1] >= x[1]
            and (y[0] < x[0] or y[1] > x[1])
            for y in rows
        )
        if not dominated:
            out.append(x)
    return sorted(out)


def test_skyline_2d_matches_brute_force_with_ties(spark):
    """skyline_2d == NOT EXISTS brute force on a crafted set including
    duplicate points (mutually non-dominating), same-x and same-y ties,
    and a strictly-dominated chain; any bucket count gives same rows."""
    from byte_convert_avro_spark.operators.skyline import skyline_2d

    pts = [
        (1, 10), (1, 10), (1, 9),  # duplicate frontier point + dominated
        (2, 12), (2, 11),          # same-x tie: only (2,12) survives
        (3, 12),                   # same-y as (2,12): dominated (worse x)
        (0, 1), (5, 20), (4, 20),  # (5,20) dominated by (4,20)
        (7, 3),                    # interior
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pts)], "id int, x long, y long"
    )
    want = _brute_skyline(pts)
    for buckets in (1, 4, 32):
        got = sorted(
            (r.x, r.y)
            for r in skyline_2d(df, "x", "y", buckets=buckets).collect()
        )
        assert got == want, (buckets, got, want)


def test_skyline_2d_grouped_and_random(spark):
    """Grouped skylines are independent per group; fuzz vs brute force."""
    import random

    from byte_convert_avro_spark.operators.skyline import skyline_2d

    rng = random.Random(13)
    rows = [
        (g, rng.randrange(20), rng.randrange(20))
        for g in ("a", "b", "c")
        for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = sorted(
        (r.g, r.x, r.y)
        for r in skyline_2d(df, "x", "y", group_keys=["g"]).collect()
    )
    want = sorted(
        (g, x, y)
        for g in ("a", "b", "c")
        for (x, y) in _brute_skyline(
            [(x, y) for gg, x, y in rows if gg == g]
        )
    )
    assert got == want


def test_skyline_2d_rejects_bad_args(spark):
    import pytest as _pytest

    from byte_convert_avro_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with _pytest.raises(ValueError, match="buckets"):
        skyline_2d(df, "x", "y", buckets=0)
    with _pytest.raises(ValueError, match="distinct"):
        skyline_2d(df, "x", "x")


# ---------------------------------------------------------------------------
# prefix_filter_jaccard (operators/dedup.py)


def test_prefix_filter_jaccard_matches_brute_force(spark):
    """Exact set-similarity join vs brute-force all-pairs on crafted
    token sets: identical sets (J=1), threshold-boundary pairs, subsets,
    disjoint sets, and a shared stopword that must never create a
    candidate on its own."""
    from byte_convert_avro_spark.operators.dedup import prefix_filter_jaccard

    docs = {
        1: {"the", "a", "cat", "sat"},
        2: {"the", "a", "cat", "sat"},          # J=1 with 1
        3: {"the", "a", "cat", "mat"},          # J=0.6 with 1 (3/5)
        4: {"the", "a", "dog", "ran"},          # J(1,4)=2/6 < 0.6
        5: {"the"},                              # stopword only
        6: {"zebra", "yak"},                     # disjoint
        7: {"the", "a", "cat", "sat", "mat"},   # J(1,7)=4/5
    }
    rows = [(d, t) for d, ts in docs.items() for t in ts]
    tokens = spark.createDataFrame(rows, "doc_id int, token string")
    got = sorted(
        (r.id_a, r.id_b, r.inter_sz, r.union_sz)
        for r in prefix_filter_jaccard(tokens, "doc_id", "token", 3, 5).collect()
    )
    want = []
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(docs[a] & docs[b])
            union = len(docs[a] | docs[b])
            if inter * 5 >= union * 3:
                want.append((a, b, inter, union))
    assert got == sorted(want)
    assert (1, 2, 4, 4) in got  # identical pair present
    assert (1, 3, 3, 5) in got  # exactly-at-threshold pair present
    assert all(not (p[0] == 5 or p[1] == 5) for p in got)  # stopword doc alone never pairs


def test_cap_pairs_per_doc_degree_bound_and_clique_band(spark):
    """cap_pairs_per_doc (r14): the both-endpoints top-k rule —
    (a) every doc's surviving degree <= k (a clique of 10 identical
    docs collapses to its top-(k+1)-by-id band, far members drop out:
    the disclosed trade), (b) carry columns ride along unchanged,
    (c) k=1 on a simple chain keeps only mutual-best pairs, and
    (d) k >= max degree is the identity."""
    from collections import Counter

    from byte_convert_avro_spark.operators.dedup import (
        cap_pairs_per_doc,
        prefix_filter_jaccard,
    )

    # clique of 10 identical docs + one isolated doc
    rows = [(d, w) for d in range(10) for w in ("x", "y", "z")] + [(99, "q")]
    tokens = spark.createDataFrame(rows, "doc_id int, token string")
    pairs = prefix_filter_jaccard(tokens, "doc_id", "token", 3, 5)
    assert pairs.count() == 45  # full clique
    capped = cap_pairs_per_doc(pairs, 3).collect()
    deg = Counter()
    for r in capped:
        deg[r.id_a] += 1
        deg[r.id_b] += 1
        assert (r.inter_sz, r.union_sz, r.jacc) == (3, 3, 1.0)  # carry cols
    assert deg and max(deg.values()) <= 3
    # ties rank by partner id: doc d's top-3 = 3 smallest other ids, so
    # survivors are exactly the pairs within {0,1,2,3} — C(4,2) = 6
    assert sorted((r.id_a, r.id_b) for r in capped) == [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)
    ]
    # identity when k >= max degree
    assert cap_pairs_per_doc(pairs, 9).count() == 45
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_pairs_per_doc"):
        cap_pairs_per_doc(pairs, 0)


def test_pq_train_encode_adc_match_python(spark):
    """PQ operators (r14) vs a direct Python recompute on a tiny
    corpus: per-subspace Lloyd centroids, nearest-codeword codes
    (lowest-cell ties), and ADC estimates = sum of per-subspace partial
    distances in subspace order.  Also: the dim % m validation."""
    import pytest as _pytest

    from byte_convert_avro_spark.operators import similarity as S

    # 6 vectors, dim 4, m=2 subspaces of 2 dims, k=2, 1 iteration
    vecs = {
        0: [0.0, 0.0, 10.0, 10.0],
        1: [1.0, 1.0, 11.0, 11.0],
        2: [0.5, 0.0, 10.5, 10.0],
        3: [9.0, 9.0, 0.0, 0.0],
        4: [9.5, 9.0, 0.5, 0.0],
        5: [10.0, 9.5, 1.0, 0.5],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    cb_df = S.pq_train(df, m=2, k=2, n_iter=1)
    cb = [(r.sub, r.cell, list(r.ce)) for r in cb_df.collect()]

    # python recompute: seeds = vectors 0,1 per subspace; 1 lloyd round
    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    expect = {}
    for s in range(2):
        subs = {i: v[s * 2 : s * 2 + 2] for i, v in vecs.items()}
        cents = {0: subs[0], 1: subs[1]}
        assign = {
            i: min(cents, key=lambda c: (d2(subs[i], cents[c]), c))
            for i in subs
        }
        for c in set(assign.values()):
            members = sorted(i for i in assign if assign[i] == c)
            dims = []
            for dd in range(2):
                acc = 0.0
                for i in members:
                    acc += subs[i][dd]
                dims.append(acc / len(members))
            expect[(s, c)] = dims
    got = {(s_, c_): ce for s_, c_, ce in cb}
    assert got == expect
    # codes
    codes = {
        r.id: (r.code_0, r.code_1)
        for r in S.pq_encode(df, cb).collect()
    }
    for i, v in vecs.items():
        want = tuple(
            min(
                (c for s2, c, _ in cb if s2 == s),
                key=lambda c: (d2(v[s * 2 : s * 2 + 2], got[(s, c)]), c),
            )
            for s in range(2)
        )
        assert codes[i] == want, (i, codes[i], want)
    # ADC estimate for query = vector 0
    est = {
        r.id: r.est_d2
        for r in S.pq_adc_estimates(
            S.pq_encode(df, cb), cb, vecs[0]
        ).collect()
    }
    for i in vecs:
        want = d2(vecs[0][0:2], got[(0, codes[i][0])]) + d2(
            vecs[0][2:4], got[(1, codes[i][1])]
        )
        assert est[i] == want
    bad = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="divisible"):
        S.pq_train(bad, m=2, k=1, n_iter=1)


def test_weighted_bottom_k_exact_semantics(spark):
    """weighted_bottom_k (r14): keys recomputed independently with
    Python hashlib must match Spark's md5 draw exactly; weight<=0 and
    NULL rows excluded; rank respects (key, id) order; the expansion
    guard raises on oversized weights."""
    import hashlib

    from byte_convert_avro_spark.operators.sampling import weighted_bottom_k

    rows = [
        ("s1", "a", 3), ("s1", "b", 1), ("s1", "c", 5), ("s1", "d", 0),
        ("s2", "e", 2), ("s2", "f", None),
    ]
    df = spark.createDataFrame(rows, "g string, id string, w int")
    got = {
        (r.g, r.id): (r.weight, r.sample_key, r.rank)
        for r in weighted_bottom_k(df, ["g"], "id", "w", k=2).collect()
    }

    def key(i, w):
        return min(
            int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16)
            for j in range(1, w + 1)
        )

    expect_keys = {i: key(i, w) for _, i, w in rows if w}
    # per-stratum expected top-2 by (key, id)
    s1 = sorted((expect_keys[i], i) for i in ("a", "b", "c"))[:2]
    assert set(got) == {("s1", s1[0][1]), ("s1", s1[1][1]), ("s2", "e")}
    for (g, i), (w, k_, rk) in got.items():
        assert k_ == expect_keys[i]
    assert got[("s2", "e")][2] == 1
    # duplicate (stratum, id) observations SUM their weights — the
    # determinism fix (unique ids per stratum -> total (key, id) order)
    dup = spark.createDataFrame(
        [("s", "a", 2), ("s", "a", 3)], "g string, id string, w int"
    )
    row = weighted_bottom_k(dup, ["g"], "id", "w", k=1).collect()[0]
    assert (row.weight, row.sample_key) == (5, key("a", 5))
    import pytest as _pytest

    big = spark.createDataFrame([("s", "x", 5000)], "g string, id string, w int")
    with _pytest.raises(ValueError, match="max_weight"):
        weighted_bottom_k(big, ["g"], "id", "w", k=1)
    with _pytest.raises(ValueError, match="k must be"):
        weighted_bottom_k(df, ["g"], "id", "w", k=0)


def test_weighted_bottom_k_merge_across_shards(spark):
    """The min-of-hash key composes across shards exactly like KMV:
    sampling each shard then re-sampling the union of shard samples
    (with keys preserved) gives the same top-k as one global pass —
    the property that makes the sample reproducible on a grown
    corpus."""
    from byte_convert_avro_spark.operators.sampling import weighted_bottom_k

    rows = [("g", f"i{n}", (n % 7) + 1) for n in range(50)]
    df = spark.createDataFrame(rows, "g string, id string, w int")
    whole = sorted(
        (r.id, r.sample_key)
        for r in weighted_bottom_k(df, ["g"], "id", "w", k=5).collect()
    )
    shards = [
        weighted_bottom_k(
            df.filter(F.substring("id", 2, 9).cast("int") % 3 == m),
            ["g"], "id", "w", k=5,
        )
        for m in range(3)
    ]
    u = shards[0].unionByName(shards[1]).unionByName(shards[2])
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.partitionBy("g").orderBy("sample_key", "id"))
    merged = sorted(
        (r.id, r.sample_key)
        for r in u.withColumn("rk2", rk).filter("rk2 <= 5").collect()
    )
    assert whole == merged


def test_overlap_join_matches_brute_force(spark):
    """overlap_join (r14): absolute-overlap threshold vs brute force on
    crafted sets — containment (small set inside big), boundary
    (exactly c shared), below-threshold, sets smaller than c, and the
    c=1 degenerate (any shared token)."""
    from itertools import combinations

    from byte_convert_avro_spark.operators.dedup import overlap_join

    docs = {
        1: {"a", "b", "c", "d", "e"},
        2: {"a", "b", "c"},            # contained in 1: inter 3
        3: {"a", "b", "x", "y", "z"},  # inter(1,3)=2, inter(2,3)=2
        4: {"p", "q"},                 # smaller than c=3
        5: {"a", "b", "c", "d", "q"},  # inter(1,5)=4, inter(2,5)=3
    }
    rows = [(d, w) for d, ws in docs.items() for w in ws]
    tokens = spark.createDataFrame(rows, "doc_id int, token string")

    for c in (1, 3):
        got = sorted(
            (r.id_a, r.id_b, r.inter_sz, r.cont_a, r.cont_b)
            for r in overlap_join(tokens, min_overlap=c).collect()
        )
        want = sorted(
            (
                a,
                b,
                len(docs[a] & docs[b]),
                len(docs[a] & docs[b]) / len(docs[a]),
                len(docs[a] & docs[b]) / len(docs[b]),
            )
            for a, b in combinations(sorted(docs), 2)
            if len(docs[a] & docs[b]) >= c
        )
        assert got == want, f"c={c}"
    # containment readout: doc 2 fully inside doc 1
    by_pair = {
        (r.id_a, r.id_b): r
        for r in overlap_join(tokens, min_overlap=3).collect()
    }
    assert by_pair[(1, 2)].cont_b == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_overlap"):
        overlap_join(tokens, min_overlap=0)


def test_edit1_pairs_fastss_matches_brute_force(spark):
    """FastSS edit-distance-1 join (r14): candidates from the
    1-deletion-variant equi-join, verified by levenshtein — vs
    brute-force over crafted strings covering substitution, insertion/
    deletion, exact duplicates, a distance-2 pair that SHARES a variant
    ('ab'/'ba' both generate 'a' and 'b' — must be verified away), and
    the hub cap."""
    from itertools import combinations

    from byte_convert_avro_spark.operators.strsim import edit1_pairs

    words = {
        1: "cat", 2: "cut",        # substitution
        3: "cats",                 # insertion vs 1
        4: "at",                   # deletion vs 1
        5: "cat",                  # exact dup of 1
        6: "dog",                  # unrelated
        7: "ab", 8: "ba",          # dist 2 but shared deletion variants
    }
    df = spark.createDataFrame(list(words.items()), "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in edit1_pairs(df, "id", "name").collect()
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    want = sorted(
        (a, b, lev(words[a], words[b]))
        for a, b in combinations(sorted(words), 2)
        if lev(words[a], words[b]) <= 1
    )
    assert got == want
    assert (7, 8, 2) not in got  # the shared-variant dist-2 pair verified away
    assert (1, 5, 0) in got      # exact duplicates included at dist 0
    # hub cap: with a cap of 2 the 'cat'-cluster variants shared by 3+
    # strings drop; the surviving pair set is a subset
    capped = sorted(
        (r.id_a, r.id_b)
        for r in edit1_pairs(df, "id", "name", max_strings_per_variant=2).collect()
    )
    assert set(capped) <= {(a, b) for a, b, _ in want}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_strings_per_variant"):
        edit1_pairs(df, "id", "name", max_strings_per_variant=1)


def test_prefix_filter_jaccard_rejects_bad_threshold(spark):
    import pytest as _pytest

    from byte_convert_avro_spark.operators.dedup import prefix_filter_jaccard

    tokens = spark.createDataFrame([(1, "x")], "doc_id int, token string")
    with _pytest.raises(ValueError, match="t_num"):
        prefix_filter_jaccard(tokens, "doc_id", "token", 0, 5)
    with _pytest.raises(ValueError, match="t_num"):
        prefix_filter_jaccard(tokens, "doc_id", "token", 6, 5)


def test_hll_parameterized_precision_cross_engine(spark):
    """The p-parameterized HLL pipeline hash-matches its DuckDB SQL
    twin at precisions other than the gated default (p=4 exercises the
    published small-m alpha constant and the LC branch; p=8 the
    closed-form alpha and the raw branch) — backing the SCALE.md claim
    that precision widens with the same probed-portable arithmetic."""
    import duckdb
    import pandas as pd

    from byte_convert_avro_spark.operators import sketch as SK

    pdf = pd.DataFrame(
        {
            "g": ["x"] * 3000 + ["y"] * 8,
            "uid": [f"user-{i}" for i in range(3000)]
            + [f"tiny-{i}" for i in range(8)],
        }
    )
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("tbl", pdf)
    for p in (4, 8):
        got = sorted(
            map(
                tuple,
                SK.hll_finalize(
                    SK.hll_registers(df, ["g"], "uid", p), ["g"], p
                ).collect(),
            )
        )
        want = sorted(
            map(tuple, con.sql(SK.hll_sql("tbl", "g", "uid", p)).fetchall())
        )
        assert got == want, (p, got, want)
        # regime sanity: the tiny group takes the LC branch and is near
        # exact; the big group's raw estimate is within 3 sigma
        by_g = {r[0]: r for r in got}
        m = 1 << p
        assert by_g["y"][1] > 0  # v_empty > 0 on the tiny group
        sigma = 1.04 / (m ** 0.5)
        assert abs(by_g["x"][3] - 3000) < 3 * sigma * 3000, (p, by_g["x"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="precision"):
        SK.hll_registers(df, ["g"], "uid", 13)


def test_rank_join_truncation_is_exact(spark):
    """The per-group top-k truncation under a top-k join is exact: fuzz
    a grouped two-sided rank join vs the full-join brute force,
    including tie-dense scores (the monotonicity certificate's edge)."""
    import random

    from pyspark.sql import Window as W

    rng = random.Random(131)
    cs = [(g, i, rng.randrange(6)) for g in range(4) for i in range(40)]
    ss = [(g, i, rng.randrange(6)) for g in range(4) for i in range(40)]
    c = spark.createDataFrame(cs, "g int, cid int, cv long")
    s = spark.createDataFrame(ss, "g int, sid int, sv long")
    k = 10
    want = sorted(
        (
            (cg, ci, si, cv + sv)
            for (cg, ci, cv) in cs
            for (sg, si, sv) in ss
            if cg == sg
        ),
        key=lambda r: (-r[3], r[1], r[2]),
    )[:k]
    topc = (
        c.withColumn(
            "_r",
            F.row_number().over(
                W.partitionBy("g").orderBy(F.col("cv").desc(), "cid")
            ),
        )
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    tops = (
        s.withColumn(
            "_r",
            F.row_number().over(
                W.partitionBy("g").orderBy(F.col("sv").desc(), "sid")
            ),
        )
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    got = [
        (r.g, r.cid, r.sid, r.score)
        for r in (
            topc.join(tops, "g")
            .select("g", "cid", "sid", (F.col("cv") + F.col("sv")).alias("score"))
            .orderBy(F.col("score").desc(), "cid", "sid")
            .limit(k)
        ).collect()
    ]
    assert got == want, (got, want)


def test_skyline_2d_excludes_null_coordinates(spark):
    """Rows with a NULL coordinate are excluded (dominance against an
    unknown value is undefined; SQL NOT EXISTS would silently keep
    them), and the non-null frontier is unaffected by their presence."""
    from byte_convert_avro_spark.operators.skyline import skyline_2d

    base = [(1, 1, 10), (2, 2, 20), (3, 3, 5)]
    with_nulls = base + [(4, None, 99), (5, 0, None), (6, None, None)]
    df = spark.createDataFrame(with_nulls, "id int, x long, y long")
    got = sorted((r.id, r.x, r.y) for r in skyline_2d(df, "x", "y").collect())
    want = sorted(
        (i, x, y) for i, x, y in base
        if (x, y) in _brute_skyline([(x, y) for _, x, y in base])
    )
    assert got == want, (got, want)


def test_lsh_bucket_enumeration_matches_self_join(spark):
    """The r14 bucket-array pair enumeration (collect sorted doc ids per
    (band, sig) bucket, emit i<j pairs row-locally) must equal the
    self-join form on an adversarial frame: a >2-doc bucket (all C(B,2)
    pairs), a pair matching in MULTIPLE bands (n_bands_matched counts
    each band once), and unsorted input ids (doc_a < doc_b must hold
    under the column ordering, not input order)."""
    from byte_convert_avro_spark.operators.dedup import lsh_candidates

    rows = [
        # band 0, sig X: docs 7, 3, 5 (unsorted) -> pairs (3,5) (3,7) (5,7)
        (7, 0, "X"), (3, 0, "X"), (5, 0, "X"),
        # docs 3, 5 ALSO share band 1 -> (3,5) matched in 2 bands
        (3, 1, "Y"), (5, 1, "Y"),
        # singleton bucket emits nothing
        (9, 0, "Z"),
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, band int, sig string")
    got = {
        (r.doc_a, r.doc_b): r.n_bands_matched
        for r in lsh_candidates(sigs).collect()
    }
    # self-join reference, computed inline
    a = sigs.selectExpr("doc_id doc_a", "band", "sig")
    b = sigs.selectExpr("doc_id doc_b", "band band2", "sig sig2")
    want = {
        (r.doc_a, r.doc_b): r.n
        for r in a.join(
            b, (a.band == b.band2) & (a.sig == b.sig2) & (a.doc_a < b.doc_b)
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("band").alias("n"))
        .collect()
    }
    assert got == want == {(3, 5): 2, (3, 7): 1, (5, 7): 1}


def test_jaccard_similarity_melt_join_edge_cases(spark):
    """The r14 single-join (melted-pair) verification must drop a pair
    whose endpoint has NO shingles (the old inner join's behavior), keep
    zero-overlap pairs dropped, and compute the same exact counts."""
    from byte_convert_avro_spark.operators.dedup import jaccard_similarity

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # shingles: {a b c, b c d}
            (2, "a b c e"),          # shares 'a b c' with doc 1
            (3, "x y"),              # too short: NO shingles
            (4, "p q r s"),          # no overlap with doc 1
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in jaccard_similarity(docs, pairs, "text", "doc_id", 3).collect()
    }
    # (1,3): doc 3 has no shingle row -> dropped; (1,4): zero overlap -> dropped
    assert got == {(1, 2): (1, 2, 2, 1.0 / 3.0)}
