"""Column-function library: value checks + the no-Python guarantee."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from byte_convert_avro_spark import functions as BF
from byte_convert_avro_spark.plans.inspect import explain_str


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 4.0, 4.0]), ([1.0, 0.0, 0.0], [0.0, 1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        BF.dot("a", "b").alias("d"),
        BF.l2_norm("a").alias("na"),
        BF.cosine_similarity("a", "b").alias("cos"),
        BF.l2_distance("a", "b").alias("dist"),
    ).collect()
    assert rows[0].d == 18.0
    assert rows[0].na == 3.0
    assert math.isclose(rows[0].cos, 1.0)
    assert rows[1].cos == 0.0
    assert math.isclose(rows[0].dist, 3.0)
    assert math.isclose(rows[1].dist, math.sqrt(2))


def test_text_functions(spark):
    df = spark.createDataFrame([("Hello, world! Yes",)], "t string")
    r = df.select(
        BF.n_tokens("t").alias("tok"),
        BF.n_words("t").alias("w"),
        BF.punct_ratio("t").alias("p"),
        BF.uppercase_ratio("t").alias("u"),
        BF.content_hash("t").alias("h"),
        BF.md5_long("t").alias("m8"),
        BF.md5_long("t", 13).alias("m13"),
        BF.md5_long("t", 4, start=5).alias("m4"),
        BF.hash_bucket("t", 7).alias("b7"),
    ).collect()[0]
    assert r.tok == 5  # Hello , world ! Yes
    assert r.w == 3
    assert math.isclose(r.p, 2 / 17)
    assert math.isclose(r.u, 2 / 17)
    assert len(r.h) == 32
    hexd = hashlib.md5(b"Hello, world! Yes").hexdigest()
    digits = lambda s, n: int(hexd[s - 1 : s - 1 + n], 16)
    assert r.m8 == digits(1, 8)
    assert r.m13 == digits(1, 13)
    assert r.m4 == digits(5, 4)
    assert r.b7 == digits(1, 8) % 7


def test_time_functions_exact_at_epoch_ns_scale(spark):
    """2026-era ns timestamps: float division would drift; div must not."""
    ns = 1_786_593_368_807_968_123
    df = spark.createDataFrame([(ns,)], "ts long")
    r = df.select(
        BF.epoch_us("ts").alias("us"),
        BF.time_bucket(BF.epoch_us("ts"), 3_600_000_000).alias("bucket"),
    ).collect()[0]
    assert r.us == ns // 1000
    assert r.bucket == (ns // 1000) // 3_600_000_000


def test_all_functions_are_jvm_side(spark):
    """No BatchEvalPython / ArrowEvalPython anywhere — the library's
    codegen guarantee."""
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0], "txt", 12345678901234)],
        "a array<double>, b array<double>, t string, ts long",
    )
    out = df.select(
        BF.cosine_similarity("a", "b"),
        BF.n_tokens("t"),
        BF.punct_ratio("t"),
        BF.content_hash("t"),
        BF.md5_long("t"),
        BF.epoch_us("ts"),
    )
    plan = explain_str(out, "simple")
    assert "Python" not in plan  # no BatchEvalPython/ArrowEvalPython stage


def test_wire_reexports(spark):
    payload = bytes([0, 0, 0, 0, 42]) + b"body"
    df = spark.createDataFrame([(payload,), (b"\x01bad",)], "v binary")
    rows = df.select(
        BF.is_valid_wire(F.col("v")).alias("ok"),
        BF.schema_id(F.col("v")).alias("sid"),
    ).collect()
    assert rows[0].ok and rows[0].sid == 42
    assert not rows[1].ok


# ---------------------------------------------------------------------------
def _winnow_py(text: str, w: int = 16, k: int = 4) -> set:
    """Pure-Python reference of the winnowing scheme the engine runs
    (operators/text.rolling_hashes + the min-of-k-window selection in
    queries/text.winnowing_fingerprints): md5 over w-char windows, min
    hash of each k-window of consecutive positions, full windows only."""
    import hashlib

    hs = [
        hashlib.md5(text[i : i + w].encode()).hexdigest()
        for i in range(len(text) - w + 1)
    ]
    return {min(hs[i : i + k]) for i in range(len(hs) - k + 1)}


def test_winnowing_guarantee_shared_substring_shares_fingerprint():
    """The winnowing guarantee (Schleimer et al.): any substring of
    length >= w + k - 1 = 19 shared between two documents yields at least
    one COMMON fingerprint — the property the pair-matching query's
    docstring claims.  Hypothesis builds adversarial contexts around a
    shared core and the intersection must never be empty."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alpha = st.text(alphabet="abcdef ", min_size=0, max_size=40)
    core = st.text(alphabet="xyzuvw", min_size=19, max_size=30)

    @settings(max_examples=60, deadline=None)
    @given(core, alpha, alpha, alpha, alpha)
    def prop(shared, p1, s1, p2, s2):
        a = p1 + shared + s1
        b = p2 + shared + s2
        assert _winnow_py(a) & _winnow_py(b), (a, b)

    prop()


def test_winnowing_py_reference_matches_engine(spark):
    """The pure-Python reference used by the guarantee test computes the
    SAME fingerprint sets as the Spark plan (so the property proven above
    is a property of what the engine actually runs)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from byte_convert_avro_spark.operators.text import rolling_hashes

    texts = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "completely different content that shares nothing with zero!!"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rh = rolling_hashes(df, "text", "doc_id", window=16)
    wsel = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    wcnt = W.partitionBy("doc_id")
    fps = (
        rh.select(
            "doc_id", "pos",
            F.min("chunk_hash").over(wsel).alias("sel"),
            F.count("*").over(wcnt).alias("m"),
        )
        .filter(F.col("pos") <= F.col("m") - 3)
        .select("doc_id", "sel")
        .distinct()
        .collect()
    )
    got = {}
    for r in fps:
        got.setdefault(r.doc_id, set()).add(r.sel)
    for i, text in texts:
        assert got[i] == _winnow_py(text), i


# ---------------------------------------------------------------------------
# bounded_ordered_agg — the 100 TB-safe two-level ordered fold


def test_bounded_ordered_agg_matches_duckdb_chunked_fold(spark):
    """Bit-equality vs the DuckDB two-level chunked fold on a multi-chunk,
    multi-group frame (chunk=16, 100 rows/group -> 7 chunks): the oracle
    formulation documented in the docstring IS the Spark semantics."""
    import duckdb

    rows = [
        (g, i, math.sin(g * 1000 + i) * 10.0 ** ((i % 7) - 3))
        for g in range(3)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g int, k long, x double")
    got = {
        r.g: (r.osum, r.ocnt)
        for r in BF.bounded_ordered_agg(df, ["g"], "k", "x", chunk=16).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE src (g INT, k BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO src VALUES (?, ?, ?)", rows)
    want = {
        g: (osum, cnt)
        for g, osum, cnt in con.execute(
            """
            WITH ch AS (
              SELECT g, k // 16 AS chk,
                     list_reduce(list(x ORDER BY k), (a, b) -> a + b) AS csum,
                     COUNT(*) AS cnt
              FROM src GROUP BY g, chk)
            SELECT g, list_reduce(list(csum ORDER BY chk), (a, b) -> a + b),
                   CAST(SUM(cnt) AS BIGINT)
            FROM ch GROUP BY g
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g][1] == want[g][1] == 100
        # bit-identical, not approximately equal
        assert got[g][0].hex() == want[g][0].hex(), g


def test_bounded_ordered_agg_chunk_bound_and_partition_independence(spark):
    """The scale contract: no level-1 group exceeds ``chunk`` members
    (unique int sort keys), and the result is invariant under
    repartitioning (the determinism the flat fold promised, kept)."""
    rows = [(i % 4, i, float(i) * 1e-7 + 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "g int, k long, x double")
    chk = F.call_function("div", F.col("k").cast("long"), F.lit(32))
    lvl1_max = (
        df.groupBy("g", chk.alias("chk")).count().agg(F.max("count")).collect()[0][0]
    )
    assert lvl1_max <= 32
    a = {
        r.g: r.osum
        for r in BF.bounded_ordered_agg(df, ["g"], "k", "x", chunk=32).collect()
    }
    b = {
        r.g: r.osum
        for r in BF.bounded_ordered_agg(
            df.repartition(17, "x"), ["g"], "k", "x", chunk=32
        ).collect()
    }
    assert {g: v.hex() for g, v in a.items()} == {g: v.hex() for g, v in b.items()}


def test_bounded_ordered_agg_extra_aggs_and_validation(spark):
    """chunk_aggs/final_aggs re-aggregate order-free stats exactly;
    chunk < 1 raises."""
    import pytest

    rows = [(0, i, float((i * 37) % 11) - 5.0) for i in range(50)]
    df = spark.createDataFrame(rows, "g int, k long, x double")
    out = BF.bounded_ordered_agg(
        df, ["g"], "k", "x", chunk=8,
        chunk_aggs={"mn": F.min("x"), "mx": F.max("x")},
        final_aggs={"min_x": F.min("mn"), "max_x": F.max("mx")},
    ).collect()[0]
    xs = [x for _, _, x in rows]
    assert out.min_x == min(xs) and out.max_x == max(xs)
    assert out.ocnt == 50
    with pytest.raises(ValueError, match="chunk"):
        BF.bounded_ordered_agg(df, ["g"], "k", "x", chunk=0)


def test_bounded_ordered_agg_rejects_non_integral_sort_key(spark):
    """Plan-time guard (ADVICE r07): a float/string sort_key would cast to
    NULL (or ANSI-error) mid-job, and a negative key silently diverges
    from the DuckDB oracle (div truncates, // floors) — so non-integral
    types raise a typed error BEFORE any job runs."""
    import pytest

    fdf = spark.createDataFrame([(0, 1.5, 2.0)], "g int, k double, x double")
    with pytest.raises(TypeError, match="integral sort_key"):
        BF.bounded_ordered_agg(fdf, ["g"], "k", "x")
    sdf = spark.createDataFrame([(0, "a", 2.0)], "g int, k string, x double")
    with pytest.raises(TypeError, match="integral sort_key"):
        BF.bounded_ordered_agg(sdf, ["g"], "k", "x")
    with pytest.raises(TypeError, match="not in"):
        BF.bounded_ordered_agg(sdf, ["g"], "nope", "x")
    # integral widths all accepted
    for t in ("tinyint", "smallint", "int", "long"):
        idf = spark.createDataFrame([(0, 1, 2.0)], f"g int, k {t}, x double")
        assert BF.bounded_ordered_agg(idf, ["g"], "k", "x").collect()[0].osum == 2.0
