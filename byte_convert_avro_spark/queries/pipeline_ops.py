"""Queries backed by the reusable ``operators`` package — the rest of the
LLM-data-pipeline surface: SimHash, Jaccard verification of LSH candidates,
embedding near-dup pairs, quality scoring, token counting, rolling hashes,
multimodal binary plumbing, IVF search.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from byte_convert_avro_spark.operators import dedup as D
from byte_convert_avro_spark.operators import multimodal as M
from byte_convert_avro_spark.operators import similarity as S
from byte_convert_avro_spark.operators import text as X
from byte_convert_avro_spark.queries.base import (
    cents,
    hash_bucket,
    key_offset,
    register,
    spread,
    t,
)
from byte_convert_avro_spark.functions import md5_long

_HEXPOS = "(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"


def _hex_int(h: str, start: int, n: int) -> str:
    """SQL: int value of n hex digits of {h} starting at 1-based pos."""
    terms = [
        f"{_HEXPOS.format(h=h, i=start + j)} * {16 ** (n - 1 - j)}" for j in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


#: the ONE canonical 16-bit SimHash oracle pipeline — both simhash
#: queries compose it, so the tokenize/vote/assemble semantics cannot
#: drift between them.
_SIMHASH_CTE = """
    toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ), hw AS (SELECT doc_id, md5(tok) AS h FROM toks),
    sbits AS (
      SELECT doc_id, b,
             CASE WHEN substr(h, b, 1) IN ('8','9','a','b','c','d','e','f')
                  THEN 1 ELSE -1 END AS s
      FROM hw CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS b) bb
    ), sagg AS (
      SELECT doc_id, b, CASE WHEN SUM(s) >= 0 THEN '1' ELSE '0' END AS bit
      FROM sbits GROUP BY doc_id, b
    ), sh16 AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash
      FROM sagg GROUP BY doc_id
    )
"""

_HAMMING16 = "(" + " + ".join(
    f"CASE WHEN substr(sa.simhash, {i}, 1) <> substr(sb.simhash, {i}, 1) THEN 1 ELSE 0 END"
    for i in range(1, 17)
) + ")"


# ---------------------------------------------------------------------------
@register(
    "simhash_signatures",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT doc_id, simhash FROM sh16
    """,
)
def simhash_signatures(spark: SparkSession, sf: str):
    """16-bit SimHash per document (majority vote over md5-nibble signs of
    distinct tokens).  Integer votes -> no float anywhere."""
    return D.simhash(spread(t(spark, sf, "documents"), "doc_id"), "text", "doc_id", bits=16)


# ---------------------------------------------------------------------------
@register(
    "simhash_near_dup_pairs",
    f"""
    WITH {_SIMHASH_CTE},
    keyed AS (
      SELECT doc_id, simhash, band, substr(simhash, band * 4 + 1, 4) AS bk
      FROM sh16 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bands
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a
      JOIN keyed b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, {_HAMMING16} AS hamming
    FROM cands c
    JOIN sh16 sa ON sa.doc_id = c.doc_a
    JOIN sh16 sb ON sb.doc_id = c.doc_b
    WHERE {_HAMMING16} <= 3
    """,
)
def simhash_near_dup_pairs(spark: SparkSession, sf: str):
    """SimHash Hamming-ball near-dup pairs: 4-bit band buckets over the
    16-bit signature, candidates = agreement on ANY band, exact Hamming
    verify <= 3 within candidates only.  EXACT by pigeonhole (3 flipped
    bits cannot touch all 4 bands), so unlike the probabilistic LSH
    paths this candidate set provably loses nothing — the whole ladder
    stage the dedup module docstring promises
    (operators/dedup.py simhash_near_dup).  The Spark verify is a
    native conv→xor→bit_count; the oracle spells the same distance as a
    16-term positional sum — same integers either way."""
    sigs = D.simhash(spread(t(spark, sf, "documents"), "doc_id"), "text", "doc_id", bits=16)
    return D.simhash_near_dup(sigs, "doc_id", "simhash", bits=16, n_bands=4, max_hamming=3)


# ---------------------------------------------------------------------------
@register(
    "jaccard_verified_candidates",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM words WHERE len(w) >= 3),
    sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM idx),
    sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
    bands AS (SELECT unnest(generate_series(0, 7)) AS band),
    sigs AS (
      SELECT doc_id, band, MIN(md5(band::VARCHAR || '|' || sh)) AS sig
      FROM sh0 CROSS JOIN bands GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           za.n_sh AS n_a, zb.n_sh AS n_b,
           CAST(c.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - c.n_common) AS jaccard
    FROM common c
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    """,
)
def jaccard_verified_candidates(spark: SparkSession, sf: str):
    """The full LSH dedup pipeline: MinHash signatures -> candidate pairs ->
    exact shingle-Jaccard verification.  The expensive exact comparison
    runs only on LSH candidates (904 pairs at sf0.01, not 125k all-pairs)."""
    docs = spread(t(spark, sf, "documents"), "doc_id")
    sigs = D.minhash_signatures(docs, "text", "doc_id", n_bands=8, shingle_n=3)
    pairs = D.lsh_candidates(sigs).select("doc_a", "doc_b")
    return D.jaccard_similarity(docs, pairs, "text", "doc_id", shingle_n=3)


# ---------------------------------------------------------------------------
@register(
    "embedding_near_dup_pairs",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_transform(generate_series(1, 64), i -> e[i]*e[i]),
                                  (x, y) -> x + y)) AS nrm FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_reduce(list_transform(generate_series(1, 64), i -> a.e[i]*b.e[i]),
                             (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(generate_series(1, 64), i -> a.e[i]*b.e[i]),
                      (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf: str):
    """Embedding-cosine near-dup pairs (threshold 0.4 — calibrated to this
    corpus's cosine range).  All-pairs correctness form; the scale path is
    ``lsh_banded_near_dup`` (multi-band
    :func:`operators.similarity.sign_lsh_banded_candidates` prefilter,
    measured recall in tests/test_banded_lsh.py)."""
    return D.embedding_near_dup(spread(t(spark, sf, "embeddings"), "vec_id"), threshold=0.4)


# ---------------------------------------------------------------------------
#: the ONE canonical quality-score oracle pipeline (ends with
#: ``quality(doc_id, quality)``) — the score query and the cluster-keeper
#: selection both compose it
_QUALITY_CTE = r"""
    qbase AS (
      SELECT doc_id,
             LENGTH(text) AS n_chars,
             LEN(string_split(text, ' ')) AS n_words,
             LEN(list_distinct(string_split(text, ' '))) AS n_distinct,
             LENGTH(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct,
             CASE WHEN regexp_matches(text, '\b(the|and|of|der|und|le|et|el)\b')
                  THEN 1.0 ELSE 0.0 END AS has_stop
      FROM documents
    ), quality AS (
      SELECT doc_id,
             0.3 * (CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1.0
                         WHEN n_chars >= 30 THEN 0.5 ELSE 0.0 END)
             + 0.2 * has_stop
             + 0.3 * LEAST(CAST(n_distinct AS DOUBLE) / n_words * 2, 1.0)
             + 0.2 * (CASE WHEN n_chars > 0
                            THEN 1.0 - LEAST(CAST(n_punct AS DOUBLE)
                                             / n_chars * 5, 1.0)
                            ELSE 0.0 END)
               AS quality
      FROM qbase
    )
"""


@register(
    "doc_quality_scores",
    f"""
    WITH {_QUALITY_CTE}
    SELECT doc_id, quality FROM quality
    """,
)
def doc_quality_scores(spark: SparkSession, sf: str):
    """Composite quality score (length band, stopword presence, vocabulary
    diversity, punctuation ratio) — the cheap pre-filter stage of a corpus
    pipeline."""
    return X.quality_score(t(spark, sf, "documents"), "text").select("doc_id", "quality")


# ---------------------------------------------------------------------------
@register(
    "doc_token_counts",
    r"""
    SELECT doc_id,
           LEN(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
    FROM documents
    """,
)
def doc_token_counts(spark: SparkSession, sf: str):
    """Regex tokenization count (words + symbols) — the BPE-budget proxy."""
    return X.token_count(t(spark, sf, "documents"), "text").select("doc_id", "n_tokens")


# ---------------------------------------------------------------------------
@register(
    "rolling_hash_chunks",
    """
    SELECT doc_id, unnest(generate_series(1, LENGTH(text) - 15)) AS pos,
           md5(substr(text, unnest(generate_series(1, LENGTH(text) - 15)), 16)) AS chunk_hash
    FROM documents WHERE LENGTH(text) >= 16
    """,
)
def rolling_hash_chunks(spark: SparkSession, sf: str):
    """Per-position rolling fingerprints (16-char windows) — winnowing's
    raw material for substring-level duplicate detection."""
    return X.rolling_hashes(spread(t(spark, sf, "documents"), "doc_id"), "text", "doc_id", window=16)


# ---------------------------------------------------------------------------
_CHUNKS_CTE = """
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             md5(substr(text, (i - 1) * 16 + 1, 16)) AS chunk_hash
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, LENGTH(text) // 16)) AS i
            FROM documents)
    )
"""


@register(
    "repeated_chunks_cross_doc",
    f"""
    WITH {_CHUNKS_CTE}
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def repeated_chunks_cross_doc(spark: SparkSession, sf: str):
    """Cross-document repeated substrings (16-char non-overlapping chunk
    hashes appearing in >= 2 distinct docs) — the boilerplate/license
    detector.  574 shared chunks at sf0.01.  One shuffle on the uniform
    chunk hash, map-side partial distinct-doc counts — never all-pairs
    (operators/dedup.py text_chunks + repeated_chunks)."""
    docs = spread(t(spark, sf, "documents"), "doc_id")
    return D.repeated_chunks(D.text_chunks(docs, "text", "doc_id", window=16))


# ---------------------------------------------------------------------------
@register(
    "corpus_strip_repeated_chunks",
    f"""
    WITH {_CHUNKS_CTE},
    shared AS (
      SELECT chunk_hash FROM chunks
      GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    perdoc AS (
      SELECT c.doc_id,
             COUNT(*) AS n_chunks,
             SUM(CASE WHEN s.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
      FROM chunks c LEFT JOIN shared s ON s.chunk_hash = c.chunk_hash
      GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(LENGTH(d.text) AS BIGINT) AS total_chars,
           CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_chunks,
           CASE WHEN COALESCE(p.n_chunks, 0) > 0
                THEN CAST(p.n_dup AS DOUBLE) / p.n_chunks
                ELSE 0.0 END AS dup_frac,
           CAST(LENGTH(d.text) - 16 * COALESCE(p.n_dup, 0) AS BIGINT) AS kept_chars,
           CAST(CASE WHEN COALESCE(p.n_chunks, 0) > 0
                      AND 2 * p.n_dup >= p.n_chunks
                THEN 1 ELSE 0 END AS INT) AS dropped
    FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    """,
)
def corpus_strip_repeated_chunks(spark: SparkSession, sf: str):
    """SUBSTRING-LEVEL dedup — the ladder rung between exact-doc and
    near-doc: per-document duplicated-span accounting over non-overlapping
    16-char chunks, with the chunk-stripped size (``kept_chars``) and the
    drop verdict (>= half the chunks are cross-document duplicates —
    integer compare, no float threshold).  A doc that is mostly shared
    boilerplate is invisible to exact dedup and can sit below near-dup
    Jaccard thresholds; this exposes and strips it.  At sf0.01: 308/500
    docs carry >= 1 duplicated chunk, 47 would be dropped.  Scale story in
    operators/dedup.py chunk_dup_stats: one chunk-hash shuffle + one
    doc-id rollup, cost O(corpus chunks)."""
    docs = spread(t(spark, sf, "documents"), "doc_id")
    return D.chunk_dup_stats(docs, "text", "doc_id", window=16, min_docs=2)


# ---------------------------------------------------------------------------
@register(
    "corpus_stripped_text",
    f"""
    WITH {_CHUNKS_CTE},
    shared AS (
      SELECT chunk_hash FROM chunks
      GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    keptagg AS (
      SELECT c.doc_id,
             string_agg(substr(d.text, (c.chunk_idx - 1) * 16 + 1, 16),
                        '' ORDER BY c.chunk_idx) AS kept_txt,
             COUNT(*) AS n_kept
      FROM chunks c
      JOIN documents d ON d.doc_id = c.doc_id
      LEFT JOIN shared s ON s.chunk_hash = c.chunk_hash
      WHERE s.chunk_hash IS NULL
      GROUP BY c.doc_id
    ),
    rebuilt AS (
      SELECT d.doc_id,
             COALESCE(k.kept_txt, '')
               || substr(d.text, (LENGTH(d.text) // 16) * 16 + 1) AS stripped,
             COALESCE(k.n_kept, 0) AS n_kept
      FROM documents d LEFT JOIN keptagg k ON k.doc_id = d.doc_id
    )
    SELECT doc_id,
           md5(stripped) AS stripped_md5,
           CAST(LENGTH(stripped) AS BIGINT) AS kept_chars,
           CAST(n_kept AS BIGINT) AS n_kept_chunks
    FROM rebuilt
    """,
)
def corpus_stripped_text(spark: SparkSession, sf: str):
    """The APPLYING form of substring-level dedup (round-7 lead #4):
    where ``corpus_strip_repeated_chunks`` only accounts for duplicated
    spans, this emits the md5 of each document's REBUILT text with every
    cross-document duplicate 16-char chunk removed (kept chunks in
    original order + the un-chunked tail) — value-compared against a
    DuckDB ``string_agg`` reconstruction, so the strip itself is under
    the oracle gate, not just its bookkeeping.  Scale: only kept chunk
    INDEXES (ints) cross the per-doc shuffle; the reconstruction re-reads
    substrings row-locally from the doc's own text (operators/dedup.py
    strip_repeated_chunks)."""
    docs = spread(t(spark, sf, "documents"), "doc_id")
    return D.strip_repeated_chunks(docs, "text", "doc_id", window=16, min_docs=2)


# ---------------------------------------------------------------------------
@register(
    "multimodal_image_meta",
    f"""
    WITH m AS (SELECT doc_id, md5(text) AS h,
                      octet_length(encode(text)) AS nb FROM documents)
    SELECT doc_id,
           CAST(({_hex_int('h', 1, 4)} % 1920) + 1 AS INT) AS width,
           CAST(({_hex_int('h', 5, 4)} % 1080) + 1 AS INT) AS height,
           CAST(({_hex_int('h', 9, 1)} % 3) + 1 AS INT) AS channels,
           CASE {_hex_int('h', 10, 1)} % 3
                WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
           CAST(nb AS BIGINT) AS n_bytes,
           h AS content_md5
    FROM m
    """,
)
def multimodal_image_meta(spark: SparkSession, sf: str):
    """Multimodal plumbing end-to-end: text bytes as an opaque blob column
    -> Arrow-batched metadata 'decode' (deterministic fake; real decoder is
    the documented NotImplementedError hook) -> typed columns.  The oracle
    recomputes the fake decode arithmetic in SQL, pinning the batch
    plumbing exactly."""
    docs = spread(t(spark, sf, "documents"), "doc_id").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return M.decode_image_metadata(docs, "blob", "doc_id", deterministic_fake=True)


# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_samples",
    f"""
    WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
    vids AS (
      SELECT doc_id,
             CAST(({_hex_int('h', 1, 4)} % 30000) + 1000 AS BIGINT) AS duration_ms
      FROM m
    ),
    frames AS (
      SELECT doc_id, duration_ms,
             unnest(generate_series(0, duration_ms - 1, 1000)) AS frame_ms
      FROM vids
    )
    SELECT doc_id, duration_ms,
           COUNT(*) AS n_frames,
           MAX(frame_ms) AS last_frame_ms
    FROM frames GROUP BY 1, 2
    """,
)
def multimodal_frame_samples(spark: SparkSession, sf: str):
    """Video frame-sampling plan: a deterministic fake duration per blob
    (hash-derived, same idea as the image-meta fake) explodes into 1 fps
    sample positions via operators.multimodal.frame_sample_positions —
    one row per frame-to-decode.  The expensive per-frame decode would
    run AFTER this explode in bounded Arrow batches; the plan itself is
    pure column expressions.  The oracle re-runs the explode as
    generate_series, pinning the sampling semantics exactly."""
    docs = t(spark, sf, "documents").select(
        "doc_id",
        (md5_long("text", 4) % 30000 + 1000).alias("duration_ms"),
    )
    fr = M.frame_sample_positions(docs, "duration_ms", every_ms=1000)
    return fr.groupBy("doc_id", "duration_ms").agg(
        F.count("*").alias("n_frames"),
        F.max("frame_ms").alias("last_frame_ms"),
    )


# ---------------------------------------------------------------------------
_IVF_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


def _kmeans_sql_cte(k: int = 8, n_iter: int = 3, chunk: int = 128) -> str:
    """The DuckDB twin of operators/similarity.kmeans_lloyd as a CTE
    chain: seeds = the ``k`` smallest vec_ids, then ``n_iter`` unrolled
    Lloyd rounds.  Ends with ``cent{n_iter}`` (cell, ce LIST) and
    ``cdim{n_iter - 1}`` (cell, dim, c) — the same fixed-order folds as
    the operator (distance dims left-to-right, member sums via the SAME
    bounded two-level vec_id-ordered chunk fold as
    functions.bounded_ordered_agg — ``chunk`` must equal the operator's
    ``fold_chunk``), so every centroid value is bit-identical across
    engines."""
    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT {k})",
    ]
    for r in range(n_iter):
        parts.append(
            f"""dist{r} AS (
      SELECT v.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS d2
      FROM v CROSS JOIN cent{r} c)"""
        )
        parts.append(
            f"""assign{r} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dist{r})
      WHERE rn = 1)"""
        )
        parts.append(
            f"""cch{r} AS (
      SELECT a.cell, dd.dim, v.vec_id // {chunk} AS chk,
             list_reduce(list(v.e[dd.dim] ORDER BY v.vec_id),
                         (a2, b2) -> a2 + b2) AS csum,
             COUNT(*) AS cnt
      FROM assign{r} a JOIN v ON v.vec_id = a.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) dd
      GROUP BY a.cell, dd.dim, chk)"""
        )
        parts.append(
            f"""cdim{r} AS (
      SELECT cell, dim,
             list_reduce(list(csum ORDER BY chk), (x, y) -> x + y) / SUM(cnt) AS c
      FROM cch{r} GROUP BY cell, dim)"""
        )
        parts.append(
            f"cent{r + 1} AS (SELECT cell, list(c ORDER BY dim) AS ce FROM cdim{r} GROUP BY cell)"
        )
    return ",\n    ".join(parts)


def _kmeans_minibatch_sql_cte(
    k: int = 8, n_iter: int = 3, mod: int = 4, chunk: int = 128
) -> str:
    """DuckDB twin of operators/similarity.kmeans_minibatch: same seeds
    and unrolled rounds as :func:`_kmeans_sql_cte`, but each round's
    assignment sees only the hash-sampled ``1/mod`` slice (the
    ``hash_bucket`` md5 discipline, salt ``':mb<r>'``) and a cell with no
    sampled member keeps its previous centroid via a COALESCE left join;
    member sums use the same bounded two-level chunk fold (``chunk`` =
    the operator's ``fold_chunk``).  Ends with ``cent{n_iter}``
    (cell, ce LIST)."""
    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT {k})",
    ]
    for r in range(n_iter):
        samp = (
            f"('0x' || substr(md5(CAST(v.vec_id AS VARCHAR) || ':mb{r}'), 1, 8))"
            f"::BIGINT % {mod} = 0"
        )
        parts.append(
            f"""dist{r} AS (
      SELECT v.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS d2
      FROM v CROSS JOIN cent{r} c WHERE {samp})"""
        )
        parts.append(
            f"""assign{r} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dist{r})
      WHERE rn = 1)"""
        )
        parts.append(
            f"""cch{r} AS (
      SELECT a.cell, dd.dim, v.vec_id // {chunk} AS chk,
             list_reduce(list(v.e[dd.dim] ORDER BY v.vec_id),
                         (a2, b2) -> a2 + b2) AS csum,
             COUNT(*) AS cnt
      FROM assign{r} a JOIN v ON v.vec_id = a.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) dd
      GROUP BY a.cell, dd.dim, chk)"""
        )
        parts.append(
            f"""cdim{r} AS (
      SELECT cell, dim,
             list_reduce(list(csum ORDER BY chk), (x, y) -> x + y) / SUM(cnt) AS c
      FROM cch{r} GROUP BY cell, dim)"""
        )
        parts.append(
            f"""cent{r + 1} AS (
      SELECT p.cell, COALESCE(n.ce, p.ce) AS ce
      FROM cent{r} p LEFT JOIN (
        SELECT cell, list(c ORDER BY dim) AS ce FROM cdim{r} GROUP BY cell
      ) n ON n.cell = p.cell)"""
        )
    return ",\n    ".join(parts)


@register(
    "kmeans_minibatch_k8",
    f"""
    WITH {_kmeans_minibatch_sql_cte(8, 3, 4)}
    SELECT cell, CAST(dd.dim AS INT) AS dim, ce[dd.dim] AS c
    FROM cent3 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) dd
    """,
)
def kmeans_minibatch_k8(spark: SparkSession, sf: str):
    """Deterministic MINI-BATCH k-means (k=8, 3 rounds, 1/4 hash-sampled
    batch per round) — the 100 TB-regime IVF trainer: per-round cost is
    ``|corpus| / sample_mod`` instead of the full corpus, with
    content-stable md5 sampling (no RNG — both engines draw identical
    batches) and empty batch-cells keeping their previous centroid.
    Oracle-checked value-for-value against a DuckDB unroll of the same
    rounds (same fixed-order IEEE folds), so the sampled trainer is under
    the gate exactly like the full-Lloyd ``kmeans_centroids_k8``
    (operators/similarity.kmeans_minibatch)."""
    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    cents = S.kmeans_minibatch(
        emb, "embedding", "vec_id", k=8, n_iter=3, sample_mod=4, fold_chunk=128
    )
    return cents.select(
        "cell", F.posexplode("embedding").alias("dim0", "c")
    ).select("cell", (F.col("dim0") + 1).cast("int").alias("dim"), "c")


@register(
    "kmeans_centroids_k8",
    f"""
    WITH {_kmeans_sql_cte(8, 3)}
    SELECT cell, CAST(dim AS INT) AS dim, c FROM cdim2
    """,
)
def kmeans_centroids_k8(spark: SparkSession, sf: str):
    """Deterministic Lloyd's k-means (k=8, 3 fixed rounds, smallest-id
    seeds) — the IVF TRAINING step, oracle-checked value-for-value: the
    DuckDB twin unrolls the same three rounds as a CTE chain and every
    centroid coordinate matches bit-for-bit (fixed-order IEEE folds on
    both sides).  One narrow literal-argmin assignment + one (cell, dim)
    shuffle + one k×dim driver collect per round
    (operators/similarity.kmeans_lloyd)."""
    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    cents = S.kmeans_lloyd(emb, "embedding", "vec_id", k=8, n_iter=3, fold_chunk=128)
    return cents.select(
        "cell", F.posexplode("embedding").alias("dim0", "c")
    ).select("cell", (F.col("dim0") + 1).cast("int").alias("dim"), "c")


@register(
    "ivf_search_top3",
    f"""
    WITH {_kmeans_sql_cte(8, 3)},
    dist AS (
      SELECT v.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS d2
      FROM v CROSS JOIN cent3 c
    ), ranked AS (
      SELECT vec_id, cell, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM dist
    ), assigned AS (
      SELECT vec_id, cell FROM ranked WHERE rn = 1 AND vec_id >= 5
    ), probes AS (
      SELECT vec_id AS qid, cell FROM ranked WHERE rn <= 2 AND vec_id < 5
    ), vn AS (
      SELECT vec_id, e, sqrt({_IVF_DOT_SQL.format(a='e', b='e')}) AS nrm FROM v
    ), cand AS (
      SELECT p.qid, a.vec_id FROM probes p JOIN assigned a ON p.cell = a.cell
    ), sims AS (
      SELECT cand.qid, cand.vec_id,
             ROUND({_IVF_DOT_SQL.format(a='cv.e', b='qv.e')} / (cv.nrm * qv.nrm), 4) AS sim
      FROM cand
      JOIN vn cv ON cv.vec_id = cand.vec_id
      JOIN vn qv ON qv.vec_id = cand.qid
    )
    SELECT qid, vec_id, sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
    WHERE rank <= 3
    """,
)
def ivf_search_top3(spark: SparkSession, sf: str):
    """Full IVF ANN search over a TRAINED index, oracle-checked end to
    end: deterministic k-means centroids (kmeans_lloyd, k=8, 3 rounds) ->
    squared-L2 cell assignment of the corpus (ivf_build, centroids
    broadcast) -> 2-nearest-cell probe per query -> exact cosine top-3
    within probed cells only (ivf_search).  Every float reduction is a
    fixed-order IEEE fold so both engines agree bit-for-bit; ties break
    on (d2, cell) / (sim, vec_id).  At corpus scale the probe join
    touches ~nprobe/K of the vectors (cells are the shuffle/partition
    key); centroids stay broadcast at any corpus size."""
    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    cents = S.kmeans_lloyd(emb, "embedding", "vec_id", k=8, n_iter=3, fold_chunk=128)
    corpus = emb.filter(F.col("vec_id") >= 5)
    qs = emb.filter(F.col("vec_id") < 5)
    indexed = S.ivf_build(corpus, cents, "embedding", "vec_id", cent_id="cell")
    res = S.ivf_search(
        indexed, cents, qs, k=3, nprobe=2,
        vec_col="embedding", id_col="vec_id", cent_id="cell",
    )
    return res.withColumnRenamed("id", "vec_id")


# ---------------------------------------------------------------------------
_DOT64 = "list_reduce(list_transform(generate_series(1, 64), i -> {a}[i]*{b}[i]), (x, y) -> x + y)"
_BUCKET8 = (
    "concat("
    + ", ".join(f"CASE WHEN e[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, 9))
    + ")"
)


@register(
    "lsh_bucketed_near_dup",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e, {_BUCKET8} AS lsh_bucket,
                 sqrt({_DOT64.format(a='e', b='e')}) AS nrm FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           a.lsh_bucket AS lsh_bucket,
           ROUND({_DOT64.format(a='a.e', b='b.e')} / (a.nrm * b.nrm), 4) AS sim
    FROM n a JOIN n b ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
    WHERE {_DOT64.format(a='a.e', b='b.e')} / (a.nrm * b.nrm) >= 0.4
    """,
)
def lsh_bucketed_near_dup(spark: SparkSession, sf: str):
    """Single-band sign-LSH near-dup: bucket prefilter (deterministic
    fixed-hyperplane family — first 8 dimension signs), then exact cosine
    only WITHIN buckets.  Pair candidates drop from |corpus|² to
    Σ|bucket|²; the bucket key is also the shuffle key, so each bucket's
    pair generation is partition-local.  The oracle reproduces the same
    prefilter, so the result (including its recall loss vs the all-pairs
    form ``embedding_near_dup_pairs``) is pinned exactly.  Kept as the
    cheapest prefilter and the recall baseline; the DEFAULT scale path is
    ``lsh_banded_near_dup`` (measured recall in
    tests/test_banded_lsh.py: 0.987 banded vs 0.687 single-band at
    cosine>=0.95)."""
    emb = spread(t(spark, sf, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    b = S.sign_lsh_buckets(emb, vec_col="e", n_bits=8)
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    n = b.withColumn("nrm", F.sqrt(F.expr(dot.format(a="e", b="e"))))
    a = n.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"), "lsh_bucket",
    )
    bb = n.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"), F.col("lsh_bucket").alias("lsh_b"),
    )
    return (
        a.join(bb, (F.col("lsh_bucket") == F.col("lsh_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn(
            "_sim_raw", F.expr(dot.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
        )
        # threshold on the RAW sequential-fold value (bit-identical across
        # engines); ROUND is display-only — a rounded filter would make the
        # row set depend on representation ties at the boundary
        .filter(F.col("_sim_raw") >= 0.4)
        .select("id_a", "id_b", "lsh_bucket", F.round("_sim_raw", 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
def _bucket8(offset: int) -> str:
    """DuckDB: sign-pattern bucket string over dims offset+1..offset+8."""
    return (
        "concat("
        + ", ".join(
            f"CASE WHEN e[{offset + i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, 9)
        )
        + ")"
    )


@register(
    "lsh_banded_near_dup",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    keyed AS (
      SELECT vec_id, band, bucket FROM (
        {" UNION ALL ".join(
            f"SELECT vec_id, {b} AS band, {_bucket8(b * 8)} AS bucket FROM v"
            for b in range(4)
        )})
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands_matched
      FROM keyed a
      JOIN keyed b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    n AS (SELECT vec_id, e, sqrt({_DOT64.format(a='e', b='e')}) AS nrm FROM v)
    SELECT p.id_a, p.id_b, p.n_bands_matched,
           ROUND({_DOT64.format(a='a.e', b='b.e')} / (a.nrm * b.nrm), 4) AS sim
    FROM pairs p
    JOIN n a ON a.vec_id = p.id_a
    JOIN n b ON b.vec_id = p.id_b
    WHERE {_DOT64.format(a='a.e', b='b.e')} / (a.nrm * b.nrm) >= 0.4
    """,
)
def lsh_banded_near_dup(spark: SparkSession, sf: str):
    """The HIGH-RECALL scale path for embedding near-dup: 4 deterministic
    sign-LSH bands over disjoint 8-dim subsets (band 0 = the single-band
    key of ``lsh_bucketed_near_dup``), candidates = agreement on ANY band,
    then exact cosine verification within the candidate set only.

    Band 0 makes the candidate set a superset of the single-band query's
    (asserted directly in tests/test_banded_lsh.py, which also measures
    recall vs the all-pairs form ``embedding_near_dup_pairs`` and pins it
    >= the single-band query's); cost stays Σ|bucket|² per band — never
    |corpus|² — and every stage's shuffle key is (band, bucket)."""
    emb = spread(t(spark, sf, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cands = S.sign_lsh_banded_candidates(
        emb, vec_col="e", id_col="vec_id", n_bands=4, bits_per_band=8
    )
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    n = emb.withColumn("nrm", F.sqrt(F.expr(dot.format(a="e", b="e"))))
    a = n.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = n.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "_sim_raw", F.expr(dot.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
        )
        # raw-value threshold, display-only ROUND (see lsh_bucketed_near_dup)
        .filter(F.col("_sim_raw") >= 0.4)
        .select("id_a", "id_b", "n_bands_matched", F.round("_sim_raw", 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
@register(
    "skew_salted_user_totals",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def skew_salted_user_totals(spark: SparkSession, sf: str):
    """The skew-mitigation operator under the oracle gate: salted
    two-stage aggregation (operators/skew.py) must equal the plain
    single-stage GROUP BY exactly — decimal partials merge losslessly, so
    hot-key splitting is invisible in the result at any salt count."""
    from byte_convert_avro_spark.operators.skew import salted_agg

    ev = t(spark, sf, "events").select(
        "user_id", F.col("value").cast("decimal(18,4)").alias("v")
    )
    out = salted_agg(
        ev,
        "user_id",
        {
            "n_events": ("v", "count"),
            "_total": ("v", "sum"),
            "_min": ("v", "min"),
            "_max": ("v", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("_total").cast("double").alias("total_value"),
        F.col("_min").cast("double").alias("min_value"),
        F.col("_max").cast("double").alias("max_value"),
    )


# ---------------------------------------------------------------------------
@register(
    "dataset_split_assignment",
    """
    WITH assigned AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS INT) AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM assigned
    GROUP BY 1, 2
    """,
)
def dataset_split_assignment(spark: SparkSession, sf: str):
    """Deterministic train/val/test split (80/10/10) by content-stable
    hash bucket — the reproducible-sampling primitive every training-data
    pipeline needs: assignment depends only on doc_id, so it is identical
    across runs, engines, partitionings, and cluster sizes (unlike
    TABLESAMPLE/rand()).  The first 8 md5 hex digits give a uniform
    32-bit bucket."""
    d = t(spark, sf, "documents")
    bucket = hash_bucket("doc_id", 100).cast("int")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.select(split.alias("split"), "lang", "doc_id").groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
@register(
    "sequence_packing_4k",
    r"""
    WITH toks AS (
      SELECT doc_id,
             LEN(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, n_tokens,
             CAST((SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens) // 4096 AS BIGINT) AS seq_id
      FROM toks
    )
    SELECT seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY seq_id
    """,
)
def sequence_packing_4k(spark: SparkSession, sf: str):
    """Token-budget sequence packing: documents in doc_id order fill
    4096-token training sequences; a document's sequence is determined by
    the running token total BEFORE it (offset-cumsum // budget) — fully
    deterministic, no greedy state.  The global ordered cumsum is the one
    scale caveat: Spark plans an all-to-one-partition window, so at real
    scale you pack per shard (PARTITION BY shard key) — same expression,
    one extra key — and this query documents the single-shard semantics
    the sharded form must match."""
    d = t(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)).alias("n_tokens"),
    )
    w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    packed = toks.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 4096).cast("long"),
    )
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
@register(
    "sequence_packing_sharded",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS INT) AS shard,
             LEN(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT shard, doc_id, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens) // 4096 AS BIGINT) AS seq_id
      FROM toks
    )
    SELECT shard, seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY shard, seq_id
    """,
)
def sequence_packing_sharded(spark: SparkSession, sf: str):
    """The scale-safe form of sequence packing (this is the one to run on
    a cluster): a content-stable hash shard key added to PARTITION BY makes
    the ordered cumsum a per-shard window — 16 independent partitions here,
    thousands on a real corpus — instead of the all-to-one-partition plan
    of ``sequence_packing_4k`` (kept as the single-shard semantics pin).
    Each shard packs its own documents in doc_id order into 4096-token
    sequences; (shard, seq_id) is the globally unique sequence key.  The
    shard key reuses the md5-bucket discipline of
    ``dataset_split_assignment``, so assignment is identical across
    engines, partitionings, and cluster sizes."""
    d = t(spark, sf, "documents")
    shard = hash_bucket("doc_id", 16).cast("int")
    toks = d.select(
        "doc_id",
        shard.alias("shard"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)).alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = toks.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 4096).cast("long"),
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
@register(
    "corpus_after_dedup",
    """
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    words AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers)),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM words WHERE len(w) >= 3),
    sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM idx),
    sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
    hidx AS (SELECT unnest(generate_series(0, 31)) AS h),
    mins AS (SELECT doc_id, h, MIN(md5(h::VARCHAR || '|' || sh)) AS mn
             FROM sh0 CROSS JOIN hidx GROUP BY doc_id, h),
    sigs0 AS (SELECT doc_id, h // 2 AS band,
                     MIN(CASE WHEN h % 2 = 0 THEN mn END)
                       || MIN(CASE WHEN h % 2 = 1 THEN mn END) AS sig
              FROM mins GROUP BY doc_id, h // 2),
    bok AS (SELECT band, sig FROM sigs0 GROUP BY band, sig
            HAVING COUNT(*) <= 16),
    sigs AS (SELECT s.doc_id, s.band, s.sig
             FROM sigs0 s JOIN bok k ON k.band = s.band AND k.sig = s.sig),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                                     AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    near AS (
      SELECT p.doc_b
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
      JOIN sizes za ON za.doc_id = p.doc_a
      JOIN sizes zb ON zb.doc_id = p.doc_b
      GROUP BY p.doc_a, p.doc_b, za.n_sh, zb.n_sh
      HAVING CAST(COUNT(*) AS DOUBLE) / (za.n_sh + zb.n_sh - COUNT(*)) >= 0.5
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id IN (SELECT doc_id FROM keepers)
      AND doc_id NOT IN (SELECT doc_b FROM near)
    """,
)
def corpus_after_dedup(spark: SparkSession, sf: str):
    """END-TO-END dedup capstone: exact dedup (min-id keeper per content
    hash) -> MinHash-LSH candidates -> exact Jaccard >= 0.5 verification
    -> drop the higher-id member of each verified near-dup pair -> final
    corpus size.  Composes the whole operators/dedup.py ladder in one
    oracle-checked result.

    Runs the PRODUCTION operating point the round-9 organic-mutation
    study measured (SCALE.md round-9 table): ``rows_per_band=2`` banding
    (16 bands of two concatenated minima) with the bucket-16 enumeration
    cap — at r=1 the same caps lose ~90% of true near-dup pairs as the
    corpus grows, at r=2 they hold 0.9956 recall at J >= 0.5 while
    keeping every bucket's pair blowup bounded.  The oracle spells the
    full r2 construction (32 hash minima, h//2 band concat, bucket
    HAVING filter) so the capstone value-checks the configuration users
    should actually deploy."""
    docs = spread(t(spark, sf, "documents"), "doc_id")
    keepers = D.drop_exact_dups(docs, "text", "doc_id")
    sigs = D.minhash_signatures(
        keepers, "text", "doc_id", n_bands=16, shingle_n=3, rows_per_band=2
    )
    pairs = D.lsh_candidates(sigs, max_docs_per_bucket=16).select("doc_a", "doc_b")
    verified = D.jaccard_similarity(keepers, pairs, "text", "doc_id", shingle_n=3)
    near_b = verified.filter(F.col("jaccard") >= 0.5).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    clean = keepers.join(near_b, "doc_id", "left_anti")
    return clean.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
@register(
    "source_mix_upsampling",
    """
    WITH weighted AS (
      SELECT doc_id, source, (LENGTH(source) % 3) + 1 AS n_copies
      FROM documents
    )
    SELECT source,
           CAST(SUM(n_copies) AS BIGINT) AS mixed_docs,
           COUNT(*) AS base_docs,
           CAST(MAX(n_copies) AS INT) AS weight
    FROM weighted
    GROUP BY source
    """,
)
def source_mix_upsampling(spark: SparkSession, sf: str):
    """Dataset-mixture weighting: per-source integer upsampling factors
    (deterministic demo weight) -> the mixed-epoch document counts.  The
    applying form replicates rows with explode(sequence(1, n)) — here the
    aggregate form keeps the oracle cheap while pinning the same weights.
    At scale, mixture weights multiply scan cost only for the upsampled
    sources; replication happens at iterator time, never materialized."""
    d = t(spark, sf, "documents").withColumn(
        "n_copies", (F.length("source") % 3 + 1).cast("int")
    )
    # the replicating form (what a training-data export would run):
    replicated = d.select(
        "doc_id", "source", F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("_copy")
    )
    return (
        replicated.groupBy("source")
        .agg(F.count("*").alias("mixed_docs"))
        .join(
            d.groupBy("source").agg(
                F.count("*").alias("base_docs"), F.max("n_copies").alias("weight")
            ),
            "source",
        )
        .select("source", "mixed_docs", "base_docs", "weight")
    )


# ---------------------------------------------------------------------------
@register(
    "multimodal_resize_plumbing",
    """
    SELECT doc_id,
           CAST(64 AS INT) AS out_w,
           CAST(64 AS INT) AS out_h,
           CAST(LENGTH(md5(text || '|64x64') || '|64x64-resized') AS BIGINT) AS out_bytes,
           md5(md5(text || '|64x64') || '|64x64-resized') AS resized_md5
    FROM documents
    """,
)
def multimodal_resize_plumbing(spark: SparkSession, sf: str):
    """Image-resize plumbing end-to-end: blob -> Arrow-batched resize
    (deterministic fake; the real Pillow hook is the documented
    NotImplementedError) -> NEW binary column + typed dims.  The oracle
    recomputes the fake's content-derived digests in SQL, pinning that
    every blob went through the batch pipeline and produced exactly the
    expected bytes (compared via md5 — raw binary never crosses the
    engine-compare boundary)."""
    docs = spread(t(spark, sf, "documents"), "doc_id").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return M.resize_images(
        docs, "blob", "doc_id", target_w=64, target_h=64, deterministic_fake=True
    ).select("doc_id", "out_w", "out_h", "out_bytes", "resized_md5")


# ---------------------------------------------------------------------------
@register(
    "multimodal_audio_pipeline",
    f"""
    WITH m AS (SELECT doc_id, md5(text) AS h,
                      octet_length(encode(text)) AS nb FROM documents)
    SELECT m.doc_id,
           CAST(({_hex_int('h', 1, 5)} % 600000) + 1000 AS BIGINT) AS duration_ms,
           CAST(CASE {_hex_int('h', 6, 1)} % 5
                WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                WHEN 3 THEN 44100 ELSE 48000 END AS INT) AS sample_rate,
           CAST(({_hex_int('h', 7, 1)} % 2) + 1 AS INT) AS channels,
           CASE {_hex_int('h', 8, 1)} % 4
                WHEN 0 THEN 'wav' WHEN 1 THEN 'mp3'
                WHEN 2 THEN 'flac' ELSE 'opus' END AS codec,
           CAST(nb AS BIGINT) AS n_bytes,
           CAST(16000 AS INT) AS out_rate,
           md5(md5(d.text || '|16000hz') || '|16000hz-resampled') AS resampled_md5,
           substr(md5(m.h || '|fp'), 1, 16) AS fingerprint
    FROM m JOIN documents d ON d.doc_id = m.doc_id
    """,
)
def multimodal_audio_pipeline(spark: SparkSession, sf: str):
    """The AUDIO modality end-to-end under one oracle row: blob ->
    Arrow-batched header decode (duration/rate/channels/codec) ->
    16 kHz resample (new bytes, compared via md5) -> acoustic
    fingerprint — operators/multimodal.decode_audio_metadata +
    resample_audio + audio_fingerprint, each a deterministic fake behind
    the documented real-decoder hook (soundfile / librosa-soxr /
    chromaprint), composed by doc_id joins.  The oracle recomputes all
    three fakes' arithmetic in SQL, pinning the batch plumbing exactly —
    completing the image/video/audio triple the module header promises."""
    docs = spread(t(spark, sf, "documents"), "doc_id").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    meta = M.decode_audio_metadata(docs, "blob", "doc_id", deterministic_fake=True)
    rs = M.resample_audio(
        docs, "blob", "doc_id", target_rate=16000, deterministic_fake=True
    ).select("doc_id", "out_rate", "resampled_md5")
    fp = M.audio_fingerprint(docs, "blob", "doc_id", deterministic_fake=True)
    return (
        meta.join(rs, "doc_id")
        .join(fp, "doc_id")
        .select(
            "doc_id", "duration_ms", "sample_rate", "channels", "codec",
            "n_bytes", "out_rate", "resampled_md5", "fingerprint",
        )
    )


# ---------------------------------------------------------------------------
#: the fake feature decode, defined ONCE from the shared _hex_int helper
#: (the pandas-side twin is operators/multimodal._fake_features)
_FAKE_FEATS = ",\n           ".join(
    f"({_hex_int('h', 2 * i + 1, 2)} - 127.5) / 127.5 AS f{i}" for i in range(8)
)


@register(
    "multimodal_feature_knn",
    f"""
    WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
    f AS (
      SELECT doc_id,
           {_FAKE_FEATS}
      FROM m
    ),
    n AS (SELECT *, sqrt(f0 * f0 + f1 * f1 + f2 * f2 + f3 * f3 + f4 * f4 + f5 * f5 + f6 * f6 + f7 * f7) AS nrm FROM f),
    q AS (SELECT * FROM n WHERE doc_id < 10),
    c AS (SELECT * FROM n WHERE doc_id >= 10),
    sims AS (
      SELECT q.doc_id AS qid, c.doc_id AS id,
             ROUND((q.f0 * c.f0 + q.f1 * c.f1 + q.f2 * c.f2 + q.f3 * c.f3 + q.f4 * c.f4 + q.f5 * c.f5 + q.f6 * c.f6 + q.f7 * c.f7) / (q.nrm * c.nrm), 4) AS sim
      FROM c CROSS JOIN q
    )
    SELECT qid, id, sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
      FROM sims)
    WHERE rank <= 3
    """,
)
def multimodal_feature_knn(spark: SparkSession, sf: str):
    """The full multimodal->similarity pipeline under ONE oracle row:
    blob -> Arrow-batched feature extraction (deterministic md5-derived
    fake; the real vision-encoder hook is the documented
    NotImplementedError) -> cosine top-3 neighbors per query blob via
    operators/similarity.cosine_topk (query side broadcast, JVM-side
    dot products).  The oracle recomputes the fake features AND the
    ranking in SQL: both engines sum the 8 products left-to-right over
    identical doubles, so ordering cannot diverge."""
    docs = spread(t(spark, sf, "documents"), "doc_id").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    # split BEFORE extraction: doc_id filters cannot push below a
    # mapInPandas stage, so filtering extracted output would run the
    # Python feature pass over the full corpus twice (once per join side)
    queries = M.extract_features(
        docs.filter(F.col("doc_id") < 10), "blob", "doc_id", dim=8,
        deterministic_fake=True,
    )
    corpus = M.extract_features(
        docs.filter(F.col("doc_id") >= 10), "blob", "doc_id", dim=8,
        deterministic_fake=True,
    )
    return S.cosine_topk(
        corpus, queries, k=3, vec_col="features", id_col="doc_id"
    )


# ---------------------------------------------------------------------------
@register(
    "kmv_distinct_users_estimate",
    """
    WITH hashed AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL
    ), ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_exact
      FROM hashed
    )
    SELECT event_type,
           CAST(MAX(n_exact) AS BIGINT) AS exact_distinct,
           CAST(MAX(CASE WHEN rn = 32 THEN h END) AS BIGINT) AS kth_hash,
           CASE WHEN MAX(n_exact) < 32 THEN CAST(MAX(n_exact) AS DOUBLE)
                -- literals CAST to DOUBLE: bare decimals would compute in
                -- DuckDB's exact-decimal arithmetic (safe here only because
                -- the product is exactly representable; be explicit anyway)
                ELSE CAST(31.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE)
                     / MAX(CASE WHEN rn = 32 THEN h END)
           END AS kmv_estimate
    FROM ranked
    GROUP BY event_type
    """,
)
def kmv_distinct_users_estimate(spark: SparkSession, sf: str):
    """K-MINIMUM-VALUES distinct-count sketch (k=32), FULLY oracle-checked
    — unlike HLL, every step is deterministic and engine-portable: hash
    each distinct (type, user) to a uniform 32-bit value (the md5-bucket
    discipline), keep the 32 smallest per event_type, and estimate
    |distinct| = (k-1) / kth_smallest_normalized — one division of exact
    integers, so even the estimate's float is bit-identical across
    engines.  Exact count carried alongside so the artifact shows the
    sketch error (``exact_distinct`` counts distinct HASH values — equal
    to distinct users up to 32-bit prefix collisions, which is exactly
    the granularity the sketch itself sees).  Scale: the KMV state is
    MERGEABLE — each partition
    keeps its local k smallest (map-side), the shuffle carries k values
    per group, never the distinct set; here the distinct feeds a window
    for oracle parity, with the merge property tested in
    tests/test_operators_direct.py::test_kmv_partial_merge_equals_global."""
    ev = t(spark, sf, "events")
    # distinct on the HASH (textbook KMV ranks distinct hash values, and
    # it is what the oracle dedups on): deduping on user_id instead would
    # keep both sides of a 32-bit hash collision and shift every rank
    hashed = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            md5_long("user_id").alias("h"),
        )
        .distinct()
    )
    wr = W.partitionBy("event_type").orderBy("h")
    wn = W.partitionBy("event_type")
    r = hashed.select(
        "event_type",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_exact"),
    )
    kth = F.max(F.when(F.col("rn") == 32, F.col("h")))
    return r.groupBy("event_type").agg(
        F.max("n_exact").cast("long").alias("exact_distinct"),
        kth.cast("long").alias("kth_hash"),
        F.when(
            F.max("n_exact") < 32, F.max("n_exact").cast("double")
        )
        .otherwise(F.lit(31.0 * 4294967296.0) / kth)
        .alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
def _pagerank_sql(n_rounds: int = 3, chunk: int = 256) -> str:
    """DuckDB twin of operators/graph.pagerank_fixed_rounds over the
    customer<->supplier trade graph, unrolled round by round.  Nodes are
    INTEGER-encoded (customer k -> 2k, supplier k -> 2k+1) so the
    neighbor sum can use the same bounded two-level source-id-ordered
    chunk fold as the operator's ``fold_chunk`` mode (``chunk`` must
    match).  The damping constants are spelled as the SAME IEEE
    expressions the operator computes ((1.0 - 0.85), 1.0/N) so every
    float matches bit-for-bit."""
    parts = [
        """edges0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey)""",
        "edges AS (SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)",
        "nodes AS (SELECT DISTINCT src AS v FROM edges)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        # CAST the literals: DuckDB parses bare 1.0/0.85 as DECIMAL and
        # would do exact-decimal arithmetic where Spark does IEEE double
        "r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn)",
    ]
    for t in range(n_rounds):
        parts.append(
            f"""c{t} AS (
      SELECT e.dst AS v, e.src AS s, r.rank / d.deg AS c
      FROM edges e JOIN r{t} r ON r.v = e.src JOIN outdeg d ON d.src = e.src)"""
        )
        parts.append(
            f"""sc{t} AS (
      SELECT v, s // {chunk} AS chk,
             list_reduce(list(c ORDER BY s), (a, b) -> a + b) AS csum
      FROM c{t} GROUP BY v, chk)"""
        )
        parts.append(
            f"""s{t} AS (
      SELECT v, list_reduce(list(csum ORDER BY chk), (a, b) -> a + b) AS s
      FROM sc{t} GROUP BY v)"""
        )
        parts.append(
            f"""r{t + 1} AS (
      SELECT n0.v,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * COALESCE(s{t}.s, CAST(0.0 AS DOUBLE)) AS rank
      FROM nodes n0 CROSS JOIN nn LEFT JOIN s{t} ON s{t}.v = n0.v)"""
        )
    return ",\n    ".join(parts)


@register(
    "pagerank_trade_graph",
    f"""
    WITH {_pagerank_sql(3, chunk=256)}
    SELECT CASE WHEN v % 2 = 0 THEN 'c' || CAST(v // 2 AS VARCHAR)
                ELSE 's' || CAST(v // 2 AS VARCHAR) END AS v,
           rank
    FROM r3
    """,
)
def pagerank_trade_graph(spark: SparkSession, sf: str):
    """PageRank (3 fixed power iterations, d=0.85) over the undirected
    customer<->supplier trade graph (distinct order lines define the
    edges; both directions added, so no dangling nodes) — the iterative
    GRAPH-CENTRALITY member of the algorithm family next to
    connected_components and kmeans_lloyd, oracle-checked value-for-value
    against an unrolled DuckDB CTE chain: every rank is bit-identical
    because neighbor sums fold in source-id order with the SAME bounded
    two-level chunk fold on both sides (fold_chunk=256 — a hub node's
    in-degree array is bounded at 256 doubles per task, the round-6
    verdict's scale fix) and the damping constants are computed with the
    same IEEE ops.  Nodes are integer-encoded (customer k -> 2k,
    supplier k -> 2k+1) to give the chunk fold its non-negative-integer
    sort key; labels are reconstructed for output.  Scale notes in
    operators/graph.py (one shuffle join + one bounded grouped fold per
    round, lineage truncated)."""
    from byte_convert_avro_spark.operators.graph import (
        both_directions,
        pagerank_fixed_rounds,
    )

    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = both_directions(e0, "src", "dst")
    ranks = pagerank_fixed_rounds(
        edges, "src", "dst", n_rounds=3, damping=0.85, fold_chunk=256
    )
    half = F.call_function("div", F.col("v"), F.lit(2)).cast("string")
    return ranks.select(
        F.when(F.col("v") % 2 == 0, F.concat(F.lit("c"), half))
        .otherwise(F.concat(F.lit("s"), half))
        .alias("v"),
        "rank",
    )


# ---------------------------------------------------------------------------
@register(
    "embedding_int8_quantization_error",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS max_abs
      FROM v
    ), q AS (
      SELECT vec_id, e, max_abs,
             max_abs / CAST(127.0 AS DOUBLE) AS scale,
             CASE WHEN max_abs = 0 THEN list_transform(e, x -> CAST(0.0 AS DOUBLE))
                  ELSE list_transform(e, x -> round(x / (max_abs / CAST(127.0 AS DOUBLE)))
                                              * (max_abs / CAST(127.0 AS DOUBLE)))
             END AS dq
      FROM s
    )
    SELECT vec_id, max_abs,
           list_reduce(list_transform(generate_series(1, 64),
                       i -> (e[i] - dq[i]) * (e[i] - dq[i])), (a, b) -> a + b)
             / CAST(64.0 AS DOUBLE) AS mse,
           CASE WHEN max_abs = 0 THEN NULL
                ELSE list_reduce(list_transform(generate_series(1, 64),
                                 i -> e[i] * dq[i]), (a, b) -> a + b)
                     / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                               i -> e[i] * e[i]), (a, b) -> a + b))
                        * sqrt(list_reduce(list_transform(generate_series(1, 64),
                               i -> dq[i] * dq[i]), (a, b) -> a + b)))
           END AS cos_dequant
    FROM q
    """,
)
def embedding_int8_quantization_error(spark: SparkSession, sf: str):
    """Vector COMPRESSION accounting — the int8 scalar-quantization step
    every large embedding store applies, with its exact cost: per vector,
    symmetric max-abs/127 scale, round-to-int8 quantize + dequantize, and
    the reconstruction MSE + cosine(original, dequantized).  Fully
    deterministic cross-engine: abs/max are order-free, ROUND shares the
    money-discipline semantics, and every reduction folds dims 1..64 in
    array order (no sorting needed — the array IS the order).  Scale:
    pure narrow per-row array math, no shuffle at all."""
    e = spread(t(spark, sf, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    s = e.withColumn(
        "max_abs", F.array_max(F.transform("e", lambda x: F.abs(x)))
    )
    scale = F.col("max_abs") / F.lit(127.0)
    dq = F.when(
        F.col("max_abs") == 0,
        F.transform("e", lambda x: F.lit(0.0)),
    ).otherwise(
        F.transform("e", lambda x: F.round(x / scale) * scale)
    )
    q = s.withColumn("dq", dq)
    fold = "aggregate(zip_with({a}, {b}, (x, y) -> {expr}), cast(0.0 as double), (acc, x) -> acc + x)"
    mse = F.expr(fold.format(a="e", b="dq", expr="(x - y) * (x - y)")) / F.lit(64.0)
    dot_ed = F.expr(fold.format(a="e", b="dq", expr="x * y"))
    nrm_e = F.sqrt(F.expr(fold.format(a="e", b="e", expr="x * y")))
    nrm_d = F.sqrt(F.expr(fold.format(a="dq", b="dq", expr="x * y")))
    return q.select(
        "vec_id",
        "max_abs",
        mse.alias("mse"),
        F.when(F.col("max_abs") == 0, F.lit(None).cast("double"))
        .otherwise(dot_ed / (nrm_e * nrm_d))
        .alias("cos_dequant"),
    )


# ---------------------------------------------------------------------------
@register(
    "dedup_cluster_best_keeper",
    None,  # oracle assigned below (needs text._MINHASH_ORACLE; see _fix)
)
def dedup_cluster_best_keeper(spark: SparkSession, sf: str):
    """QUALITY-AWARE keeper selection — the refinement every production
    dedup pipeline applies on top of min-id keepers: per near-dup
    cluster (connected components over the MinHash-LSH candidate graph),
    keep the member with the HIGHEST quality score (ties -> smallest
    doc_id).  Composes three oracle-gated stages — candidate pairing,
    connected_components, doc_quality_scores — into one result; the
    quality doubles are bit-identical cross-engine, so the argmax is
    too.  Scale: the per-component argmax is one window over the cluster
    assignment joined to per-doc scores on doc_id."""
    from byte_convert_avro_spark.operators.dedup import connected_components
    from byte_convert_avro_spark.queries.text import minhash_dup_candidates

    pairs = minhash_dup_candidates(spark, sf).select("doc_a", "doc_b")
    comp = connected_components(pairs).select(
        F.col("v").alias("doc_id"), "component"
    )
    q = X.quality_score(t(spark, sf, "documents"), "text").select("doc_id", "quality")
    j = comp.join(q, "doc_id")
    wsz = W.partitionBy("component")
    wbest = W.partitionBy("component").orderBy(F.desc("quality"), "doc_id")
    return (
        j.withColumn("cluster_size", F.count("*").over(wsz))
        .withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            "cluster_size",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("quality").alias("keeper_quality"),
        )
    )


def _fix_best_keeper_oracle() -> None:
    """Assign the oracle after import: the minhash CTE and the unrolled
    CC rounds live in queries/text.py (_MINHASH_ORACLE/_CC_COMP_ORACLE)
    and the quality CTE above — all composed verbatim so none of the
    semantics can drift."""
    from byte_convert_avro_spark.queries.base import ORACLES
    from byte_convert_avro_spark.queries.text import _CC_COMP_ORACLE, _MINHASH_ORACLE

    ORACLES["dedup_cluster_best_keeper"] = f"""
    WITH RECURSIVE sigs AS ({_MINHASH_ORACLE}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    {_CC_COMP_ORACLE},
    {_QUALITY_CTE.strip()},
    jj AS (
      SELECT c.component, c.doc_id, q.quality,
             COUNT(*) OVER (PARTITION BY c.component) AS cluster_size,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM comp c JOIN quality q ON q.doc_id = c.doc_id
    )
    SELECT component, cluster_size,
           doc_id AS keeper_doc_id, quality AS keeper_quality
    FROM jj WHERE rn = 1
    """


_fix_best_keeper_oracle()


# ---------------------------------------------------------------------------
@register(
    "corpus_chunking_64w",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w, LEN(string_split(text, ' ')) AS n
      FROM documents
    ), starts AS (
      SELECT doc_id, w, n, unnest(generate_series(1, n, 48)) AS s
      FROM words
    )
    SELECT doc_id,
           CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_word,
           CAST(LEAST(64, n - s + 1) AS BIGINT) AS n_words_in_chunk,
           md5(array_to_string(w[s:LEAST(s + 63, n)], ' ')) AS chunk_md5
    FROM starts
    """,
)
def corpus_chunking_64w(spark: SparkSession, sf: str):
    """Training-corpus CHUNKING — the pre-tokenization splitter: each
    document slices into 64-word chunks with 16-word overlap (stride 48),
    tail chunk shorter.  Chunk text is compared via md5 (raw text never
    crosses the engine boundary); (doc_id, chunk_idx) is the stable chunk
    key downstream embedding/packing stages join on.  Scale: one narrow
    split + bounded explode (n/48 rows per doc), no shuffle until a
    consumer aggregates."""
    d = t(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    ).withColumn("n", F.size("w"))
    starts = d.select(
        "doc_id", "w", "n",
        F.explode(F.expr("sequence(1, n, 48)")).alias("s"),
    )
    return starts.select(
        "doc_id",
        F.expr("(s - 1) div 48").cast("long").alias("chunk_idx"),
        F.col("s").cast("long").alias("start_word"),
        F.least(F.lit(64), F.col("n") - F.col("s") + 1).cast("long").alias("n_words_in_chunk"),
        F.md5(F.array_join(F.slice("w", F.col("s"), F.lit(64)), " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
@register(
    "embedding_dim_stats",
    """
    WITH dims AS (
      SELECT vec_id, dim, (embedding::DOUBLE[])[dim] AS x
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) dd
    ), ch AS (
      SELECT dim, vec_id // 128 AS chk,
             list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) AS csum,
             COUNT(*) AS cnt, MIN(x) AS mn, MAX(x) AS mx
      FROM dims GROUP BY dim, chk
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(SUM(cnt) AS BIGINT) AS n,
           list_reduce(list(csum ORDER BY chk), (a, b) -> a + b) / SUM(cnt) AS mean,
           MIN(mn) AS min_x,
           MAX(mx) AS max_x
    FROM ch GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf: str):
    """FEATURE-NORMALIZATION statistics: per-dimension mean / min / max
    over the embedding corpus — the standardization-prep pass before any
    learned index or quantizer.  The mean is a BOUNDED two-level ordered
    fold over vec_id (functions.bounded_ordered_agg: per-dim tasks hold
    <= chunk doubles instead of the whole corpus — the 100 TB fix for the
    round-6 verdict's unbounded-array finding; min/max are order-free and
    re-aggregate exactly).  chunk=128 so the sf0.01 gate (500 vectors)
    exercises 4 real chunks per dim, not a degenerate single chunk.
    Scale: one explode to |corpus| x 64 rows, one (dim, chunk)-keyed
    shuffle, then a tiny (dim)-keyed shuffle of chunk sums."""
    from byte_convert_avro_spark.functions import bounded_ordered_agg

    e = spread(t(spark, sf, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dims = e.select(
        "vec_id", F.posexplode("e").alias("dim0", "x")
    ).select("vec_id", (F.col("dim0") + 1).cast("int").alias("dim"), "x")
    agg = bounded_ordered_agg(
        dims, ["dim"], "vec_id", "x", chunk=128,
        chunk_aggs={"mn": F.min("x"), "mx": F.max("x")},
        final_aggs={"min_x": F.min("mn"), "max_x": F.max("mx")},
    )
    return agg.select(
        "dim",
        F.col("ocnt").alias("n"),
        (F.col("osum") / F.col("ocnt")).alias("mean"),
        "min_x",
        "max_x",
    )


# ---------------------------------------------------------------------------
@register(
    "copurchase_triangle_count",
    """
    WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    edges AS (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM os a JOIN os b ON b.ok = a.ok AND a.p < b.p
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(COUNT(DISTINCT n) AS BIGINT)
            FROM (SELECT a AS n FROM edges UNION SELECT b FROM edges))
             AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT n_triangles FROM tri) AS n_triangles
    """,
)
def copurchase_triangle_count(spark: SparkSession, sf: str):
    """TRIANGLE COUNTING on the part co-purchase graph (parts sharing an
    order are adjacent — the "bought together" graph: sparse and
    heavy-tailed, the regime triangle counting is actually used in) —
    completes the graph trio next to connected components and PageRank.
    The Spark side runs the DEGREE-ORIENTED algorithm
    (operators/graph.py triangle_count: orient edges toward the higher
    (degree, id) rank so out-degree is bounded by O(sqrt(2m)) and hub
    parts cannot explode the wedge join — enumeration bounded by
    arboricity, the 100 TB-safe form); the oracle counts the same
    triangles via the naive ordered triple join.  Same number both ways,
    different algorithms — exactly what the gate is for.  (The supplier
    co-occurrence graph was rejected for this query: with ~4 lineitems
    per order over few suppliers it saturates to a COMPLETE graph, where
    triangle counting is O(n^3) by definition and says nothing.)"""
    from byte_convert_avro_spark.operators.graph import triangle_count

    li = t(spark, sf, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b = os_.select(F.col("ok"), F.col("p").alias("p2"))
    edges = (
        os_.join(b, "ok")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
    )
    return triangle_count(edges, "src", "dst")


# ---------------------------------------------------------------------------
_BLOOM_POS = (
    "(('0x' || substr(md5(CAST(u AS VARCHAR) || ':bf{i}'), 1, 8))::BIGINT % 4096)"
)


@register(
    "bloom_prefilter_purchasers",
    f"""
    WITH members AS (
      SELECT DISTINCT user_id AS u FROM events WHERE event_type = 'purchase'
    ), allu AS (SELECT DISTINCT user_id AS u FROM events),
    bits AS (
      SELECT u, unnest([{_BLOOM_POS.format(i=0)},
                        {_BLOOM_POS.format(i=1)},
                        {_BLOOM_POS.format(i=2)}]) AS p
      FROM members
    ), words AS (
      SELECT p // 63 AS word_idx, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS word
      FROM bits GROUP BY 1
    ), probe_bits AS (
      SELECT u, unnest([{_BLOOM_POS.format(i=0)},
                        {_BLOOM_POS.format(i=1)},
                        {_BLOOM_POS.format(i=2)}]) AS p
      FROM allu
    ), probed AS (
      SELECT pb.u,
             SUM(CASE WHEN ((w.word >> CAST(pb.p % 63 AS INT)) & 1) = 1
                      THEN 1 ELSE 0 END) AS n_ok
      FROM probe_bits pb LEFT JOIN words w ON w.word_idx = pb.p // 63
      GROUP BY pb.u
    ), verdicts AS (
      SELECT p.u, (p.n_ok = 3) AS maybe, (m.u IS NOT NULL) AS actual
      FROM probed p LEFT JOIN members m ON m.u = p.u
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN maybe AND NOT actual THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positives,
           CAST(SUM(CASE WHEN actual AND NOT maybe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_negatives
    FROM verdicts
    """,
)
def bloom_prefilter_purchasers(spark: SparkSession, sf: str):
    """DETERMINISTIC BLOOM FILTER under the oracle gate — the
    shuffle-thinning runtime-filter primitive as an explicit operator:
    build a 4096-bit / 3-hash filter over purchasing users (the small
    build side), broadcast its 66 words (63-bit words — the sign bit stays clear so neither engine hits the 1<<63 signed overflow), pre-filter the full user set,
    and account exactly for candidates / false positives / (provably
    zero) false negatives.  Every bit position is md5-substring
    arithmetic and every word a bit_or fold, so BOTH engines compute the
    byte-identical filter — a Bloom filter the value-hash compare can
    gate, unlike the engine-private bloom_filter_agg.  At deployment the
    probe side never shuffles: the words broadcast and definitely-absent
    rows drop before the real join (operators/sketch.py)."""
    from byte_convert_avro_spark.operators.sketch import bloom_build, bloom_probe

    ev = t(spark, sf, "events")
    members = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    allu = ev.select(F.col("user_id").alias("u")).distinct()
    words = bloom_build(members, "u", m_bits=4096, k=3)
    probed = bloom_probe(allu, words, "u", m_bits=4096, k=3)
    verdicts = probed.join(
        members.withColumn("_m", F.lit(1)), "u", "left"
    ).select(
        F.coalesce("bloom_maybe", F.lit(False)).alias("maybe"),
        F.col("_m").isNotNull().alias("actual"),
    )
    return verdicts.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("actual").cast("int")).cast("long").alias("n_members"),
        F.sum(F.col("maybe").cast("int")).cast("long").alias("n_candidates"),
        F.sum((F.col("maybe") & ~F.col("actual")).cast("int"))
        .cast("long")
        .alias("n_false_positives"),
        F.sum((F.col("actual") & ~F.col("maybe")).cast("int"))
        .cast("long")
        .alias("n_false_negatives"),
    )


# ---------------------------------------------------------------------------
@register(
    "kmv_weekly_merge",
    """
    WITH hashed AS (
      SELECT DISTINCT (epoch_us(ts) // 86400000000) AS day_idx,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL
    ), daily AS (
      SELECT day_idx, h,
             ROW_NUMBER() OVER (PARTITION BY day_idx ORDER BY h) AS rn
      FROM hashed
    ), state AS (SELECT day_idx, h FROM daily WHERE rn <= 32),
    days AS (SELECT DISTINCT day_idx FROM hashed),
    merged AS (
      SELECT d.day_idx, s.h
      FROM days d JOIN state s
        ON s.day_idx BETWEEN d.day_idx - 6 AND d.day_idx
      GROUP BY d.day_idx, s.h
    ), rank2 AS (
      SELECT day_idx, h,
             ROW_NUMBER() OVER (PARTITION BY day_idx ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY day_idx) AS nm
      FROM merged
    )
    SELECT day_idx,
           CAST(MAX(nm) AS BIGINT) AS n_merged_hashes,
           CAST(MAX(CASE WHEN rn = 32 THEN h END) AS BIGINT) AS kth_hash,
           CASE WHEN MAX(nm) < 32 THEN CAST(MAX(nm) AS DOUBLE)
                ELSE CAST(31.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE)
                     / MAX(CASE WHEN rn = 32 THEN h END)
           END AS weekly_distinct_estimate
    FROM rank2 GROUP BY day_idx
    """,
)
def kmv_weekly_merge(spark: SparkSession, sf: str):
    """KMV SKETCH MERGEABILITY as a query — the pattern that makes
    distinct-counting affordable at 100 TB: keep a tiny per-DAY state
    (the 32 smallest distinct user hashes, <= 32 longs/day), then answer
    "distinct users in ANY trailing 7-day window" by MERGING the daily
    states — union the hash sets, re-take the 32 smallest, same
    (k-1)·2^32 / kth estimator as ``kmv_distinct_users_estimate`` — and
    never rescan raw events.  Everything deterministic (md5-bucket
    hashes, integer ranks, one exact-int division), so the merged
    estimates hash-match the oracle bit-for-bit.  Scale: raw events are
    touched once to build daily states; each window estimate reads at
    most 7 × 32 longs."""
    ev = t(spark, sf, "events")
    hashed = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            F.expr("(ts DIV 1000) DIV 86400000000").alias("day_idx"),
            md5_long("user_id").alias("h"),
        )
        .distinct()
    )
    wd = W.partitionBy("day_idx").orderBy("h")
    state = (
        hashed.select("day_idx", "h", F.row_number().over(wd).alias("rn"))
        .filter(F.col("rn") <= 32)
        .select("day_idx", "h")
    )
    days = hashed.select("day_idx").distinct()
    s2 = state.select(F.col("day_idx").alias("sday"), "h")
    merged = (
        days.join(
            s2,
            (F.col("sday") >= F.col("day_idx") - 6) & (F.col("sday") <= F.col("day_idx")),
        )
        .select("day_idx", "h")
        .distinct()
    )
    wm = W.partitionBy("day_idx")
    r = merged.select(
        "day_idx",
        "h",
        F.row_number().over(wm.orderBy("h")).alias("rn"),
        F.count("*").over(wm).alias("nm"),
    )
    kth = F.max(F.when(F.col("rn") == 32, F.col("h")))
    return r.groupBy("day_idx").agg(
        F.max("nm").cast("long").alias("n_merged_hashes"),
        kth.cast("long").alias("kth_hash"),
        F.when(F.max("nm") < 32, F.max("nm").cast("double"))
        .otherwise(F.lit(31.0 * 4294967296.0) / kth)
        .alias("weekly_distinct_estimate"),
    )


# ---------------------------------------------------------------------------
#: bit-interleave of two 8-bit bucket coords -> 16-bit Morton (Z) value;
#: ONE expression string shared verbatim by the Spark plan and the oracle
_ZVAL_EXPR = "(((((cb >> 0) & 1) << 0) + (((db >> 0) & 1) << 1)) + ((((cb >> 1) & 1) << 2) + (((db >> 1) & 1) << 3)) + ((((cb >> 2) & 1) << 4) + (((db >> 2) & 1) << 5)) + ((((cb >> 3) & 1) << 6) + (((db >> 3) & 1) << 7)) + ((((cb >> 4) & 1) << 8) + (((db >> 4) & 1) << 9)) + ((((cb >> 5) & 1) << 10) + (((db >> 5) & 1) << 11)) + ((((cb >> 6) & 1) << 12) + (((db >> 6) & 1) << 13)) + ((((cb >> 7) & 1) << 14) + (((db >> 7) & 1) << 15)))"


@register(
    "zorder_layout_effectiveness",
    f"""
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
    ), z AS (
      SELECT *, {_ZVAL_EXPR} AS zval FROM bucketed
    ), assigned AS (
      SELECT 'zorder' AS layout, zval // 256 AS file_id, cb, db FROM z
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
    """,
)
def zorder_layout_effectiveness(spark: SparkSession, sf: str):
    """DATA-LAYOUT ENGINEERING: Z-ORDER (Morton) multi-dimensional
    clustering vs a single-dimension (date-major) layout, measured by
    the statistic that decides scan pruning — each file's (custkey ×
    day) bounding-box volume, which is proportional to the chance a
    point/range predicate must touch the file.  Bucket both dims to
    8 bits from broadcast min/max stats (row-local, no global sort),
    bit-interleave into a 16-bit Z-value (ONE expression string shared
    verbatim with the oracle), and partition the value space into 256
    "files" per layout.  Z-order files bound BOTH dims (~16×16 boxes);
    date-major files bound only the date (256-wide custkey span) — the
    measured avg_volume gap IS the multi-dim pruning win.  At
    deployment the same zval feeds ``repartitionByRange(zval)`` +
    sorted parquet writes so min/max row-group stats realize the
    pruning; no stage here uses a single-partition window."""
    o = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        # o_orderdate is TIMESTAMP_NTZ: go through DATE, which is
        # timezone-FREE (a cast to ltz timestamp would read the session
        # TZ and shift days on a non-UTC driver host)
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
    z = bucketed.withColumn("zval", F.expr(_ZVAL_EXPR))
    zfiles = z.select(
        F.lit("zorder").alias("layout"),
        F.expr("zval DIV 256").alias("file_id"),
        "cb",
        "db",
    )
    lfiles = z.select(
        F.lit("linear").alias("layout"), F.col("db").alias("file_id"), "cb", "db"
    )
    perfile = (
        zfiles.unionAll(lfiles)
        .groupBy("layout", "file_id")
        .agg(
            (F.max("cb") - F.min("cb") + 1).alias("cb_span"),
            (F.max("db") - F.min("db") + 1).alias("db_span"),
        )
    )
    return perfile.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        (F.sum("cb_span").cast("double") / F.count("*")).alias("avg_cb_span"),
        (F.sum("db_span").cast("double") / F.count("*")).alias("avg_db_span"),
        (
            F.sum(F.col("cb_span") * F.col("db_span")).cast("double") / F.count("*")
        ).alias("avg_volume"),
    )


# ---------------------------------------------------------------------------
@register(
    "basket_association_lift",
    """
    WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM os),
    item AS (SELECT p, COUNT(*) AS n_item FROM os GROUP BY p),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_ab
      FROM os a JOIN os b ON b.ok = a.ok AND a.p < b.p
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    ), scored AS (
      SELECT pa, pb, n_ab,
             ia.n_item AS n_a, ib.n_item AS n_b,
             CAST(n_ab * n.n_orders AS DOUBLE) / (ia.n_item * ib.n_item) AS lift,
             CAST(n_ab AS DOUBLE) / ia.n_item AS confidence_a_to_b
      FROM pairs
      JOIN item ia ON ia.p = pairs.pa
      JOIN item ib ON ib.p = pairs.pb
      CROSS JOIN n
    )
    SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           lift, confidence_a_to_b, rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, pa, pb) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def basket_association_lift(spark: SparkSession, sf: str):
    """MARKET-BASKET ASSOCIATION RULES: support / confidence / LIFT for
    part pairs co-occurring in >= 3 orders, top-10 by lift — the
    recommender-adjacent statistic over the same co-purchase structure
    the triangle query mines.  Lift = n_ab·N / (n_a·n_b): exact int64
    products, one division, bit-identical ranks (ties broken by pair).
    Scale: per-order pair fanout is bounded by basket size; support
    pruning (HAVING) happens in the same aggregation that counts, so
    rare pairs never reach the scoring join; item counts broadcast."""
    li = t(spark, sf, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    n = os_.agg(F.count_distinct("ok").alias("n_orders"))
    item = os_.groupBy("p").agg(F.count("*").alias("n_item"))
    b = os_.select("ok", F.col("p").alias("p2"))
    pairs = (
        os_.join(b, "ok")
        .filter(F.col("p") < F.col("p2"))
        .groupBy(F.col("p").alias("pa"), F.col("p2").alias("pb"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = item.select(F.col("p").alias("pa"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("p").alias("pb"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa", "pb", "n_ab", "n_a", "n_b",
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
            (F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence_a_to_b"),
        )
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(W.orderBy(F.desc("lift"), "pa", "pb"))
        )
        .filter(F.col("rank") <= 10)
        .select(
            "pa", "pb",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "lift", "confidence_a_to_b", "rank",
        )
    )


# ---------------------------------------------------------------------------
@register(
    "audio_fingerprint_dup_groups",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT CAST('1' || repeat('0', LENGTH(CAST(MAX(doc_id) AS VARCHAR))) AS BIGINT) FROM documents), text FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 = 0
    )
    SELECT substr(md5(md5(text) || '|fp'), 1, 16) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM corpus
    GROUP BY 1
    HAVING COUNT(*) >= 2
    """,
)
def audio_fingerprint_dup_groups(spark: SparkSession, sf: str):
    """AUDIO DEDUP over acoustic fingerprints — the media-modality rung
    of the dedup ladder: blobs whose fingerprint collides are the same
    recording (chromaprint at deployment; the content-derived fake here,
    reproduced by the oracle in SQL); keeper = smallest doc_id, same
    policy as text exact-dedup.  Runs the REAL Arrow-batched fingerprint
    operator (operators/multimodal.audio_fingerprint), then one uniform
    hash-keyed groupBy — fingerprints are the shuffle key, never blob
    bytes."""
    base = t(spark, sf, "documents").select("doc_id", "text")
    # re-uploaded copies: a 20% hash slice re-ingested under new ids —
    # the duplicate regime the fingerprint key must collapse
    dupes = (
        base.filter(hash_bucket("doc_id", 5) == 0)
        # width-derived offset (see base.key_offset): a fixed literal
        # collides with real doc_ids once the corpus outgrows it
        .crossJoin(F.broadcast(key_offset(base, "doc_id")))
        .select((F.col("doc_id") + F.col("__off")).alias("doc_id"), "text")
    )
    docs = spread(base.unionAll(dupes), "doc_id").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    fp = M.audio_fingerprint(docs, "blob", "doc_id", deterministic_fake=True)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# ---------------------------------------------------------------------------
@register(
    "copurchase_link_prediction",
    """
    WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    edges AS (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM os a JOIN os b ON b.ok = a.ok AND a.p < b.p
    ), und AS (
      SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges
    ), adj AS (
      SELECT u, list_sort(list(v)) AS nbrs, COUNT(*) AS deg FROM und GROUP BY u
    ), scored AS (
      SELECT e.a, e.b,
             len(list_intersect(ia.nbrs, ib.nbrs)) AS n_common,
             ia.deg AS da, ib.deg AS db,
             CAST(len(list_intersect(ia.nbrs, ib.nbrs)) AS DOUBLE)
               / (ia.deg + ib.deg - len(list_intersect(ia.nbrs, ib.nbrs)))
               AS jaccard
      FROM edges e
      JOIN adj ia ON ia.u = e.a
      JOIN adj ib ON ib.u = e.b
    )
    SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
           CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db, jaccard, rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, a, b) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def copurchase_link_prediction(spark: SparkSession, sf: str):
    """LINK-PREDICTION SCORING: neighborhood Jaccard
    ``|N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` for each co-purchase edge, top-10
    — the classic common-neighbors recommender signal, computed with the
    SAME adjacency-array discipline as triangle counting: each node's
    sorted neighbor list is built ONCE (one groupBy), the per-edge score
    is a row-local ``array_intersect`` after two node-keyed joins, and
    the denominator is exact-int arithmetic (da + db - i), so ranks are
    bit-stable.  No stage is pairs-of-pairs; cost is O(edges · avg-deg)
    partition-local."""
    li = t(spark, sf, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b2 = os_.select("ok", F.col("p").alias("p2"))
    edges = (
        os_.join(b2, "ok")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("a"), F.col("p2").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    adj = und.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("nbrs"), F.count("*").alias("deg")
    )
    ia = adj.select(F.col("u").alias("a"), F.col("nbrs").alias("na"), F.col("deg").alias("da"))
    ib = adj.select(F.col("u").alias("b"), F.col("nbrs").alias("nb"), F.col("deg").alias("db"))
    scored = (
        edges.join(ia, "a")
        .join(ib, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("na", "nb")).alias("n_common"),
            "da",
            "db",
        )
        .select(
            "a", "b", "n_common", "da", "db",
            (
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(W.orderBy(F.desc("jaccard"), "a", "b"))
        )
        .filter(F.col("rank") <= 10)
        .select(
            "a", "b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("da").cast("long").alias("da"),
            F.col("db").cast("long").alias("db"),
            "jaccard", "rank",
        )
    )


# ---------------------------------------------------------------------------
@register(
    "ivf_recall_at_3",
    f"""
    WITH {_kmeans_sql_cte(8, 3)},
    dist AS (
      SELECT v.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])),
                         (a, b) -> a + b) AS d2
      FROM v CROSS JOIN cent3 c
    ), ranked AS (
      SELECT vec_id, cell, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM dist
    ), assigned AS (
      SELECT vec_id, cell FROM ranked WHERE rn = 1 AND vec_id >= 5
    ), probes AS (
      SELECT vec_id AS qid, cell FROM ranked WHERE rn <= 2 AND vec_id < 5
    ), vn AS (
      SELECT vec_id, e, sqrt({_IVF_DOT_SQL.format(a='e', b='e')}) AS nrm FROM v
    ), cand AS (
      SELECT p.qid, a.vec_id FROM probes p JOIN assigned a ON p.cell = a.cell
    ), ivf3 AS (
      SELECT qid, vec_id FROM (
        SELECT cand.qid, cand.vec_id,
               ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
                 ROUND({_IVF_DOT_SQL.format(a='cv.e', b='qv.e')}
                       / (cv.nrm * qv.nrm), 4) DESC, cand.vec_id) AS rank
        FROM cand
        JOIN vn cv ON cv.vec_id = cand.vec_id
        JOIN vn qv ON qv.vec_id = cand.qid)
      WHERE rank <= 3
    ), exact3 AS (
      SELECT qid, vec_id FROM (
        SELECT qv.vec_id AS qid, cv.vec_id,
               ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
                 ROUND({_IVF_DOT_SQL.format(a='cv.e', b='qv.e')}
                       / (cv.nrm * qv.nrm), 4) DESC, cv.vec_id) AS rank
        FROM vn cv CROSS JOIN vn qv
        WHERE qv.vec_id < 5 AND cv.vec_id >= 5)
      WHERE rank <= 3
    )
    SELECT e.qid,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / 3 AS recall_at_3
    FROM exact3 e
    LEFT JOIN ivf3 i ON i.qid = e.qid AND i.vec_id = e.vec_id
    GROUP BY e.qid
    """,
)
def ivf_recall_at_3(spark: SparkSession, sf: str):
    """ANN QUALITY MEASURED UNDER THE GATE: recall@3 of the trained-IVF
    search against the exact brute-force top-3, per query — the number
    that justifies (or indicts) an approximate index, computed
    deterministically on both engines so even the EVALUATION
    hash-matches.  IVF side = the full kmeans -> ivf_build -> ivf_search
    pipeline (2-cell probes); exact side = broadcast brute force; the
    overlap join ships only (qid, vec_id) ints.  At deployment this is
    the regression test an index rebuild must pass before serving."""
    from byte_convert_avro_spark.queries.vectors import _DOT, _emb

    ivf3 = ivf_search_top3(spark, sf).select("qid", "vec_id")
    e = _emb(spark, sf).withColumn("nrm", F.sqrt(F.expr(_DOT.format(a="e", b="e"))))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = e.filter(F.col("vec_id") >= 5)
    sims = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        F.round(
            F.expr(_DOT.format(a="e", b="qe")) / (F.col("nrm") * F.col("qn")), 4
        ).alias("sim"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    exact3 = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "vec_id")
    )
    hit = ivf3.withColumn("_hit", F.lit(1))
    return (
        exact3.join(hit, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_overlap"),
            (F.sum(F.coalesce("_hit", F.lit(0))).cast("double") / 3).alias(
                "recall_at_3"
            ),
        )
    )


# ---------------------------------------------------------------------------
@register(
    "kmv_source_merge_identity",
    """
    WITH hashed AS (
      SELECT DISTINCT source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM documents
    ), per_source AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed)
      WHERE rn <= 32
    ), merged AS (
      SELECT h FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM per_source))
      WHERE rn <= 32
    ), direct AS (
      SELECT h FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM hashed))
      WHERE rn <= 32
    )
    SELECT CAST((SELECT COUNT(*) FROM merged) AS BIGINT) AS k_merged,
           CAST((SELECT MAX(h) FROM merged) AS BIGINT) AS kth_merged,
           CAST((SELECT MAX(h) FROM direct) AS BIGINT) AS kth_direct,
           CAST((SELECT COUNT(*) FROM merged m JOIN direct d ON d.h = m.h)
                AS BIGINT) AS n_identical
    """,
)
def kmv_source_merge_identity(spark: SparkSession, sf: str):
    """KMV MERGE IDENTITY — the sketch algebra stated as a theorem and
    checked as data: the k smallest hashes of a UNION equal the k
    smallest of the per-partition k-smallest states (min-k is a
    semilattice morphism), so per-SOURCE sketches merged after the fact
    are not an approximation of the global sketch — they ARE it,
    element for element (``n_identical`` = k).  This is the property
    that lets 1000 executors sketch independently and a coordinator
    merge 32-long states instead of reshuffling anything.  All ranks
    deterministic (distinct hashes, total order)."""
    d = t(spark, sf, "documents")
    hashed = d.select(
        "source",
        md5_long("doc_id").alias("h"),
    ).distinct()
    ws = W.partitionBy("source").orderBy("h")
    per_source = (
        hashed.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 32)
        .select("h")
    )

    def topk(df):
        return (
            df.distinct()
            .withColumn("rn", F.row_number().over(W.orderBy("h")))
            .filter(F.col("rn") <= 32)
            .select("h")
        )

    merged = topk(per_source)
    direct = topk(hashed.select("h"))
    overlap = merged.join(direct.select(F.col("h").alias("h2")), merged.h == F.col("h2"))
    return (
        merged.agg(
            F.count("*").cast("long").alias("k_merged"),
            F.max("h").cast("long").alias("kth_merged"),
        )
        .crossJoin(direct.agg(F.max("h").cast("long").alias("kth_direct")))
        .crossJoin(overlap.agg(F.count("*").cast("long").alias("n_identical")))
    )


# ---------------------------------------------------------------------------
@register(
    "copurchase_degree_histogram",
    """
    WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    edges AS (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM os a JOIN os b ON b.ok = a.ok AND a.p < b.p
    ), deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
      GROUP BY n
    )
    SELECT CAST(FLOOR(LOG2(d)) AS BIGINT) AS degree_log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
)
def copurchase_degree_histogram(spark: SparkSession, sf: str):
    """DEGREE DISTRIBUTION of the co-purchase graph in log2 buckets —
    the structural profile that tells you whether degree orientation
    and skew handling are even needed (a heavy tail says yes) and the
    first thing to inspect before sizing any graph job.  LOG2 of an
    integer is exact for the bucketing compare (both engines compute
    floor(log2(d)) identically on exact powers and between them).
    One degree aggregation + one tiny bucket rollup."""
    from byte_convert_avro_spark.operators.graph import endpoints

    li = t(spark, sf, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    b = os_.select("ok", F.col("p").alias("p2"))
    edges = (
        os_.join(b, "ok")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )
    deg = endpoints(edges, "a", "b", "n").groupBy("n").agg(F.count("*").alias("d"))
    return deg.groupBy(
        F.floor(F.log2("d")).cast("long").alias("degree_log2_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )


# ---------------------------------------------------------------------------
@register(
    "skew_salted_join_brand_revenue",
    """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    """,
)
def skew_salted_join_brand_revenue(spark: SparkSession, sf: str):
    """SALTED JOIN under the oracle gate: lineitem joins part through
    operators/skew.salted_join (big side salted by content hash, small
    side replicated per salt, equi-join on (key, salt)) and the brand
    revenue rollup must equal the ORACLE'S PLAIN JOIN exactly — proving
    the mitigation is a pure physical rewrite with zero semantic drift,
    the companion to skew_salted_user_totals' salted aggregation.  Use
    when a hot key melts one reducer and AQE can't see or split it
    (docstring in operators/skew.py).  Scale: the shuffle key becomes
    (partkey, salt) — a hot part spreads across n_salts reducers; the
    replicated side stays dimension-sized x n_salts."""
    from byte_convert_avro_spark.operators.skew import salted_join

    l = t(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("k"), cents("l_extendedprice").alias("price_c")
    )
    p = t(spark, sf, "part").select(F.col("p_partkey").alias("k"), "p_brand")
    joined = salted_join(l, p, "k", n_salts=8)
    return joined.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("price_c").cast("long").alias("revenue_c"),
    )


# ---------------------------------------------------------------------------
def _pca_sql(n_iter: int = 3, chunk: int = 128) -> str:
    """DuckDB twin of operators/similarity.pca_power_top_component,
    unrolled round by round: chunked two-level mean, then per round a
    row-local centered dot with the current direction, a chunked
    two-level fold of per-dim products, and a dim-ordered normalization
    — the same fixed-order IEEE arithmetic the operator runs (its driver-
    side norm/divide included), so every loading is bit-identical."""
    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "dd AS (SELECT unnest(generate_series(1, 64)) AS dim)",
        f"""mch AS (
      SELECT dd.dim, v.vec_id // {chunk} AS chk,
             list_reduce(list(v.e[dd.dim] ORDER BY v.vec_id), (a, b) -> a + b) AS csum,
             COUNT(*) AS cnt
      FROM v CROSS JOIN dd GROUP BY dd.dim, chk)""",
        """mud AS (
      SELECT dim, list_reduce(list(csum ORDER BY chk), (a, b) -> a + b) / SUM(cnt) AS m
      FROM mch GROUP BY dim)""",
        "muv AS (SELECT list(m ORDER BY dim) AS mu FROM mud)",
        """vr0 AS (SELECT list_transform(generate_series(1, 64),
                          i -> CAST(1.0 AS DOUBLE) / 8) AS vr)""",
    ]
    for r in range(n_iter):
        parts.append(
            f"""s{r} AS (
      SELECT v.vec_id, v.e,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - muv.mu[i]) * vr{r}.vr[i]),
                         (a, b) -> a + b) AS s
      FROM v CROSS JOIN muv CROSS JOIN vr{r})"""
        )
        parts.append(
            f"""ych{r} AS (
      SELECT dd.dim, s.vec_id // {chunk} AS chk,
             list_reduce(list((s.e[dd.dim] - muv.mu[dd.dim]) * s.s
                              ORDER BY s.vec_id), (a, b) -> a + b) AS csum
      FROM s{r} s CROSS JOIN dd CROSS JOIN muv
      GROUP BY dd.dim, chk)"""
        )
        parts.append(
            f"""y{r} AS (
      SELECT dim, list_reduce(list(csum ORDER BY chk), (a, b) -> a + b) AS y
      FROM ych{r} GROUP BY dim)"""
        )
        parts.append(
            f"n{r} AS (SELECT sqrt(list_reduce(list(y * y ORDER BY dim), (a, b) -> a + b)) AS nrm FROM y{r})"
        )
        parts.append(
            f"vr{r + 1} AS (SELECT list(y / n{r}.nrm ORDER BY dim) AS vr FROM y{r} CROSS JOIN n{r})"
        )
    return ",\n    ".join(parts)


@register(
    "pca_power_top_component",
    f"""
    WITH {_pca_sql(3, 128)}
    SELECT CAST(dd.dim AS INT) AS dim, vr3.vr[dd.dim] AS loading
    FROM vr3 CROSS JOIN dd
    """,
)
def pca_power_top_component(spark: SparkSession, sf: str):
    """TOP PRINCIPAL COMPONENT of the embedding corpus by deterministic
    matrix-free power iteration (3 fixed rounds from v0 = 1/8) — the
    dimension-reduction primitive completing the learned-index family
    (kmeans trainers, IVF, sign-LSH), oracle-checked BIT-FOR-BIT against
    a DuckDB unroll of the same rounds.  Never materializes the 64x64
    covariance: per round one row-local centered dot + one
    (dim, chunk)-keyed bounded two-level fold (the round-7
    bounded_ordered_agg primitive doing real work), one 64-value driver
    collect — |corpus| x 64 shuffled rows per round at ANY corpus size.
    operators/similarity.pca_power_top_component."""
    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    return S.pca_power_top_component(emb, "embedding", "vec_id", n_iter=3, fold_chunk=128)


# ---------------------------------------------------------------------------
def _be4(col):
    """4-byte big-endian binary of a non-negative int (native unhex)."""
    return F.unhex(F.lpad(F.hex(col), 8, "0"))


def _le4(col):
    h = F.lpad(F.hex(col), 8, "0")
    return F.unhex(
        F.concat(
            F.substring(h, 7, 2), F.substring(h, 5, 2),
            F.substring(h, 3, 2), F.substring(h, 1, 2),
        )
    )


def _le2(col):
    h = F.lpad(F.hex(col), 4, "0")
    return F.unhex(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)))


def _byte1(col):
    return F.unhex(F.lpad(F.hex(col), 2, "0"))


_MD5_SLICE = "('0x' || substr(md5(text), {a}, {b}))::BIGINT"


@register(
    "multimodal_real_png_headers",
    f"""
    SELECT doc_id,
           CAST({_MD5_SLICE.format(a=1, b=4)} % 1920 + 1 AS INT) AS width,
           CAST({_MD5_SLICE.format(a=5, b=4)} % 1080 + 1 AS INT) AS height,
           CAST(CASE {_MD5_SLICE.format(a=9, b=1)} % 4
                WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS INT)
             AS channels,
           'png' AS format
    FROM documents
    """,
)
def multimodal_real_png_headers(spark: SparkSession, sf: str):
    """The REAL image-header parser under the oracle gate: valid PNG
    IHDR blobs are BUILT natively (magic + length + 4-byte BE dims +
    bit-depth/color-type bytes, all unhex/lpad expressions) with
    hash-derived dimensions, then decoded by the pure-Python parser
    (operators/media_headers.parse_image_header — real struct parsing,
    no imaging library) through the Arrow-batched metadata operator; the
    oracle re-derives the expected dimensions from the SAME md5
    arithmetic, so a parser bug in offsets, endianness, or the
    color-type channel map hash-mismatches.  Scale: blob construction
    and decode are narrow map-side work; no shuffle at all."""
    from byte_convert_avro_spark.operators.multimodal import decode_image_metadata

    d = spread(t(spark, sf, "documents"), "doc_id")
    w = (md5_long("text", 4) % 1920 + 1).cast("int")
    h = (md5_long("text", 4, start=5) % 1080 + 1).cast("int")
    ct_idx = md5_long("text", 1, start=9) % 4
    color_type = (ct_idx * 2).cast("int")  # 0, 2, 4, 6
    blob = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),
        F.lit(b"\x00\x00\x00\x0dIHDR"),
        _be4(w),
        _be4(h),
        F.lit(b"\x08"),
        _byte1(color_type),
        F.lit(b"\x00\x00\x00"),
    )
    src = d.select("doc_id", blob.alias("blob"))
    meta = decode_image_metadata(src)
    return meta.select("doc_id", "width", "height", "channels", "format")


@register(
    "multimodal_real_wav_headers",
    f"""
    WITH p AS (
      SELECT doc_id,
             CASE {_MD5_SLICE.format(a=1, b=1)} % 5
                  WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                  WHEN 3 THEN 44100 ELSE 48000 END AS rate,
             CAST({_MD5_SLICE.format(a=2, b=1)} % 2 + 1 AS INT) AS ch,
             {_MD5_SLICE.format(a=3, b=5)} % 1000000 + 1000 AS data_len
      FROM documents
    )
    SELECT doc_id,
           CAST(data_len * 1000 // (rate * ch * 2) AS BIGINT) AS duration_ms,
           CAST(rate AS INT) AS sample_rate,
           ch AS channels,
           'wav' AS codec
    FROM p
    """,
)
def multimodal_real_wav_headers(spark: SparkSession, sf: str):
    """The REAL audio-header parser under the oracle gate: valid RIFF/
    WAVE headers are BUILT natively (little-endian fmt + data chunks via
    byte-reversed unhex) with hash-derived sample rate / channels / data
    size, parsed by the pure-Python chunk scanner
    (operators/media_headers.parse_wav_header), and the oracle re-derives
    duration_ms with the same integer division — endianness, chunk
    offsets, and the duration arithmetic are all under the hash.  Scale:
    narrow map-side construction + decode, no shuffle."""
    from byte_convert_avro_spark.operators.multimodal import decode_audio_metadata

    d = spread(t(spark, sf, "documents"), "doc_id")
    rate_idx = md5_long("text", 1) % 5
    rate = (
        F.when(rate_idx == 0, 8000).when(rate_idx == 1, 16000)
        .when(rate_idx == 2, 22050).when(rate_idx == 3, 44100)
        .otherwise(48000)
    ).cast("int")
    ch = (md5_long("text", 1, start=2) % 2 + 1).cast("int")
    data_len = (
        md5_long("text", 5, start=3) % 1000000 + 1000
    ).cast("int")
    byte_rate = (rate * ch * 2).cast("int")
    block_align = (ch * 2).cast("int")
    blob = F.concat(
        F.lit(b"RIFF"),
        _le4(data_len + 36),
        F.lit(b"WAVE"),
        F.lit(b"fmt "),
        _le4(F.lit(16)),
        _le2(F.lit(1)),          # PCM
        _le2(ch),
        _le4(rate),
        _le4(byte_rate),
        _le2(block_align),
        _le2(F.lit(16)),         # bits per sample
        F.lit(b"data"),
        _le4(data_len),
        # truncated body: header parsing must not need the samples
        F.lit(b"\x00\x00\x00\x00"),
    )
    src = d.select("doc_id", blob.alias("blob"))
    meta = decode_audio_metadata(src)
    return meta.select("doc_id", "duration_ms", "sample_rate", "channels", "codec")


# ---------------------------------------------------------------------------
@register(
    "kmv_intersection_estimate",
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
             CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END AS in_both
      FROM u LEFT JOIN ska a ON a.h = u.h LEFT JOIN skb b ON b.h = u.h
    ), agg AS (
      SELECT CAST(SUM(in_both) AS BIGINT) AS n_both,
             CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(MAX(h) AS BIGINT) AS kth_union
      FROM flags
    ), exact AS (
      SELECT CAST((SELECT COUNT(*) FROM ha JOIN hb ON hb.h = ha.h) AS BIGINT)
               AS exact_intersection,
             CAST((SELECT COUNT(*) FROM (SELECT h FROM ha UNION SELECT h FROM hb))
               AS BIGINT) AS exact_union
    )
    SELECT n_both, k_used, kth_union,
           CAST(n_both AS DOUBLE) / k_used AS jaccard_est,
           CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
                ELSE CAST(31.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE) / kth_union
           END * (CAST(n_both AS DOUBLE) / k_used) AS intersection_est,
           exact_intersection, exact_union
    FROM agg CROSS JOIN exact
    """,
)
def kmv_intersection_estimate(spark: SparkSession, sf: str):
    """KMV SET-INTERSECTION estimate (k=32) — the sketch-algebra step
    beyond kmv_distinct_users_estimate's single-set cardinality and
    kmv_weekly_merge's unions: viewers ∩ purchasers estimated WITHOUT
    materializing either set, via the classic KMV combinator — take the
    k smallest of the UNION sketch (= k smallest of the two sketches'
    union, the same mergeability the weekly query relies on), count how
    many live in BOTH input sketches (Jaccard estimate n_both/k), and
    multiply by the union's (k-1)/kth_hash cardinality estimate.  Every
    step is deterministic (md5 hashing, integer ranks); the two floats
    (ratio, product) compute from exact integers identically on both
    engines.  Exact intersection/union carried alongside so the artifact
    shows the sketch error.  Scale: each side's sketch is a mergeable
    k-row state (map-side partial k-smallest, k values per shuffle);
    the exact columns are gate-side verification only — at 100 TB you'd
    ship just the 3x32 sketch rows."""
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
            (F.col("ha").isNotNull() & F.col("hb").isNotNull()).cast("int").alias("both"),
        )
    )
    agg = flags.agg(
        F.sum("both").cast("long").alias("n_both"),
        F.count("*").cast("long").alias("k_used"),
        F.max("h").cast("long").alias("kth_union"),
    )
    full_a = ev.filter(F.col("event_type") == "view").select(h.alias("h")).distinct()
    full_b = ev.filter(F.col("event_type") == "purchase").select(h.alias("h")).distinct()
    exact = full_a.join(full_b, "h").agg(
        F.count("*").cast("long").alias("exact_intersection")
    ).crossJoin(
        full_a.union(full_b).distinct().agg(
            F.count("*").cast("long").alias("exact_union")
        )
    )
    union_est = F.when(
        F.col("k_used") < 32, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(31.0).cast("double") * F.lit(4294967296.0).cast("double")
        / F.col("kth_union")
    )
    jac = F.col("n_both").cast("double") / F.col("k_used")
    return agg.crossJoin(F.broadcast(exact)).select(
        "n_both",
        "k_used",
        "kth_union",
        jac.alias("jaccard_est"),
        (union_est * jac).alias("intersection_est"),
        "exact_intersection",
        "exact_union",
    )


# ---------------------------------------------------------------------------
@register(
    "minhash_estimate_vs_exact_jaccard",
    r"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM words WHERE len(w) >= 3),
    sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM idx),
    sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
    bands AS (SELECT unnest(generate_series(0, 7)) AS band),
    sigs AS (
      SELECT doc_id, band, MIN(md5(band::VARCHAR || '|' || sh)) AS sig
      FROM sh0 CROSS JOIN bands GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(DISTINCT a.band) AS nb
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, p.nb, COUNT(*) AS n_common
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
      GROUP BY p.doc_a, p.doc_b, p.nb
    )
    SELECT c.doc_a, c.doc_b,
           CAST(c.nb AS BIGINT) AS n_bands_matched,
           CAST(c.nb AS DOUBLE) / 8.0 AS est_jaccard,
           CAST(c.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - c.n_common)
             AS exact_jaccard,
           ABS(CAST(c.nb AS DOUBLE) / 8.0
               - CAST(c.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - c.n_common))
             AS abs_err
    FROM common c
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    """,
)
def minhash_estimate_vs_exact_jaccard(spark: SparkSession, sf: str):
    """SKETCH-QUALITY audit for the MinHash stage (the ivf_recall_at_3
    companion on the dedup ladder): for every LSH candidate pair, the
    MinHash ESTIMATE of Jaccard (matched bands / 8 — the classic
    unbiased per-hash collision estimator) next to the EXACT shingle
    Jaccard and the absolute error — the number that tells an operator
    whether 8 hash families are enough before trusting the candidate
    graph at 100 TB.  Every value is exact-integer-derived; est/exact/err
    are single IEEE divisions and one subtraction, bit-identical
    cross-engine.  Scale: this is the GATE-SCALE correctness baseline —
    it composes the UNCAPPED lsh_candidates, whose pair output tracks
    true duplication (measured: 45 GB of spill at the sf10
    100x-verbatim-replica stress before being killed, the
    uncapped-winnowing failure mode).  At production duplication run the
    same audit over lsh_candidates(max_pairs_per_doc=k): the estimator
    and error columns are unchanged, the join is bounded at k pairs per
    doc."""
    docs = spread(t(spark, sf, "documents"), "doc_id")
    sigs = D.minhash_signatures(docs, "text", "doc_id", n_bands=8, shingle_n=3)
    cands = D.lsh_candidates(sigs)
    exact = D.jaccard_similarity(
        docs, cands.select("doc_a", "doc_b"), "text", "doc_id", shingle_n=3
    )
    est = F.col("n_bands_matched").cast("double") / 8.0
    return exact.join(cands, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.col("n_bands_matched").cast("long").alias("n_bands_matched"),
        est.alias("est_jaccard"),
        F.col("jaccard").alias("exact_jaccard"),
        F.abs(est - F.col("jaccard")).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
@register(
    "doc_token_log2_histogram",
    r"""
    WITH tok AS (
      SELECT doc_id, LEN(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
      FROM documents
    )
    SELECT CAST(LENGTH(bin(n_tokens)) - 1 AS INT) AS log2_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM tok WHERE n_tokens >= 1
    GROUP BY 1
    """,
)
def doc_token_log2_histogram(spark: SparkSession, sf: str):
    """LOG2-BUCKETED token-count histogram — the standard corpus-shape
    readout before choosing packing length / truncation limits (doc
    sizes are log-distributed; linear buckets hide the tail).  The
    bucket is floor(log2(n)) computed as INTEGER string-length of the
    binary representation (``LENGTH(bin(n)) - 1`` / Spark
    ``length(conv(n, 10, 2)) - 1``) — never float ``LOG2``, whose libm
    ulp differences between engines could misbucket values adjacent to
    powers of two.  Scale: one groupBy over per-doc token counts;
    ~30 buckets out."""
    from byte_convert_avro_spark.operators import text as X

    tok = X.token_count(t(spark, sf, "documents"), "text").select(
        "doc_id", "n_tokens"
    )
    bucket = (F.length(F.conv(F.col("n_tokens"), 10, 2)) - 1).cast("int")
    return (
        tok.filter(F.col("n_tokens") >= 1)
        .groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
@register(
    "multimodal_real_flac_headers",
    f"""
    WITH p AS (
      SELECT doc_id,
             CASE {_MD5_SLICE.format(a=1, b=1)} % 4
                  WHEN 0 THEN 22050 WHEN 1 THEN 44100
                  WHEN 2 THEN 48000 ELSE 96000 END AS rate,
             CAST({_MD5_SLICE.format(a=2, b=1)} % 2 + 1 AS INT) AS ch,
             {_MD5_SLICE.format(a=3, b=7)} % 100000000 + 1 AS total_samples
      FROM documents
    )
    SELECT doc_id,
           CAST(total_samples * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(rate AS INT) AS sample_rate,
           ch AS channels,
           'flac' AS codec
    FROM p
    """,
)
def multimodal_real_flac_headers(spark: SparkSession, sf: str):
    """The FLAC rung of the real-header family: valid ``fLaC`` containers
    with a spec-exact STREAMINFO block are BUILT natively — the 64-bit
    big-endian bit-pack ``rate<<44 | (ch-1)<<41 | (bps-1)<<36 | samples``
    assembled from two 4-byte halves with integer arithmetic — and parsed
    back by the pure-Python bit unpacker
    (operators/media_headers.parse_flac_header, routed through
    decode_audio_metadata's WAV→FLAC sniff).  The oracle re-derives the
    integer duration from the same hash-derived rate/samples, so the bit
    layout, the 20/3/5/36 field widths, and the division are all under
    the hash.  Scale: narrow map-side construction + decode, no
    shuffle."""
    from byte_convert_avro_spark.operators.multimodal import decode_audio_metadata

    d = spread(t(spark, sf, "documents"), "doc_id")
    rate_idx = md5_long("text", 1) % 4
    rate = (
        F.when(rate_idx == 0, 22050).when(rate_idx == 1, 44100)
        .when(rate_idx == 2, 48000).otherwise(96000)
    ).cast("long")
    ch = (md5_long("text", 1, start=2) % 2 + 1).cast("long")
    total = md5_long("text", 7, start=3) % 100000000 + 1
    # STREAMINFO pack: rate(20) | ch-1(3) | bps-1(5) | samples(36); bps=16
    pack = (
        rate * F.lit(1 << 44).cast("long")
        + (ch - 1) * F.lit(1 << 41).cast("long")
        + F.lit(15 << 36).cast("long")
        + total
    )
    two32 = F.lit(4294967296).cast("long")
    blob = F.concat(
        F.lit(b"fLaC"),
        F.lit(bytes([0x80])),          # last-block flag + type 0
        F.lit(b"\x00\x00\x22"),        # length 34
        F.lit(b"\x10\x00\x10\x00"),    # min/max blocksize 4096
        F.lit(b"\x00\x00\x00" * 2),    # min/max framesize unknown
        _be4(F.shiftright(pack, 32)),
        _be4(pack % two32),
        F.lit(b"\x00" * 16),           # md5 of samples: zeros
    )
    src = d.select("doc_id", blob.alias("blob"))
    meta = decode_audio_metadata(src)
    return meta.select("doc_id", "duration_ms", "sample_rate", "channels", "codec")


# ---------------------------------------------------------------------------
@register(
    "multimodal_real_mp3_headers",
    f"""
    WITH p AS (
      SELECT doc_id,
             CAST({_MD5_SLICE.format(a=1, b=2)} % 14 + 1 AS INT) AS br_idx,
             CAST({_MD5_SLICE.format(a=4, b=1)} % 3 AS INT) AS sr_idx,
             CAST({_MD5_SLICE.format(a=5, b=1)} % 2 AS INT) AS mono
      FROM documents
    )
    SELECT doc_id,
           CAST(20000 * 8 // (CASE br_idx
                WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
                WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
                WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
                WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END) AS BIGINT)
             AS duration_ms,
           CAST(CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS INT) AS sample_rate,
           CAST(CASE mono WHEN 1 THEN 1 ELSE 2 END AS INT) AS channels,
           'mp3' AS codec
    FROM p
    """,
)
def multimodal_real_mp3_headers(spark: SparkSession, sf: str):
    """The MP3 rung of the real-header family: valid MPEG1 Layer III
    frame headers are BUILT natively (sync byte 0xFFFB, then the
    bitrate/sample-rate/padding byte and the channel-mode byte assembled
    from hash-derived indexes) over a fixed 20000-byte blob, parsed back
    by the pure-Python MPEG header reader (operators/media_headers.
    parse_mp3_header via decode_audio_metadata's WAV→FLAC→MP3 sniff),
    and the oracle re-derives the CBR duration estimate from the SAME
    public bitrate/sample-rate tables spelled as CASE arms — so the bit
    layout, both tables, and the integer duration division are all under
    the hash.  Scale: narrow map-side construction + decode, no
    shuffle."""
    from byte_convert_avro_spark.operators.multimodal import decode_audio_metadata

    d = spread(t(spark, sf, "documents"), "doc_id")
    br_idx = (md5_long("text", 2) % 14 + 1).cast("int")
    sr_idx = (md5_long("text", 1, start=4) % 3).cast("int")
    mono = (md5_long("text", 1, start=5) % 2).cast("int")
    byte2 = F.shiftleft(br_idx, 4) + F.shiftleft(sr_idx, 2)
    byte3 = F.when(mono == 1, F.lit(0xC0)).otherwise(F.lit(0x00))
    blob = F.concat(
        F.lit(bytes([0xFF, 0xFB])),
        _byte1(byte2),
        _byte1(byte3),
        F.lit(b"\x00" * 19996),
    )
    src = d.select("doc_id", blob.alias("blob"))
    meta = decode_audio_metadata(src)
    return meta.select("doc_id", "duration_ms", "sample_rate", "channels", "codec")


# ---------------------------------------------------------------------------
@register(
    "multimodal_real_webp_headers",
    f"""
    WITH p AS (
      SELECT doc_id,
             {_MD5_SLICE.format(a=1, b=3)} % 4000 + 1 AS w,
             {_MD5_SLICE.format(a=4, b=3)} % 3000 + 1 AS h,
             {_MD5_SLICE.format(a=7, b=1)} % 2 AS alpha
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(CASE alpha WHEN 1 THEN 4 ELSE 3 END AS INT) AS channels,
           'webp' AS format
    FROM p
    """,
)
def multimodal_real_webp_headers(spark: SparkSession, sf: str):
    """The WEBP rung of the real-header family: valid VP8L (lossless)
    containers are BUILT natively — the 32-bit little-endian pack
    ``(w-1) | (h-1)<<14 | alpha<<28`` behind the 0x2F signature — and
    parsed back by the pure-Python bit unpacker
    (operators/media_headers.parse_image_header via
    decode_image_metadata), with the oracle re-deriving width/height/
    channels from the same hash arithmetic — the 14-bit field widths,
    the little-endian pack, and the alpha-channel mapping are all under
    the hash.  Scale: narrow map-side construction + decode, no
    shuffle."""
    from byte_convert_avro_spark.operators.multimodal import decode_image_metadata

    d = spread(t(spark, sf, "documents"), "doc_id")
    w = md5_long("text", 3) % 4000 + 1
    h = md5_long("text", 3, start=4) % 3000 + 1
    alpha = md5_long("text", 1, start=7) % 2
    pack = (w - 1) + (h - 1) * F.lit(1 << 14).cast("long") + alpha * F.lit(1 << 28).cast("long")
    blob = F.concat(
        F.lit(b"RIFF"),
        _le4(F.lit(17)),           # RIFF size = bytes after this field:
        # "WEBP"(4) + "VP8L"(4) + chunk length(4) + payload(5) = 17
        F.lit(b"WEBP"),
        F.lit(b"VP8L"),
        _le4(F.lit(5)),
        F.lit(bytes([0x2F])),
        _le4(pack),
    )
    src = d.select("doc_id", blob.alias("blob"))
    meta = decode_image_metadata(src)
    return meta.select("doc_id", "width", "height", "channels", "format")


# ---------------------------------------------------------------------------
@register(
    "multimodal_real_mp4_headers",
    f"""
    WITH p AS (
      SELECT doc_id,
             CASE {_MD5_SLICE.format(a=1, b=1)} % 3
                  WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS timescale,
             {_MD5_SLICE.format(a=2, b=5)} % 1000000 AS dur_extra,
             CAST({_MD5_SLICE.format(a=7, b=3)} % 1920 + 16 AS INT) AS w,
             CAST({_MD5_SLICE.format(a=10, b=3)} % 1080 + 16 AS INT) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST((timescale + dur_extra) * 1000 // timescale AS BIGINT)
             AS duration_ms,
           w AS width, h AS height,
           'mp4' AS format
    FROM p
    """,
)
def multimodal_real_mp4_headers(spark: SparkSession, sf: str):
    """The VIDEO rung of the real-header family — all three modalities
    now parse real containers: spec-valid MP4/ISO-BMFF files are BUILT
    natively (ftyp, then moov nesting a version-0 mvhd with hash-derived
    timescale/duration and a trak/tkhd carrying 16.16 fixed-point
    dimensions — every box size field exact per ISO 14496-12) and parsed
    back by the pure-Python box walker
    (operators/media_headers.parse_mp4_header via
    decode_video_metadata).  The oracle re-derives the integer duration
    (ticks*1000 // timescale) and dimensions from the same hash
    arithmetic, so the box walk, the v0 field offsets, and the
    fixed-point shift are all under the hash.  Scale: narrow map-side
    construction + decode, no shuffle."""
    from byte_convert_avro_spark.operators.multimodal import decode_video_metadata

    d = spread(t(spark, sf, "documents"), "doc_id")
    ts_idx = md5_long("text", 1) % 3
    timescale = (
        F.when(ts_idx == 0, 600).when(ts_idx == 1, 1000).otherwise(90000)
    ).cast("long")
    duration = timescale + md5_long("text", 5, start=2) % 1000000
    w = (md5_long("text", 3, start=7) % 1920 + 16)
    h = (md5_long("text", 3, start=10) % 1080 + 16)

    ftyp = F.concat(
        _be4(F.lit(20)), F.lit(b"ftyp"), F.lit(b"isom"), _be4(F.lit(0)), F.lit(b"isom")
    )
    mvhd = F.concat(
        _be4(F.lit(108)), F.lit(b"mvhd"),
        F.lit(b"\x00" * 4),            # version 0 + flags
        F.lit(b"\x00" * 8),            # creation/modification time
        _be4(timescale), _be4(duration),
        F.lit(b"\x00" * 80),           # rate/volume/matrix/predefined/next
    )
    tkhd = F.concat(
        _be4(F.lit(92)), F.lit(b"tkhd"),
        F.lit(b"\x00" * 4),            # version 0 + flags
        F.lit(b"\x00" * 72),           # times/ids/duration/layer/matrix
        _be4(w * 65536), _be4(h * 65536),   # 16.16 fixed point
    )
    trak = F.concat(_be4(F.lit(100)), F.lit(b"trak"), tkhd)
    moov = F.concat(_be4(F.lit(216)), F.lit(b"moov"), mvhd, trak)
    blob = F.concat(ftyp, moov)
    src = d.select("doc_id", blob.alias("blob"))
    meta = decode_video_metadata(src)
    return meta.select("doc_id", "duration_ms", "width", "height", "format")


# ---------------------------------------------------------------------------
@register(
    "minhash_estimate_vs_exact_capped",
    r"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM words WHERE len(w) >= 3),
    sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM idx),
    sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
    bands AS (SELECT unnest(generate_series(0, 7)) AS band),
    sigs0 AS (
      SELECT doc_id, band, MIN(md5(band::VARCHAR || '|' || sh)) AS sig
      FROM sh0 CROSS JOIN bands GROUP BY doc_id, band
    ),
    bok AS (
      SELECT band, sig FROM sigs0 GROUP BY band, sig HAVING COUNT(*) <= 4
    ),
    sigs AS (
      SELECT s.doc_id, s.band, s.sig
      FROM sigs0 s JOIN bok k ON k.band = s.band AND k.sig = s.sig
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(DISTINCT a.band) AS nb
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT doc_a AS doc, doc_b AS partner, nb FROM pairs
      UNION ALL
      SELECT doc_b, doc_a, nb FROM pairs
    ),
    ranked AS (
      SELECT doc, partner, nb,
             ROW_NUMBER() OVER (PARTITION BY doc
                                ORDER BY nb DESC, partner) AS rk
      FROM directed
    ),
    capped AS (
      SELECT LEAST(doc, partner) AS doc_a, GREATEST(doc, partner) AS doc_b,
             MIN(nb) AS nb
      FROM ranked WHERE rk <= 8
      GROUP BY 1, 2 HAVING COUNT(*) = 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, p.nb, COUNT(*) AS n_common
      FROM capped p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
      GROUP BY p.doc_a, p.doc_b, p.nb
    )
    SELECT c.doc_a, c.doc_b,
           CAST(c.nb AS BIGINT) AS n_bands_matched,
           CAST(c.nb AS DOUBLE) / 8.0 AS est_jaccard,
           CAST(c.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - c.n_common)
             AS exact_jaccard
    FROM common c
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    """,
)
def minhash_estimate_vs_exact_capped(spark: SparkSession, sf: str):
    """The 100 TB form of the sketch-quality audit: the same
    MinHash-estimate-vs-exact comparison run over the DOUBLY-CAPPED
    candidate graph — ``max_docs_per_bucket`` bounds the ENUMERATION
    (oversized (band, sig) buckets dropped before the pair join; the
    after-join cap alone could not prevent the 45 GB sf10 spill because
    a B-doc bucket emits B²/2 join rows first) and
    ``max_pairs_per_doc=8`` bounds the VERIFY fan-out (top-8 of BOTH
    endpoints).  Bucket cap 4 here so the sf0.01 gate genuinely
    exercises the drop (max gate bucket is 6) — these values put the
    cap SEMANTICS under the oracle, they are NOT recommendations:
    the r9 organic-mutation study (SCALE.md round-9 table) measured
    recall 0.10 at J>=0.5 for exactly these caps on a 50k-doc mutated
    corpus.  Production calibrates caps >= duplication-cluster size x
    slack, sets max_pairs_per_doc >= expected true-duplicate degree,
    and on boilerplate-heavy corpora raises minhash rows_per_band to 2
    FIRST so buckets shrink to cluster size and the caps revert to
    pure blowup guards.  The ORACLE spells BOTH cap
    semantics — the bucket HAVING filter, the doubled directed rows,
    per-doc (bands DESC, partner) ranking, both-endpoint survival —
    proving each cap is exactly the documented rule.  Estimator
    columns identical to the uncapped audit."""
    docs = spread(t(spark, sf, "documents"), "doc_id")
    sigs = D.minhash_signatures(docs, "text", "doc_id", n_bands=8, shingle_n=3)
    cands = D.lsh_candidates(
        sigs, max_pairs_per_doc=8, max_docs_per_bucket=4
    )
    exact = D.jaccard_similarity(
        docs, cands.select("doc_a", "doc_b"), "text", "doc_id", shingle_n=3
    )
    est = F.col("n_bands_matched").cast("double") / 8.0
    return exact.join(cands, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.col("n_bands_matched").cast("long").alias("n_bands_matched"),
        est.alias("est_jaccard"),
        F.col("jaccard").alias("exact_jaccard"),
    )


# ---------------------------------------------------------------------------
@register(
    "hybrid_rrf_dense_sparse_top5",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_transform(generate_series(1, 64),
                      i -> e[i]*e[i]), (x, y) -> x + y)) AS nrm FROM v),
    dq AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
    dc AS (SELECT vec_id, e, nrm FROM n WHERE vec_id >= 5),
    dense AS (
      SELECT qid, vec_id AS did,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
               ROUND(list_reduce(list_transform(generate_series(1, 64),
                     i -> dc.e[i]*dq.qe[i]), (x, y) -> x + y)
                 / (dc.nrm * dq.qn), 4) DESC, vec_id) AS rnk
      FROM dc CROSS JOIN dq
    ),
    words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2
    ), df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tf),
    wts AS (
      SELECT t.doc_id, t.term, CAST(t.tf AS DOUBLE) * n2.nd / d.df AS w
      FROM tf t JOIN df d ON d.term = t.term CROSS JOIN nd n2
    ), norms AS (
      SELECT doc_id,
             sqrt(list_reduce(list(w * w ORDER BY term), (a, b) -> a + b)) AS nrm
      FROM wts GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS qid, b.doc_id AS did,
             list_reduce(list(a.w * b.w ORDER BY a.term), (x, y) -> x + y) AS dot
      FROM wts a JOIN wts b ON b.term = a.term AND b.doc_id >= 5
      WHERE a.doc_id < 5 GROUP BY 1, 2
    ), sparse AS (
      SELECT d.qid, d.did,
             ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
               ROUND(d.dot / (qa.nrm * qb.nrm), 4) DESC, d.did) AS rnk
      FROM dots d
      JOIN norms qa ON qa.doc_id = d.qid
      JOIN norms qb ON qb.doc_id = d.did
    ),
    fused AS (
      SELECT COALESCE(de.qid, sp.qid) AS qid,
             COALESCE(de.did, sp.did) AS did,
             (CASE WHEN de.rnk IS NOT NULL AND de.rnk <= 10
                   THEN 1.0 / (60 + de.rnk) ELSE 0.0 END)
             + (CASE WHEN sp.rnk IS NOT NULL AND sp.rnk <= 10
                     THEN 1.0 / (60 + sp.rnk) ELSE 0.0 END) AS rrf
      FROM (SELECT * FROM dense WHERE rnk <= 10) de
      FULL JOIN (SELECT * FROM sparse WHERE rnk <= 10) sp
        ON sp.qid = de.qid AND sp.did = de.did
    )
    SELECT qid, did, rrf, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY rrf DESC, did) AS rank
      FROM fused)
    WHERE rank <= 5
    """,
)
def hybrid_rrf_dense_sparse_top5(spark: SparkSession, sf: str):
    """HYBRID RETRIEVAL via RECIPROCAL RANK FUSION — the modern RAG-stack
    primitive: per query, the DENSE ranking (64-dim embedding cosine)
    and the SPARSE ranking (TF-IDF cosine over the inverted term join)
    fuse as ``Σ 1/(60 + rank)`` over each list's top-10, full-outer so a
    doc ranked by only one modality still scores.  The synthetic corpus
    pairs doc_id i with vec_id i (documented identification).  RRF uses
    only integer ranks — ``1/(60+r)`` is one IEEE division, so fusion is
    bit-identical however the underlying scores were produced; both
    underlying rankings order by ROUNDED scores with id tie-breaks so
    cross-engine rank equality holds first.  Scale: each modality's
    ranking is its existing bounded plan; fusion joins two
    top-10-per-query lists — tiny."""
    from byte_convert_avro_spark.functions import ordered_fold

    # dense: embedding cosine top-10 (knn_cosine_top5 discipline)
    emb = spread(t(spark, sf, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )
    n = emb.withColumn("nrm", F.sqrt(F.expr(dot.format(a="e", b="e"))))
    dq = n.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    dc = n.filter(F.col("vec_id") >= 5)
    wd = W.partitionBy("qid").orderBy(F.desc("sim"), "did")
    dense = (
        dc.crossJoin(F.broadcast(dq))
        .select(
            "qid",
            F.col("vec_id").alias("did"),
            F.round(
                F.expr(dot.format(a="e", b="qe")) / (F.col("nrm") * F.col("qn")), 4
            ).alias("sim"),
        )
        .withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= 10)
        .select("qid", "did", F.col("rnk").alias("drnk"))
    )
    # sparse: TF-IDF cosine top-10 (tfidf_cosine_top3 discipline)
    docs = spread(t(spark, sf, "documents"), "doc_id")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndd = tf.select(F.countDistinct("doc_id").alias("nd"))
    wts = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(ndd))
        .select(
            "doc_id", "term",
            (F.col("tf").cast("double") * F.col("nd") / F.col("df")).alias("w"),
        )
    )
    norms = (
        wts.select("doc_id", "term", (F.col("w") * F.col("w")).alias("w2"))
        .groupBy("doc_id")
        .agg(F.sqrt(ordered_fold("term", "w2")).alias("nrm"))
    )
    a = wts.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("qid"), "term", F.col("w").alias("wa")
    )
    b = wts.filter(F.col("doc_id") >= 5).select(
        F.col("doc_id").alias("did"), F.col("term").alias("term2"),
        F.col("w").alias("wb"),
    )
    dots = (
        a.join(b, a.term == b.term2)
        .select("qid", "did", "term", (F.col("wa") * F.col("wb")).alias("p"))
        .groupBy("qid", "did")
        .agg(ordered_fold("term", "p").alias("dotv"))
    )
    qa = norms.select(F.col("doc_id").alias("qid"), F.col("nrm").alias("qn2"))
    qb = norms.select(F.col("doc_id").alias("did"), F.col("nrm").alias("dn2"))
    ws = W.partitionBy("qid").orderBy(F.desc("sim2"), "did")
    sparse = (
        dots.join(qa, "qid")
        .join(qb, "did")
        .select(
            "qid", "did",
            F.round(F.col("dotv") / (F.col("qn2") * F.col("dn2")), 4).alias("sim2"),
        )
        .withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= 10)
        .select("qid", "did", F.col("rnk").alias("srnk"))
    )
    fused = dense.join(sparse, ["qid", "did"], "fullOuter").select(
        "qid", "did",
        (
            F.coalesce(1.0 / (60 + F.col("drnk")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("srnk")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = W.partitionBy("qid").orderBy(F.desc("rrf"), "did")
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 5)
        .select("qid", "did", "rrf", "rank")
    )


# ---------------------------------------------------------------------------
def _pca2_sql(n_iter: int = 3, chunk: int = 128) -> str:
    """Extends :func:`_pca_sql` with DEFLATION for the second component:
    after ``vr{n_iter}`` (= v1), each row's projection onto v1 is removed
    ONCE (``c_i = (e_i - mu_i) - t·v1_i`` with ``t`` from the same
    dim-ordered fold the operator runs — v1 is fixed, so t is
    round-invariant), then the same unrolled power rounds run over the
    deflated coordinates."""
    base = _pca_sql(n_iter, chunk)
    parts = [
        f"""t2 AS MATERIALIZED (
      SELECT v.vec_id, v.e,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> (v.e[i] - muv.mu[i]) * vr{n_iter}.vr[i]),
                         (a, b) -> a + b) AS t
      FROM v CROSS JOIN muv CROSS JOIN vr{n_iter})""",
        f"""c2 AS MATERIALIZED (
      SELECT t2.vec_id,
             list_transform(generate_series(1, 64),
                 i -> (t2.e[i] - muv.mu[i]) - t2.t * vr{n_iter}.vr[i]) AS c
      FROM t2 CROSS JOIN muv CROSS JOIN vr{n_iter})""",
        """wr0 AS (SELECT list_transform(generate_series(1, 64),
                          i -> CAST(1.0 AS DOUBLE) / 8) AS vr)""",
    ]
    for r in range(n_iter):
        parts.append(
            f"""s2_{r} AS (
      SELECT c2.vec_id, c2.c,
             list_reduce(list_transform(generate_series(1, 64),
                         i -> c2.c[i] * wr{r}.vr[i]), (a, b) -> a + b) AS s
      FROM c2 CROSS JOIN wr{r})"""
        )
        parts.append(
            f"""y2ch{r} AS (
      SELECT dd.dim, s.vec_id // {chunk} AS chk,
             list_reduce(list(s.c[dd.dim] * s.s ORDER BY s.vec_id),
                         (a, b) -> a + b) AS csum
      FROM s2_{r} s CROSS JOIN dd GROUP BY dd.dim, chk)"""
        )
        parts.append(
            f"""y2_{r} AS (
      SELECT dim, list_reduce(list(csum ORDER BY chk), (a, b) -> a + b) AS y
      FROM y2ch{r} GROUP BY dim)"""
        )
        parts.append(
            f"n2_{r} AS (SELECT sqrt(list_reduce(list(y * y ORDER BY dim), (a, b) -> a + b)) AS nrm FROM y2_{r})"
        )
        parts.append(
            f"wr{r + 1} AS (SELECT list(y / n2_{r}.nrm ORDER BY dim) AS vr FROM y2_{r} CROSS JOIN n2_{r})"
        )
    return base + ",\n    " + ",\n    ".join(parts)


@register(
    "pca_power_top2_components",
    f"""
    WITH {_pca2_sql(3, 128)}
    SELECT 1 AS component, CAST(dd.dim AS INT) AS dim, vr3.vr[dd.dim] AS loading
    FROM vr3 CROSS JOIN dd
    UNION ALL
    SELECT 2, CAST(dd.dim AS INT), wr3.vr[dd.dim]
    FROM wr3 CROSS JOIN dd
    """,
)
def pca_power_top2_components(spark: SparkSession, sf: str):
    """TOP TWO principal components by power iteration WITH DEFLATION,
    bit-identical cross-engine: component 2 runs the same fixed-round
    iteration over rows with their v1 projection removed
    (``c' = (x - mu) - ((x - mu)·v1)·v1`` — matrix-free, every fold
    bounded, the projection scalar computed once per row).  The oracle
    unrolls BOTH components round by round (_pca2_sql; the deflated
    coordinates are a MATERIALIZED CTE — DuckDB re-inlines multiply-
    referenced CTEs and the 6 reuses of the per-row transform chain
    compounded past 300s without the hint), so the
    deflation arithmetic itself — not just the outcome — is under the
    hash.  Scale: exactly twice the top-component plan (one extra
    row-local fold for the projection); still one 64-value driver
    collect per round.  operators/similarity.pca_power_two_components."""
    emb = spread(t(spark, sf, "embeddings"), "vec_id")
    return S.pca_power_two_components(
        emb, "embedding", "vec_id", n_iter=3, fold_chunk=128
    )
