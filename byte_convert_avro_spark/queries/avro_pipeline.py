"""End-to-end wire-format pipeline as an oracle-checked query: encode
``customer`` rows into Confluent wire format, run them through the Engine's
decode projection (O8-O16), parse the JSON envelopes back into columns.

The oracle is the identity projection — if any stage (binary encode, wire
framing, schema resolution, Avro decode, Avro-JSON, envelope) corrupts a
value, the hash compare fails.  JSON double round-trip is exact (shortest-
repr emit, exact parse), so ``c_acctbal`` survives bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from byte_convert_avro_spark.engine import Engine, EngineConfig
from byte_convert_avro_spark.queries.base import register, scratch_dir, spread, t
from byte_convert_avro_spark.schema_store import LocalSchemaStore

CUSTOMER_SCHEMA = (
    '{"type":"record","name":"Customer","namespace":"demo",'
    '"fields":[{"name":"c_custkey","type":"long"},'
    '{"name":"c_name","type":"string"},'
    '{"name":"c_acctbal","type":"double"}]}'
)
SCHEMA_ID = 7


def _store() -> LocalSchemaStore:
    s = LocalSchemaStore()
    s.register(CUSTOMER_SCHEMA, SCHEMA_ID)
    return s


def _encode_udf():
    """Arrow-batched customer->wire-format encoder (shared by the batch
    roundtrip and the streaming decode query)."""

    @F.pandas_udf(T.BinaryType())
    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        # executor-local codec construction, once per worker
        from byte_convert_avro_spark.avro import compile_writer, parse_schema
        from byte_convert_avro_spark.wire import encode_wire

        writer = compile_writer(parse_schema(CUSTOMER_SCHEMA))
        for pdf in it:
            out = []
            for ck, nm, ab in zip(pdf["c_custkey"], pdf["c_name"], pdf["c_acctbal"]):
                buf = bytearray()
                writer(buf, {"c_custkey": int(ck), "c_name": nm, "c_acctbal": float(ab)})
                out.append(encode_wire(SCHEMA_ID, bytes(buf)))
            yield pd.Series(out)

    return encode


def _wire_records(spark: SparkSession, sf: str, topic: str):
    """customer rows -> Kafka-shaped wire-format records."""
    encode = _encode_udf()
    return t(spark, sf, "customer").select(
        F.lit(topic).alias("topic"),
        F.lit(None).cast("binary").alias("key"),
        encode(F.struct("c_custkey", "c_name", "c_acctbal")).alias("value"),
    )


@register(
    "avro_roundtrip_customers",
    "SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def avro_roundtrip_customers(spark: SparkSession, sf: str):
    store = _store()
    records = _wire_records(spark, sf, "customers")
    eng = Engine(EngineConfig(avro_topics="customers:false"), store=store)
    decoded = eng.transform(records)
    # from_json parses each JSON level ONCE; the get_json_object
    # alternative re-parses the envelope per extracted field (~40% more
    # wall on the parse stage at local sf10).
    msg = F.from_json(
        F.col("value").cast("string"), "struct<originMessage:string>"
    )["originMessage"]
    inner = "struct<c_custkey:bigint,c_name:string,c_acctbal:double>"
    return decoded.select(F.from_json(msg, inner).alias("r")).select(
        "r.c_custkey", "r.c_name", "r.c_acctbal"
    )


# ---------------------------------------------------------------------------
@register(
    "streaming_decode_customers",
    """
    SELECT COUNT(*) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS bal_total
    FROM customer
    """,
)
def streaming_decode_customers(spark: SparkSession, sf: str):
    """The decode pipeline run BY THE STREAMING ENGINE under the oracle
    gate: customer rows -> wire-format records on disk -> readStream ->
    Engine.transform (same narrow plan as batch) -> envelope JSON parsed
    back -> aggregate, hash-checked against the raw customer table.  Any
    corruption anywhere in encode/stream/decode/envelope breaks the hash."""

    from byte_convert_avro_spark.streaming import (
        decode_stream,
        drain_to_memory,
        stream_records,
    )

    store = _store()
    eng = Engine(EngineConfig(avro_topics="t:true"), store=store)
    records = _wire_records(spark, sf, "t")
    src = scratch_dir("stream_decode_")
    records.write.mode("overwrite").parquet(src)

    decoded = decode_stream(eng, stream_records(spark, src))
    env = drain_to_memory(decoded).select(
        F.from_json(F.col("value").cast("string"), "struct<originMessage:string>")[
            "originMessage"
        ].alias("msg")
    )
    parsed = env.select(
        F.from_json("msg", "struct<c_custkey:bigint,c_acctbal:double>").alias("r")
    ).select(
        F.col("r.c_custkey").alias("c_custkey"),
        F.col("r.c_acctbal").alias("c_acctbal"),
    )
    return parsed.agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        (F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).cast("double") / F.lit(100.0)).alias("bal_total"),
    )


# ---------------------------------------------------------------------------
@register(
    "decode_error_rates",
    """
    SELECT CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
           CAST(SUM(CASE WHEN c_custkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
           COUNT(*) AS n_total
    FROM customer
    """,
)
def decode_error_rates(spark: SparkSession, sf: str):
    """PERMISSIVE error accounting under the oracle gate: every 10th
    record's magic byte is corrupted before decode; the engine must fill
    ``_error`` for exactly those records and pass the rest — the counts
    hash-match the arithmetic oracle.  (O19: the reference aborts the
    task on SerializationException; PERMISSIVE is the at-scale posture —
    quantify and quarantine, never abort.)"""
    store = _store()
    # records carry the custkey alongside for deterministic corruption
    encode = _encode_udf()
    cust = t(spark, sf, "customer")
    rec = cust.select(
        "c_custkey",
        F.lit("t").alias("topic"),
        F.lit(None).cast("binary").alias("key"),
        encode(F.struct("c_custkey", "c_name", "c_acctbal")).alias("value"),
    )
    corrupted = rec.withColumn(
        "value",
        F.when(
            F.col("c_custkey") % 10 == 0,
            # flip the magic byte: 0x01 ++ rest -> O9 rejects
            F.concat(F.lit(b"\x01"), F.expr("substring(value, 2, length(value)-1)")),
        ).otherwise(F.col("value")),
    )
    eng = Engine(EngineConfig(avro_topics="t:true"), store=store)
    decoded = eng.transform(corrupted)
    return decoded.agg(
        F.sum(F.when(F.col("_error").isNotNull(), 1).otherwise(0)).cast("long").alias("n_failed"),
        F.sum(F.when(F.col("_error").isNull(), 1).otherwise(0)).cast("long").alias("n_decoded"),
        F.count("*").alias("n_total"),
    )


# ---------------------------------------------------------------------------
@register(
    "avro_ocf_roundtrip_customers",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def avro_ocf_roundtrip_customers(spark: SparkSession, sf: str):
    """The FILE-FORMAT pipeline under the oracle gate: the full customer
    table written as Avro Object Container Files (one deflate-compressed
    file per partition, spec-exact framing from avro/ocf.py — magic,
    metadata map, sync-marked blocks) and read back distributed (one
    binaryFile task per file, schema INFERRED from the embedded writer
    schema), identity-compared against the parquet original.  Together
    with ``avro_roundtrip_customers`` (wire framing) this covers both
    Avro framings the reference's records live in: in-flight on Kafka
    and at-rest on disk.  Scale: sources/avro_ocf.py — per-partition
    files, bounded ~1000-row blocks, zero driver involvement."""

    from byte_convert_avro_spark.sources.avro_ocf import (
        read_avro_ocf,
        write_avro_ocf,
    )

    d = scratch_dir("ocf_")
    write_avro_ocf(spread(t(spark, sf, "customer"), "c_custkey"), d, codec="deflate")
    return read_avro_ocf(spark, d + "/*.avro")


# ---------------------------------------------------------------------------
@register(
    "avro_ocf_snappy_roundtrip_supplier",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def avro_ocf_snappy_roundtrip_supplier(spark: SparkSession, sf: str):
    """OCF with the SNAPPY codec under the oracle gate — the de facto
    default Avro block codec in the wild, now ALWAYS available: real
    ``python-snappy`` when installed, else the dependency-free spec
    implementation (avro/snappy_pure.py — full-format reader,
    literals-only writer, spec block framing = compressed bytes +
    BE CRC32 of the plain bytes).  The supplier table writes one
    snappy-framed OCF per partition and reads back distributed,
    identity-compared against the parquet original — any framing, CRC,
    or codec fault breaks the hash.  Scale: identical plan shape to
    avro_ocf_roundtrip_customers; codec choice is per-block CPU only."""

    from byte_convert_avro_spark.sources.avro_ocf import (
        read_avro_ocf,
        write_avro_ocf,
    )

    sel = t(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    d = scratch_dir("ocf_sn_")
    write_avro_ocf(spread(sel, "s_suppkey"), d, codec="snappy")
    return read_avro_ocf(spark, d + "/*.avro")


# ---------------------------------------------------------------------------
@register(
    "avro_ocf_logical_roundtrip_orders",
    """
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
           strftime(o_orderdate, '%Y-%m-%d') AS odate_str
    FROM orders
    """,
)
def avro_ocf_logical_roundtrip_orders(spark: SparkSession, sf: str):
    """Avro LOGICAL TYPES through the OCF boundary, under the oracle
    gate: orders written as OCF with a ``decimal(12,2)`` price (bytes +
    decimal logical type, minimal two's-complement unscaled ints) and a
    ``date`` order date (int days), read back distributed with the
    logical conversions applied from the file's embedded writer schema,
    then stringified for the cross-engine compare (timestamps/decimals
    stringify per FIXTURES.md discipline).  Any error in the
    decimal-bytes codec, the epoch-day arithmetic, or the schema
    mapping breaks the hash.  sources/avro_ocf.py
    _spark_encoder/_avro_decoder."""

    from byte_convert_avro_spark.sources.avro_ocf import (
        read_avro_ocf,
        write_avro_ocf,
    )

    sel = t(spark, sf, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.to_date("o_orderdate").alias("odate"),
    )
    d = scratch_dir("ocf_lt_")
    write_avro_ocf(spread(sel, "o_orderkey"), d, codec="deflate")
    back = read_avro_ocf(spark, d + "/*.avro")
    return back.select(
        "o_orderkey",
        F.col("price").cast("string").alias("price_str"),
        F.date_format("odate", "yyyy-MM-dd").alias("odate_str"),
    )


# ---------------------------------------------------------------------------
@register(
    "federated_three_format_union",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
             AS balance_e2
    FROM customer GROUP BY c_mktsegment
    """,
)
def federated_three_format_union(spark: SparkSession, sf: str):
    """FEDERATION across storage formats — the lake reality where one
    logical table lives in parquet, Avro OCF, and JSON at once: the
    customer table is hash-split three ways, each slice written in a
    DIFFERENT format (parquet native, OCF via the package sink, Spark
    JSON), read back through the respective sources, unioned, and
    aggregated — equal to aggregating the original table, proving no
    format boundary loses or distorts a row.  Scale: each source keeps
    its own pushdown/pruning; the union is plan-level (no
    materialization); the aggregate runs once over all three."""

    from byte_convert_avro_spark.queries.base import hash_bucket
    from byte_convert_avro_spark.sources.avro_ocf import (
        read_avro_ocf,
        write_avro_ocf,
    )

    cust = t(spark, sf, "customer")
    b = hash_bucket("c_custkey", 3)
    root = scratch_dir("fed_")
    p_parq, p_json, p_ocf = f"{root}/pq", f"{root}/js", f"{root}/ocf"
    cust.filter(b == 0).write.mode("overwrite").parquet(p_parq)
    cust.filter(b == 1).write.mode("overwrite").json(p_json)
    write_avro_ocf(spread(cust.filter(b == 2), "c_custkey"), p_ocf)

    slice_pq = spark.read.schema(cust.schema).parquet(p_parq)
    slice_js = spark.read.schema(cust.schema).json(p_json)
    slice_ocf = read_avro_ocf(spark, p_ocf + "/*.avro")
    allc = slice_pq.unionByName(slice_js).unionByName(slice_ocf)
    return allc.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long"))
        .cast("long")
        .alias("balance_e2"),
    )
