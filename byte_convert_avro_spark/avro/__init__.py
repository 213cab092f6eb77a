"""Pure-Python Apache Avro codec (schema parse, binary decode/encode,
Avro-JSON encode), implemented from the public Avro 1.11 specification
(https://avro.apache.org/docs/current/specification/).

The container ships no ``fastavro``/``avro`` wheel and no ``spark-avro``
connector jar, so the engine carries its own minimal generic codec: the
per-record-schema decode the reference implements with
``GenericDatumReader`` (AvroTransform.java:241-243).  The decode stage runs
the fused decode→Avro-JSON codegen (``fused.py``) for every writer schema;
the closure-tree reader (``binary.py``) serves OCF files, schema
resolution and the tests, which use it as the reference.
"""

from byte_convert_avro_spark.avro.schema import AvroSchema, parse_schema
from byte_convert_avro_spark.avro.binary import (
    compile_reader,
    compile_writer,
    schemaless_decode,
    schemaless_encode,
)
from byte_convert_avro_spark.avro.jsonenc import avro_json_dumps, to_avro_json

__all__ = [
    "AvroSchema",
    "parse_schema",
    "compile_reader",
    "compile_writer",
    "schemaless_decode",
    "schemaless_encode",
    "avro_json_dumps",
    "to_avro_json",
]
