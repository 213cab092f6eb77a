"""Self-tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import urllib.error
import urllib.request

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import avrogen  # noqa: E402
import common  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import stream  # noqa: E402
from oracle import CAUSES, Expect, check_key, check_value, classify_error  # noqa: E402
from registry_stub import RegistryStub  # noqa: E402


def _data(name: str) -> str:
    with open(os.path.join(HERE, "data", name)) as f:
        return f.read()


# -- generator determinism -------------------------------------------------------

def test_wide_rows_are_a_function_of_the_seed():
    a, b, c = (inputs.wide_rows(s, 500, 4) for s in (7, 7, 8))
    assert a.value == b.value and a.partition == b.partition
    assert a.value != c.value


def test_wide_records_have_distinct_payloads_that_encode_their_datum():
    rows = inputs.wide_rows(7, 3 * inputs.POOL, 4)
    assert len(set(rows.value)) == len(rows)
    names = avrogen.names_of(avrogen.WIDE_SCHEMA)
    for e in rows.value_exp[:50]:
        assert e.raw == avrogen.wire(inputs.WIDE_ID, avrogen.encode(avrogen.WIDE_SCHEMA, e.datum, names))


def test_stream_feed_repeats_a_payload_only_as_a_redelivery():
    feed = stream.Feed(5)
    first: dict[bytes, int] = {}
    for rows, _new in (feed.file() for _ in range(8)):
        for offset, value in zip(rows.offset, rows.value):
            assert first.setdefault(value, offset) == offset
    assert len(first) == feed.next_offset


def test_registry_mix_is_a_function_of_the_seed():
    a, b, c = (inputs.Mix(s, 50) for s in (3, 3, 4))
    assert (a.rows.key, a.rows.value, a.injected) == (b.rows.key, b.rows.value, b.injected)
    assert a.rows.value != c.rows.value
    assert a.text == c.text  # the schemas are part of the workload, not of the seed


def test_stream_feed_is_a_function_of_the_seed():
    files = [[stream.Feed(s).file() for _ in range(3)] for s in (5, 5)]
    assert [(r.offset, r.value, n) for r, n in files[0]] == [(r.offset, r.value, n) for r, n in files[1]]


def test_registry_mix_injects_every_cause_and_bounded_payloads():
    mix = inputs.Mix(1, 300)
    assert set(mix.injected.values()) == set(CAUSES)
    assert max(len(v) for v in mix.rows.value if v is not None) < 200
    assert len(mix.schemas) > 100  # more ids than the reference's LRU capacity


# -- Avro encoding and the Avro-JSON renderer ---------------------------------------

def test_binary_encoding_by_hand():
    assert avrogen.encode("long", -1) == b"\x01"
    assert avrogen.encode("long", 64) == b"\x80\x01"
    assert avrogen.encode("string", "hé") == b"\x06h\xc3\xa9"
    assert avrogen.encode(["null", "string"], None) == b"\x00"
    assert avrogen.encode(["null", "string"], (1, "a")) == b"\x02\x02a"
    assert avrogen.encode({"type": "array", "items": "int"}, []) == b"\x00"


def test_render_tags_unions_by_branch_label():
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": ["null", "string"]},
        {"name": "b", "type": ["null", "long"]},
        {"name": "inner", "type": {"type": "record", "name": "In", "fields": [{"name": "x", "type": "int"}]}},
        {"name": "c", "type": ["null", "In"]},
        {"name": "d", "type": ["null", {"type": "map", "values": "int"}]},
    ]}
    datum = {"a": (1, "s"), "b": None, "inner": {"x": 1}, "c": (1, {"x": 2}), "d": (1, {"k": 3})}
    assert avrogen.render(schema, datum) == {
        "a": {"string": "s"}, "b": None, "inner": {"x": 1}, "c": {"In": {"x": 2}}, "d": {"map": {"k": 3}},
    }


def test_render_bytes_as_latin1_and_enums_as_symbols():
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "p", "type": "bytes"},
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
    ]}
    assert avrogen.render(schema, {"p": b"\x00\xff\xe9", "e": "B"}) == {"p": "\x00\xff\xe9", "e": "B"}
    assert json.dumps(avrogen.render(schema, {"p": b"\xe9", "e": "A"}), ensure_ascii=False) == '{"p": "é", "e": "A"}'


def test_render_keeps_map_order_and_oracle_compares_it():
    schema = {"type": "map", "values": "long"}
    datum = {"z": 1, "a": 2}
    assert list(avrogen.render(schema, datum)) == ["z", "a"]
    e = Expect("decode", b"", schema, 7, datum)
    env = {"originSchema": json.dumps(schema), "originSchemaId": 7}
    good = json.dumps({"originSchema": env["originSchema"], "originMessage": '{"z":1,"a":2}',
                       "originSchemaId": 7}).encode()
    swapped = json.dumps({"originSchema": env["originSchema"], "originMessage": '{"a":2,"z":1}',
                          "originSchemaId": 7}).encode()
    assert check_value(good, e) and not check_value(swapped, e)


def test_render_float_is_the_float32_on_the_wire():
    assert avrogen.render("float", 0.1) == pytest.approx(0.1, rel=1e-7)
    assert avrogen.render("float", 0.1) != 0.1


def test_key_envelopes():
    rec = {"type": "record", "name": "K", "fields": [{"name": "id", "type": "long"},
                                                     {"name": "originSchema", "type": "string"},
                                                     {"name": "t", "type": "string"}]}
    text = json.dumps(rec)
    in_place = json.dumps({"id": 1, "originSchema": text, "t": "x"}).encode()
    appended = json.dumps({"id": 1, "t": "x", "originSchema": text}).encode()
    e = Expect("decode", b"", rec, 1, {"id": 1, "originSchema": "old", "t": "x"})
    assert check_key(in_place, e) and not check_key(appended, e)
    scalar = Expect("decode", b"", "string", 2, "v")
    assert check_key(json.dumps({"value": "v", "originSchema": '"string"'}).encode(), scalar)


def test_error_causes():
    assert classify_error("value: payload of size 3 is too small to contain the wire-format prefix") == "too_short"
    assert classify_error("value: Unknown magic byte!") == "bad_magic"
    assert classify_error('value: "registry request /schemas/ids/9 failed on [..]: HTTP Error 404"') == "unknown_id"
    assert classify_error("value: payload truncated: need 9 bytes at position 3, have 2") == "truncated"
    assert classify_error("value: union branch index 5 out of range") == "bad_union"
    assert classify_error("value: something else") == "other"
    assert classify_error(None) is None


# -- event log, plan guard, statistics -----------------------------------------------

def test_event_log_parser_on_a_captured_log():
    lines = _data("eventlog_small.jsonl").splitlines()
    everything = common.parse_event_log(lines, [(0, 4e9)])
    assert (everything["jobs"], everything["stages"], everything["tasks"]) == (3, 3, 4)
    assert everything["shuffle_write_bytes"] == everything["shuffle_read_bytes"] > 0
    for k in ("python_init_ms", "python_run_ms", "python_bytes_sent", "python_bytes_received"):
        assert everything[k] > 0, k
    assert everything["task_ms_max"] >= everything["task_ms_p50"] > 0
    nothing = common.parse_event_log(lines, [(0, 1)])
    assert all(v == 0 for v in nothing.values())


def test_plan_guard_accepts_the_decode_and_rejects_a_count_plan():
    common.check_plan(_data("plan_noop.txt"))
    with pytest.raises(AssertionError):
        common.check_plan(_data("plan_count.txt"))


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert common.tail(range(1, 21)) == (10.0, 50.0)
    assert common.tail(range(100)) == (89.0, 90.0)
    with pytest.raises(ValueError):
        common.tail(range(10))


# -- registry stub ---------------------------------------------------------------------

def test_registry_stub_counts_requests():
    with RegistryStub({1: '"string"'}) as stub:
        for _ in range(3):
            with urllib.request.urlopen(f"{stub.url}/schemas/ids/1", timeout=10) as r:
                assert json.loads(r.read())["schema"] == '"string"'
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"{stub.url}/schemas/ids/2", timeout=10)
        assert stub.requests[1] == 3 and stub.requests[2] == 1 and stub.total() == 4


# -- metric names ------------------------------------------------------------------------

def test_every_metric_name_is_well_formed():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert common.METRIC_NAME.fullmatch(name) and len(name) <= 64, name
    listed = {m["name"] for m in spec["per_layer"]}
    assert {f"spark.{k}" for k in common.SPARK_LAYER} <= listed
    # quarantine counts are fixed by the seed's injections: reported, not ranked
    for name in layers.quarantine_counts([]):
        assert common.METRIC_NAME.fullmatch(name) and name not in listed, name
