"""Seeded Kafka-shaped inputs for the decode and stream workloads, with the
expectation of every row kept beside it for the oracle."""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

import avrogen
from oracle import Expect

WIDE_ID = 101
WIDE_TOPIC = "wide"
POOL = 2048
BASE_TS_US = 1_700_000_000_000_000

ARROW_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us")), ("timestampType", pa.int32()),
])

_SAME_NULL = Expect("same", None)


class Rows:
    """Column lists of Kafka records plus per-row key/value expectations."""

    def __init__(self) -> None:
        self.key: list = []
        self.value: list = []
        self.topic: list = []
        self.partition: list = []
        self.offset: list = []
        self.key_exp: list[Expect] = []
        self.value_exp: list[Expect] = []

    def add(self, topic: str, part: int, offset: int, key: Expect, value: Expect) -> None:
        self.key.append(key.raw)
        self.value.append(value.raw)
        self.topic.append(topic)
        self.partition.append(part)
        self.offset.append(offset)
        self.key_exp.append(key)
        self.value_exp.append(value)

    def __len__(self) -> int:
        return len(self.offset)

    def table(self, idx=None) -> pa.Table:
        idx = range(len(self)) if idx is None else idx
        return pa.table({
            "key": [self.key[i] for i in idx],
            "value": [self.value[i] for i in idx],
            "topic": [self.topic[i] for i in idx],
            "partition": [self.partition[i] for i in idx],
            "offset": [self.offset[i] for i in idx],
            "timestamp": [BASE_TS_US + self.offset[i] * 1000 for i in idx],
            "timestampType": [0] * len(idx),
        }, schema=ARROW_SCHEMA)

    def payload_bytes(self) -> int:
        return sum(len(b) for col in (self.key, self.value) for b in col if b is not None)


def write_partitions(rows: Rows, out_dir: str) -> list[str]:
    """One parquet file per simulated Kafka (topic, partition)."""
    os.makedirs(out_dir, exist_ok=True)
    groups: dict[tuple[str, int], list[int]] = {}
    for i, key in enumerate(zip(rows.topic, rows.partition)):
        groups.setdefault(key, []).append(i)
    paths = []
    for (topic, part), idx in sorted(groups.items()):
        path = os.path.join(out_dir, f"{topic}-{part:03d}.parquet")
        pq.write_table(rows.table(idx), path)
        paths.append(path)
    return paths


# -- decode_wide / stream_replicate ------------------------------------------

def wide_pool(seed: int) -> list[tuple[dict, bytes]]:
    """POOL datums of the wide schema, each with its encoding minus the
    leading ``id`` field. ``wide_value`` puts a record's own id in front,
    so no two records of a workload share a payload."""
    rng = random.Random(seed)
    names = avrogen.names_of(avrogen.WIDE_SCHEMA)
    pool = []
    for i in range(POOL):
        datum = avrogen.wide_record(rng, i)
        body = avrogen.encode(avrogen.WIDE_SCHEMA, datum, names)
        pool.append((datum, body[len(avrogen.encode("long", datum["id"])):]))
    return pool


def wide_value(entry: tuple[dict, bytes], record: int) -> Expect:
    """The payload of the ``record``-th record: a pool entry under the id
    ``record`` (``id`` is the schema's first field)."""
    datum, tail = entry
    datum = {**datum, "id": record}
    raw = avrogen.wire(WIDE_ID, avrogen.encode("long", record) + tail)
    return Expect("decode", raw, avrogen.WIDE_SCHEMA, WIDE_ID, datum)


def wide_rows(seed: int, n: int, partitions: int) -> Rows:
    rng = random.Random(seed + 1)
    pool = wide_pool(seed)
    rows = Rows()
    for i in range(n):
        rows.add(WIDE_TOPIC, i % partitions, i, _SAME_NULL, wide_value(pool[rng.randrange(POOL)], i))
    return rows


def wide_schemas() -> dict[int, str]:
    return {WIDE_ID: json.dumps(avrogen.WIDE_SCHEMA)}


# -- the registry mix (decoded once in every traced run) ---------------------------

MIX_TOPICS = 8
MIX_PARTITIONS = 2          # per topic: 16 input partitions, one task each
MIX_VALUE_IDS = 150         # more ids than the reference's LRU capacity (100)
MIX_KEY_IDS = 12
UNKNOWN_ID = 999_999
TOMBSTONE_RATE = 0.02
INVALID_RATE = 0.02
STRUCTURE_SEED = 0


class Mix:
    """The registry mix: its schemas, topic flags and rows."""

    def __init__(self, seed: int, per_partition: int) -> None:
        # the schemas and their topics are fixed; the seed draws the records
        rng = random.Random(STRUCTURE_SEED)
        self.schemas: dict[int, avrogen.NarrowSchema] = {}
        for sid in range(1, MIX_VALUE_IDS + 1):
            r = rng.random()
            shape = "non_record" if r < 0.1 else "origin_field" if r < 0.2 else "record"
            self.schemas[sid] = avrogen.narrow_schema(rng, sid, shape)
        key_ids = list(range(1001, 1001 + MIX_KEY_IDS))
        for j, sid in enumerate(key_ids):
            self.schemas[sid] = avrogen.narrow_schema(rng, sid, ("record", "non_record", "origin_field")[j % 3])
        self.topic_names = [f"mix{t}" for t in range(MIX_TOPICS)]
        # the last topic is not enabled (passes through); keys decode on half
        self.topics = {t: i < MIX_TOPICS // 2 for i, t in enumerate(self.topic_names[:-1])}
        fused_ids = [s for s in range(1, MIX_VALUE_IDS + 1) if self.schemas[s].is_record]
        value_ids = list(range(1, MIX_VALUE_IDS + 1))
        weights = avrogen.zipf_weights(len(value_ids))
        rng.shuffle(value_ids)
        rng = random.Random(seed)

        def expect(sid: int) -> Expect:
            s = self.schemas[sid]
            d = s.make(rng)
            return Expect("decode", avrogen.wire(sid, avrogen.encode(s.schema, d, s.names)), s.schema, sid, d)

        self.rows = Rows()
        self.injected: dict[int, str] = {}
        offset = 0
        for t, topic in enumerate(self.topic_names):
            # ids are spread over topics; each topic draws its own Zipf mix
            ids = [v for k, v in enumerate(value_ids) if k % MIX_TOPICS == t]
            w = weights[: len(ids)]
            for part in range(MIX_PARTITIONS):
                for _ in range(per_partition):
                    sid = rng.choices(ids, w)[0]
                    value = expect(sid)
                    enabled = topic in self.topics
                    r = rng.random()
                    if r < TOMBSTONE_RATE:
                        value = _SAME_NULL
                    elif r < TOMBSTONE_RATE + INVALID_RATE and enabled:
                        value = self._invalid(rng, offset, rng.choice(fused_ids), expect)
                    elif not enabled:
                        value = Expect("same", value.raw)
                    if self.topics.get(topic):
                        key = expect(rng.choice(key_ids)) if rng.random() < 0.9 else _SAME_NULL
                    elif rng.random() < 0.5:
                        key = Expect("same", f"k-{offset}".encode())
                    else:
                        key = _SAME_NULL
                    self.rows.add(topic, part, offset, key, value)
                    offset += 1
        self.text = {sid: s.text for sid, s in self.schemas.items()}
        self.distinct_ids = len({e.schema_id for col in (self.rows.key_exp, self.rows.value_exp)
                                 for e in col if e.kind == "decode"})

    def _invalid(self, rng: random.Random, offset: int, sid: int, expect) -> Expect:
        """A bounded bad payload; records start with a nullable union and
        end with a string (avrogen.narrow_schema), so both corruptions hit
        a well-defined spot."""
        cause = rng.choice(("too_short", "bad_magic", "unknown_id", "truncated", "bad_union"))
        good = expect(sid).raw
        raw = {
            "too_short": lambda: b"\x00\x00\x00",
            "bad_magic": lambda: b"\x01" + good[1:],
            "unknown_id": lambda: avrogen.wire(UNKNOWN_ID, good[5:]),
            "truncated": lambda: good[:-2],
            "bad_union": lambda: good[:5] + b"\x0a" + good[6:],  # branch index 5
        }[cause]()
        self.injected[offset] = cause
        return Expect(cause, raw)
