"""Seeded, Kafka-shaped changelog generator and last-write-wins oracle.

The engine only ever sees the parquet files this module writes: each row
is one Kafka record (``key`` and ``value`` Avro frames, ``offset``,
``partition``), the shape ``sources.kafka.decode_changelog_py`` reads.
Keys are routed to partitions by ``id % N_PARTITIONS`` and offsets grow
per partition, so per-key order is offset order, as in a keyed topic.

Record kinds, drawn per event from the seeded generator:
- upsert: a full row with ``__deleted = "false"``;
- delete-rewrite: the Debezium unwrap rewrite, ``__deleted = "true"``;
- tombstone: a literal NULL value (no bytes at all);
- poison: value bytes that are not a valid Avro frame (dead letter).

Files are written to a staging directory and renamed into the topic
directory, so the file source never lists a half-written file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from db_integration_via_kafka_ksql_spark.functions.avro_codec import FlatRecordCodec

KEY_SCHEMA = (
    '{"type":"record","name":"Key","fields":[{"name":"id","type":"long"}]}'
)
VALUE_SCHEMA = (
    '{"type":"record","name":"Row","fields":['
    '{"name":"id","type":"long"},'
    '{"name":"title","type":["null","string"]},'
    '{"name":"rating","type":["null","double"]},'
    '{"name":"__deleted","type":["null","string"]}]}'
)
N_PARTITIONS = 4
MARKER_KEY = 0  # real keys are 1..n_keys
# a frame that ends inside a varint: every Avro decoder runs out of bytes
POISON = (b"\x80", b"\x02\x80\x80", b"\xff\xff\xff\xff")

RAW_SCHEMA_DDL = "key binary, value binary, offset bigint, partition int"
RAW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("offset", pa.int64()),
        ("partition", pa.int32()),
    ]
)

# the initial table load, in the flat changelog shape at offset 0
# (sources.changelog.snapshot_as_changelog); topic offsets start at 1
SNAPSHOT_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("title", pa.string()),
        ("rating", pa.float64()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("__deleted", pa.string()),
    ]
)

UPSERT, DELETE, TOMBSTONE, POISONED = range(4)


@dataclass
class Mix:
    """Share of each record kind; the rest are upserts."""

    delete: float = 0.10
    tombstone: float = 0.02
    poison: float = 0.002


@dataclass
class Oracle:
    """Last-write-wins state per key, fed in log order."""

    live: dict[int, tuple[str, float]] = field(default_factory=dict)
    deleted: set[int] = field(default_factory=set)
    events: int = 0
    tombstones: int = 0
    poison: int = 0

    def apply(self, kind: int, key: int, row: tuple[str, float] | None) -> None:
        self.events += 1
        if kind == POISONED:
            self.poison += 1  # a dead letter never changes state
            return
        if kind == UPSERT:
            self.live[key] = row
            self.deleted.discard(key)
            return
        if kind == TOMBSTONE:
            self.tombstones += 1
        self.live.pop(key, None)
        self.deleted.add(key)


class Changelog:
    """One topic: a seeded record stream, its oracle and its files."""

    def __init__(self, seed: int, n_keys: int, zipf_s: float | None = None) -> None:
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.next_offset = [1] * N_PARTITIONS
        self.oracle = Oracle()
        self.version = 0
        self.files_written = 0
        # (poison, tombstones) per staged file name
        self.file_stats: dict[str, tuple[int, int]] = {}
        self._counted = (0, 0)
        self._key_codec = FlatRecordCodec(KEY_SCHEMA)
        self._key_frames: dict[int, bytes] = {}
        self._val_codec = FlatRecordCodec(VALUE_SCHEMA)
        self._cdf = None
        if zipf_s is not None:
            weights = 1.0 / np.arange(1, n_keys + 1) ** zipf_s
            self._cdf = np.cumsum(weights / weights.sum())
            # hot ranks land on scattered ids, not on ids 1, 2, 3 ...
            self._rank_to_key = self.rng.permutation(n_keys) + 1

    def keys(self, n: int) -> np.ndarray:
        if self._cdf is None:
            return self.rng.integers(1, self.n_keys + 1, size=n)
        ranks = np.searchsorted(self._cdf, self.rng.random(n), side="right")
        return self._rank_to_key[np.minimum(ranks, self.n_keys - 1)]

    def kinds(self, n: int, mix: Mix) -> np.ndarray:
        u = self.rng.random(n)
        kinds = np.full(n, UPSERT, dtype=np.int8)
        kinds[u < mix.delete + mix.tombstone + mix.poison] = DELETE
        kinds[u < mix.tombstone + mix.poison] = TOMBSTONE
        kinds[u < mix.poison] = POISONED
        return kinds

    def records(self, keys, kinds, marker: int | None = None) -> pa.Table:
        """Encode one file's records in log order and feed the oracle.
        With ``marker`` set, a final upsert of MARKER_KEY carries it."""
        ratings = self.rng.random(len(keys)).round(4) * 10
        poison_pick = self.rng.integers(0, len(POISON), size=len(keys))
        cols = {name: [] for name in RAW_SCHEMA.names}
        rows = zip(keys.tolist(), kinds.tolist(), ratings.tolist(), poison_pick.tolist())
        if marker is not None:
            rows = [*rows, (MARKER_KEY, UPSERT, float(marker), 0)]
        for key, kind, rating, pick in rows:
            self.version += 1
            row = None
            if kind == UPSERT:
                row = (f"k{key}v{self.version}", rating)
                value = self._encode(key, row, "false")
            elif kind == DELETE:
                value = self._encode(key, self.oracle.live.get(key, (None, None)), "true")
            elif kind == TOMBSTONE:
                value = None
            else:
                value = POISON[pick]
            part = key % N_PARTITIONS
            frame = self._key_frames.get(key)
            if frame is None:
                frame = self._key_frames[key] = self._key_codec.encode({"id": key})
            cols["key"].append(frame)
            cols["value"].append(value)
            cols["offset"].append(self.next_offset[part])
            cols["partition"].append(part)
            self.next_offset[part] += 1
            self.oracle.apply(kind, key, row)
        return pa.table(cols, schema=RAW_SCHEMA)

    def _encode(self, key: int, row: tuple, deleted: str) -> bytes:
        title, rating = row
        return self._val_codec.encode(
            {"id": key, "title": title, "rating": rating, "__deleted": deleted}
        )

    def batch(self, n: int, mix: Mix, marker: int | None = None) -> pa.Table:
        return self.records(self.keys(n), self.kinds(n, mix), marker)

    def snapshot(self) -> pa.Table:
        """Every key once, live: the table as it stood before the topic."""
        keys = np.arange(1, self.n_keys + 1)
        ratings = (self.rng.random(self.n_keys).round(4) * 10).tolist()
        titles = [f"k{k}v0" for k in keys.tolist()]
        for k, t, r in zip(keys.tolist(), titles, ratings):
            self.oracle.live[k] = (t, r)
        return pa.table(
            {
                "id": keys,
                "title": titles,
                "rating": ratings,
                "partition": (keys % N_PARTITIONS).astype(np.int32),
                "offset": np.zeros(self.n_keys, dtype=np.int64),
                "__deleted": ["false"] * self.n_keys,
            },
            schema=SNAPSHOT_SCHEMA,
        )

    def stage(self, table: pa.Table, staging_dir: str) -> str:
        """Write a file outside the topic; `publish` renames it in."""
        os.makedirs(staging_dir, exist_ok=True)
        name = f"part-{self.files_written:06d}.parquet"
        self.files_written += 1
        now = (self.oracle.poison, self.oracle.tombstones)
        self.file_stats[name] = (now[0] - self._counted[0], now[1] - self._counted[1])
        self._counted = now
        path = os.path.join(staging_dir, name)
        pq.write_table(table, path)
        return path


def publish(staged_path: str, topic_dir: str) -> str:
    os.makedirs(topic_dir, exist_ok=True)
    dst = os.path.join(topic_dir, os.path.basename(staged_path))
    os.rename(staged_path, dst)
    return dst
