"""The benchmark's own tests: deterministic inputs, the oracle, the
metric definitions. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_integration_via_kafka_ksql_spark.functions.avro_codec import (  # noqa: E402
    FlatRecordCodec,
)
from perfbench import harness  # noqa: E402
from perfbench.gen import (  # noqa: E402
    DELETE,
    KEY_SCHEMA,
    MARKER_KEY,
    POISONED,
    TOMBSTONE,
    UPSERT,
    VALUE_SCHEMA,
    Changelog,
    Mix,
    publish,
)
from perfbench.workloads import Replay, Trickle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _inputs(seed: int, out: str, zipf_s) -> list[bytes]:
    log = Changelog(seed, 2_000, zipf_s=zipf_s)
    paths = [log.stage(log.batch(700, Mix(), marker=i + 1), out) for i in range(3)]
    return [open(p, "rb").read() for p in paths]


@pytest.mark.parametrize("zipf_s", [None, 0.9])
def test_same_seed_gives_byte_identical_input(tmp_path, zipf_s):
    a = _inputs(5, str(tmp_path / "a"), zipf_s)
    b = _inputs(5, str(tmp_path / "b"), zipf_s)
    c = _inputs(6, str(tmp_path / "c"), zipf_s)
    assert a == b
    assert a != c


def test_snapshot_is_seeded_and_live():
    a, b = Changelog(3, 100), Changelog(3, 100)
    assert a.snapshot().equals(b.snapshot())
    assert sorted(a.oracle.live) == list(range(1, 101))


def test_oracle_on_hand_built_changelog():
    """Several versions per key, a delete-rewrite, a tombstone and poison
    bytes: last write wins, deletes remove, poison changes nothing."""
    log = Changelog(1, 10)
    keys = np.array([1, 1, 2, 2, 3, 3, 1, 4, 5])
    kinds = np.array(
        [UPSERT, UPSERT, UPSERT, DELETE, UPSERT, POISONED, TOMBSTONE, DELETE, UPSERT]
    )
    table = log.records(keys, kinds, marker=7)
    o = log.oracle
    assert set(o.live) == {3, 5, MARKER_KEY}
    assert o.live[3][0] == "k3v5"       # the upsert before the poison record
    assert o.live[5][0] == "k5v9"
    assert o.live[MARKER_KEY][1] == 7.0
    assert o.deleted == {1, 2, 4}
    assert (o.events, o.tombstones, o.poison) == (10, 1, 1)

    rows = table.to_pylist()
    codec = FlatRecordCodec(VALUE_SCHEMA)
    assert rows[6]["value"] is None                            # literal NULL
    assert codec.decode(rows[3]["value"])["__deleted"] == "true"
    assert codec.decode(rows[3]["value"])["title"] == "k2v3"   # before-image
    with pytest.raises(Exception):
        codec.decode(rows[5]["value"])                         # poison
    assert FlatRecordCodec(KEY_SCHEMA).decode(rows[5]["key"]) == {"id": 3}
    # per-partition offsets grow from 1; key -> partition is fixed
    by_part: dict[int, list[int]] = {}
    for r in rows:
        assert r["partition"] == FlatRecordCodec(KEY_SCHEMA).decode(r["key"])["id"] % 4
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for offsets in by_part.values():
        assert offsets == list(range(1, len(offsets) + 1))


def test_file_stats_and_publish(tmp_path):
    log = Changelog(9, 1_000)
    staged = log.stage(log.batch(5_000, Mix()), str(tmp_path / "staging"))
    poison, tombstones = log.file_stats[os.path.basename(staged)]
    assert (poison, tombstones) == (log.oracle.poison, log.oracle.tombstones)
    assert poison > 0 and tombstones > 0
    dst = publish(staged, str(tmp_path / "topic"))
    assert os.path.exists(dst) and not os.path.exists(staged)


def test_tail_rule():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 31)]
    value, pct, n = harness.tail(xs)
    assert n == 30 and value == 20.0 and sum(x > value for x in xs) == 10
    assert pct == 66


def test_benchmark_json_is_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert bench["paths"] == ["perfbench"]
    assert 1 <= bench["run_seconds"] <= 60
    e2e, layers = bench["end_to_end"], bench["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    assert 2 <= len(bench["workloads"]) <= 8
    names = [m["name"] for m in e2e + layers] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), names
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layers:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_spec_matches_benchmark_and_workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    assert set(spec["workloads"]) == {w["name"] for w in bench["workloads"]}
    assert set(spec["end_to_end"]) == {m["name"] for m in bench["end_to_end"]}
    assert set(spec["per_layer"]) == {m["name"] for m in bench["per_layer"]}
    for name, entry in spec["per_layer"].items():
        assert name.split(".")[0] == entry["layer"]
        for workload, targets in entry["moves"].items():
            assert workload in spec["workloads"]
            for t in targets:
                assert t.split(" ")[0] in spec["end_to_end"]
    t, r = spec["workloads"]["trickle"]["sizes"], spec["workloads"]["replay"]["sizes"]
    assert (t["snapshot_keys"], t["changes_per_file"]) == (Trickle.N_KEYS, Trickle.FILE_CHANGES)
    assert (t["warmup_files"], t["gate_lookups"]) == (Trickle.WARMUP_FILES, Trickle.GATE_LOOKUPS)
    assert (r["keys"], r["events_per_file"]) == (Replay.N_KEYS, Replay.FILE_EVENTS)
    assert r["files_per_trigger"] == Replay.FILES_PER_TRIGGER
    mix = Mix()
    assert spec["record_mix"] == {
        "delete_rewrite": mix.delete, "tombstone": mix.tombstone, "poison": mix.poison
    }
