"""The workloads and the correctness gate every run ends with.

Each workload has four steps, timed separately by `run.py`:
``generate`` (no Spark; excluded from every metric), ``setup`` (reported
as setup_s), ``measure`` (the visibility samples) and ``finish``, the
gate: it checks every output against the oracle, and its rebuild, point
lookups and counts are timed too, so every workload reports every
end-to-end metric.

- trickle: closed loop, one client. A file of ~500 uniform-key changes
  plus a marker upsert is renamed into the topic; the next file goes in
  only once that marker is visible in the sink.
- replay: a Zipf-skewed backlog lands before the query starts and is
  drained from the earliest offset in large micro-batches.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

from db_integration_via_kafka_ksql_spark.operators import cdc
from db_integration_via_kafka_ksql_spark.streaming.state import ParquetStateStore
from perfbench import harness, trace
from perfbench.gen import Changelog, Mix, publish

VISIBLE_TIMEOUT_S = 60.0


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: float, work: str, tracer_factory=None) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer_factory = tracer_factory
        self.tracer = None
        self.rng = np.random.default_rng(seed + 1_000_003)
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {
            "latency": [], "lookup": [], "count": []
        }
        self.events = 0
        self.busy_s = 0.0
        self.rebuild_events = 0
        self.rebuild_s = 0.0
        self.state_bytes = 0
        # (poison, tombstones) the traced decode spans must count
        self.expect_decoded = [0, 0]
        self.sizes: dict = {}

    # -- bookkeeping --------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def attach(self, spark) -> None:
        self.spark = spark
        if self.tracer_factory is not None:
            self.tracer = self.tracer_factory(spark)

    def set_phase(self, phase: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = phase

    def engine(self, name: str, max_files_per_trigger: int = 1) -> harness.Engine:
        eng = harness.Engine(self.spark, os.path.join(self.work, name), max_files_per_trigger)
        if self.tracer is not None:
            trace.install(self.tracer, eng, cdc)
        return eng

    def stop_query(self, eng: harness.Engine, first_measured_batch: int = 0) -> None:
        if self.tracer is not None and eng.query is not None:
            self.tracer.record_progress(eng.query, first_measured_batch)
        eng.stop()

    # -- shared pieces ---------------------------------------------------------
    def seed_table(self, eng: harness.Engine, snapshot_path: str) -> None:
        """Initial load (snapshot.mode=initial): the snapshot is applied
        as one batch at offset 0 before the stream starts."""
        eng.pipeline.process_batch(self.spark.read.parquet(snapshot_path), -1)

    def timed_lookups(self, eng: harness.Engine, log: Changelog, n: int) -> None:
        """A fixed mix: 80% live keys, 10% deleted, 10% never seen. The
        first lookup plans a new read path; it is checked, not timed."""
        live = sorted(log.oracle.live)
        deleted = sorted(log.oracle.deleted) or live
        for i in range(-1, n):
            bucket = i % 10
            if bucket == 8:
                key = int(self.rng.choice(deleted))
            elif bucket == 9:
                key = int(log.n_keys + 1 + self.rng.integers(0, log.n_keys))
            else:
                key = int(self.rng.choice(live))
            t0 = time.perf_counter()
            with self._span("state.lookup"):
                rows = eng.store.lookup(id=key).select("id", "title", "rating").collect()
            if i >= 0:
                self.samples["lookup"].append(time.perf_counter() - t0)
            want = log.oracle.live.get(key)
            got = [(r["title"], r["rating"]) for r in rows]
            self.check(got == ([want] if want else []), f"lookup {key}")

    def timed_count(self, eng: harness.Engine, log: Changelog, timed: bool = True) -> None:
        t0 = time.perf_counter()
        with self._span("state.read"):
            n = eng.store.read().count()
        if timed:
            self.samples["count"].append(time.perf_counter() - t0)
        self.check(n == len(log.oracle.live), f"count {n} != {len(log.oracle.live)}")

    def expect_decode(self, log: Changelog, names) -> None:
        for name in names:
            poison, tombstones = log.file_stats[name]
            self.expect_decoded[0] += poison
            self.expect_decoded[1] += tombstones

    def check_traced_counts(self) -> None:
        """Dead letters and tombstones counted at the source must equal
        the generator's, for every record decoded after set-up."""
        spans = [
            s for s in self.tracer.spans
            if s["name"] == "sources.decode" and s["phase"] != "setup"
        ]
        got = [sum(s["dead"] for s in spans), sum(s["tombstones"] for s in spans)]
        self.check(got == self.expect_decoded,
                   f"decoded (dead, tombstones) {got} != generated {self.expect_decoded}")

    def _span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def gate(self, eng: harness.Engine, log: Changelog, snapshot_path: str | None,
             lookups: int, counts: int) -> None:
        """State, sink and rebuilt state must each equal the oracle (so
        rebuilt == streamed), and no dead letter may reach state."""
        want = log.oracle.live
        state = harness.frame_rows(eng.store.read())
        self.check(state == want, f"state != oracle ({_diff(state, want)})")
        self.check(all(t is not None for t, _ in state.values()), "poison row in state")
        sink = eng.sink_rows()
        self.check(sink == want, f"sink != oracle ({_diff(sink, want)})")
        self.state_bytes = eng.store.mean_bucket_bytes() * eng.store.n_buckets

        t0 = time.perf_counter()  # the rebuild's time includes its decode
        full = harness.flatten(self.spark.read.parquet(eng.topic))
        self.expect_decode(log, os.listdir(eng.topic))
        if self.tracer is not None:
            full = trace.traced_decode(self.tracer, full, None)
        full = harness.log_without_dead(full)
        n_events = log.oracle.events
        if snapshot_path is not None:
            full = self.spark.read.parquet(snapshot_path).unionByName(full)
            n_events += log.n_keys
        rebuilt = ParquetStateStore(
            self.spark, os.path.join(self.work, "rebuilt"),
            key_cols=harness.KEY_COLS, order_cols=harness.ORDER_COLS,
        )
        if self.tracer is not None:
            trace.wrap_rebuild(self.tracer, rebuilt)
        rebuilt.rebuild(full)
        self.rebuild_s = time.perf_counter() - t0
        self.rebuild_events = n_events
        got = harness.frame_rows(rebuilt.read())
        self.check(got == want, f"rebuilt != oracle ({_diff(got, want)})")

        self.timed_lookups(eng, log, lookups)
        self.timed_count(eng, log, timed=False)  # first count: checked, not timed
        for _ in range(counts):
            self.timed_count(eng, log)
        if self.tracer is not None:
            self.check_traced_counts()

    def write_snapshot(self, log: Changelog) -> str:
        path = os.path.join(self.work, "snapshot.parquet")
        pq.write_table(log.snapshot(), path)
        return path


def _diff(got: dict, want: dict) -> str:
    missing = len(want.keys() - got.keys())
    extra = len(got.keys() - want.keys())
    wrong = sum(1 for k in want.keys() & got.keys() if got[k] != want[k])
    return f"missing {missing}, extra {extra}, wrong {wrong}"


class Trickle(Workload):
    name = "trickle"
    N_KEYS = 30_000
    FILE_CHANGES = 500
    WARMUP_FILES = 2
    GATE_LOOKUPS = 30  # tail: p66, 10 samples beyond it
    GATE_COUNTS = 11

    def generate(self) -> None:
        self.log = Changelog(self.seed, self.N_KEYS)
        self.snapshot = self.write_snapshot(self.log)
        self.sizes = {"keys": self.N_KEYS, "changes_per_file": self.FILE_CHANGES}

    def setup(self) -> None:
        self.eng = self.engine("trickle")
        self.seed_table(self.eng, self.snapshot)
        self.eng.start()
        for _ in range(self.WARMUP_FILES):
            self._one_file(record=False)

    def _one_file(self, record: bool) -> None:
        n = self.log.files_written + 1
        table = self.log.batch(self.FILE_CHANGES, Mix(), marker=n)
        staged = self.log.stage(table, self.eng.staging)
        t0 = time.perf_counter()
        publish(staged, self.eng.topic)
        ok = self.eng.wait_marker(n, VISIBLE_TIMEOUT_S)
        dt = time.perf_counter() - t0
        if record:
            self.expect_decode(self.log, [os.path.basename(staged)])
            self.check(ok, f"file {n} not visible within {VISIBLE_TIMEOUT_S}s")
            self.samples["latency"].append(dt)
            self.events += table.num_rows
            self.busy_s += dt
        elif not ok:
            raise RuntimeError(f"warm-up file {n} not visible")

    def measure(self) -> None:
        end = time.perf_counter() + self.seconds
        while time.perf_counter() < end or len(self.samples["latency"]) < 3:
            self._one_file(record=True)
        self.stop_query(self.eng, first_measured_batch=self.WARMUP_FILES)

    def finish(self) -> None:
        self.gate(self.eng, self.log, self.snapshot, self.GATE_LOOKUPS, self.GATE_COUNTS)


class Replay(Workload):
    name = "replay"
    N_KEYS = 30_000
    ZIPF_S = 0.9
    FILE_EVENTS = 20_000
    FILES_PER_TRIGGER = 2
    SECONDS_PER_TRIGGER = 2.7  # backlog: one 40K-event micro-batch per 2.7 s of --seconds
    WARMUP_FILES = 1
    GATE_LOOKUPS = 30
    GATE_COUNTS = 11

    def generate(self) -> None:
        self.files = self.FILES_PER_TRIGGER * max(
            1, round(self.seconds / self.SECONDS_PER_TRIGGER)
        )
        self.log = Changelog(self.seed, self.N_KEYS, zipf_s=self.ZIPF_S)
        staging = os.path.join(self.work, "replay", "staging")
        self.staged = [
            self.log.stage(self.log.batch(self.FILE_EVENTS, Mix(), marker=i + 1), staging)
            for i in range(self.files)
        ]
        self.warm_log = Changelog(self.seed + 7, 5_000)
        warm_staging = os.path.join(self.work, "warmup", "staging")
        self.warm_staged = [
            self.warm_log.stage(
                self.warm_log.batch(Trickle.FILE_CHANGES, Mix(), marker=i + 1), warm_staging
            )
            for i in range(self.WARMUP_FILES)
        ]
        self.sizes = {
            "keys": self.N_KEYS,
            "events": self.log.oracle.events,
            "files": self.files,
            "files_per_trigger": self.FILES_PER_TRIGGER,
        }

    def setup(self) -> None:
        """Warm-up on a throwaway pipeline, then the real one, built but
        not started."""
        warm = self.engine("warmup")
        for path in self.warm_staged:
            publish(path, warm.topic)
        warm.start()
        if not warm.wait_marker(self.WARMUP_FILES, VISIBLE_TIMEOUT_S):
            raise RuntimeError("warm-up replay did not finish")
        self.stop_query(warm)
        self.eng = self.engine("replay", self.FILES_PER_TRIGGER)

    def measure(self) -> None:
        """Drain the whole backlog; one latency sample per file: query
        start to the file's marker being visible in the sink."""
        for path in self.staged:
            publish(path, self.eng.topic)
        self.expect_decode(self.log, [os.path.basename(p) for p in self.staged])
        t0 = time.perf_counter()
        self.eng.start()
        seen = 0
        deadline = t0 + VISIBLE_TIMEOUT_S + 10 * self.seconds
        while seen < self.files and time.perf_counter() < deadline:
            m = self.eng.marker()
            if m is not None and m > seen:
                now = time.perf_counter() - t0
                self.samples["latency"].extend([now] * (int(m) - seen))
                seen = int(m)
            else:
                self.eng.check_query()
                time.sleep(0.005)
        self.busy_s = time.perf_counter() - t0
        self.events = self.log.oracle.events
        self.check(seen == self.files, f"replay drained {seen}/{self.files} files")
        self.stop_query(self.eng)

    def finish(self) -> None:
        self.gate(self.eng, self.log, None, self.GATE_LOOKUPS, self.GATE_COUNTS)


WORKLOADS = {w.name: w for w in (Trickle, Replay)}
