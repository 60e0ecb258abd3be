"""Spans around the engine's public entry points, for the traced run.

A span records name, start, end, parent and the micro-batch id, plus the
Spark jobs and tasks it ran: each span runs under its own job group, and
the job/task counts are read from ``SparkContext.statusTracker()`` when
the run ends (the status store fills asynchronously). Spans stay in
memory until ``dump``.

The wrappers change what they wrap in one way: the wrapped call's input
or output is materialized (``localCheckpoint``) inside the span, so that
work lazily fused into a later Spark job is charged to the layer that
owns it. That, and the row counts the tracer takes (jobs kept out of
every span's counts), is the tracing overhead the run reports.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.triggers: list[dict] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._by_parent: dict[int | None, list[dict]] | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def _job_group(self, group: str, description: str):
        saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self.sc.setJobGroup(group, description, interruptOnCancel=False)
        try:
            yield
        finally:
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)

    def untracked(self):
        """Jobs the tracer itself adds (its row counts): run outside any
        span's interval and kept out of every span's job counts."""
        return self._job_group("perfbench-untracked", "tracer row counts")

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "batch": batch if batch is not None else (stack[-1]["batch"] if stack else None),
            "phase": self.phase,
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            with self._job_group(rec["group"], name):
                yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def record_progress(self, query, first_measured_batch: int = 0) -> None:
        """Keep the data-bearing triggers of a streaming query; earlier
        batches than `first_measured_batch` were warm-up."""
        for p in query.recentProgress:
            if p["numInputRows"] > 0:
                phase = self.phase if p["batchId"] >= first_measured_batch else "setup"
                self.triggers.append({"phase": phase, "batch": p["batchId"], **p["durationMs"]})

    def resolve_jobs(self) -> None:
        """Attach Spark job and task counts to every span (own group only;
        parents add their children's in `inclusive`)."""
        time.sleep(0.5)  # let the listener bus drain
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks

    def inclusive(self, rec: dict, field: str) -> float:
        total = rec.get(field, 0)
        for child in self.children(rec):
            total += self.inclusive(child, field)
        return total

    def children(self, rec: dict) -> list[dict]:
        if self._by_parent is None:  # built once, after the run
            self._by_parent = {}
            for s in self.spans:
                self._by_parent.setdefault(s["parent"], []).append(s)
        return self._by_parent.get(rec["id"], [])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "triggers": self.triggers}, f)


def _new_files(path: str, before: set[int]) -> tuple[int, int]:
    """(bucket dirs holding a file not in `before`, bytes of those files).
    Untouched buckets are carried over as hard links, same inode."""
    buckets, written = set(), 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(root, name))
            if st.st_ino not in before and name.endswith(".parquet"):
                buckets.add(root)
                written += st.st_size
    return len(buckets), written


def _inodes(path: str) -> set[int]:
    out = set()
    for root, _dirs, files in os.walk(path):
        for name in files:
            out.add(os.stat(os.path.join(root, name)).st_ino)
    return out


def install(tracer: Tracer, engine, cdc_module) -> None:
    """Wrap the public entry points one Engine drives. The module-level
    `compact_latest` is patched on `operators.cdc`, which both the
    pipeline and the state store call through."""
    pipeline, store, sink = engine.pipeline, engine.store, engine.sink

    if not hasattr(cdc_module, "_perfbench_real_compact"):
        real_compact = cdc_module.compact_latest
        cdc_module._perfbench_real_compact = real_compact

        def compact_latest(changelog, *args, **kwargs):
            with tracer.span("cdc.compact") as rec:
                out = real_compact(changelog, *args, **kwargs).localCheckpoint()
            with tracer.untracked():
                rec["in_rows"] = changelog.count()
                rec["out_rows"] = out.count()
            return out

        cdc_module.compact_latest = compact_latest

    real_process = pipeline.process_batch

    def process_batch(batch_df, epoch_id):
        if "__dead" in batch_df.columns:  # Avro-decoded, not the snapshot
            batch_df = traced_decode(tracer, batch_df, epoch_id)
        with tracer.span("pipeline.process_batch", batch=epoch_id):
            real_process(batch_df, epoch_id)

    pipeline.process_batch = process_batch

    real_apply = store.apply_batch

    def apply_batch(changelog_batch):
        before = _inodes(store.path)
        with tracer.span("state.apply") as rec:
            real_apply(changelog_batch)
        rec["buckets_touched"], rec["bytes_written"] = _new_files(store.path, before)

    store.apply_batch = apply_batch

    real_write = sink.write_batch

    def write_batch(upserts, delete_keys):
        with tracer.untracked():
            counts = upserts.count(), delete_keys.count()
        with tracer.span("sink.write") as rec:
            real_write(upserts, delete_keys)
        rec["rows_upserted"], rec["rows_deleted"] = counts

    sink.write_batch = write_batch


def wrap_rebuild(tracer: Tracer, store) -> None:
    real = store.rebuild

    def rebuild(full_changelog):
        with tracer.span("state.rebuild"):
            real(full_changelog)

    store.rebuild = rebuild


def traced_decode(tracer: Tracer, flat, batch: int | None):
    """Materialize a decoded batch under a `sources.decode` span and count
    its rows, tombstones and dead letters."""
    with tracer.span("sources.decode", batch=batch) as rec:
        out = flat.localCheckpoint()
    with tracer.untracked():
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__tombstone").cast("int")).alias("tomb"),
            F.sum(F.col("__dead").cast("int")).alias("dead"),
        ).first()
    rec["rows"], rec["tombstones"], rec["dead"] = row["n"], row["tomb"] or 0, row["dead"] or 0
    return out
