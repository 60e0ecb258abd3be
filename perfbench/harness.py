"""Host-sized Spark session, pipeline wiring and small measurement helpers.

Nothing here changes the engine: the session is built with the engine's
own ``session.get_spark`` plus benchmark-only settings (host core count,
host-sized heap, no console progress, every scratch path inside the
run's work directory), and the pipeline is the public ``CdcPipeline``
with a ``ParquetStateStore`` and a sqlite ``DbApiSink`` at their library
defaults.
"""

from __future__ import annotations

import contextlib
import math
import os
import sqlite3
import statistics
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY_COLS = ["id"]
ORDER_COLS = ["offset"]
PAYLOAD = ["id", "title", "rating", "partition"]
SINK_TABLE = "movies"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_mb() -> int:
    """A quarter of physical memory, between 1 GiB and 2 GiB: the host is
    shared, and the benchmark's state is tens of MB. The heap is committed
    up front (-Xms) so peak RSS does not depend on when the heap grew."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return max(1024, min(2048, total_kb // 4096))


def configure_env(work: str) -> dict:
    """Environment the JVM and the Python workers inherit. Must run
    before pyspark starts the JVM."""
    cpus, heap = host_cpus(), host_heap_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        {
            # session.py otherwise assumes a 32-core host with a 24g heap
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": f"{heap}m",
            # pandas-UDF workers import the engine by module path
            "PYTHONPATH": REPO_ROOT + (os.pathsep + path if path else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    return {"cpus": cpus, "heap_mb": heap}


def start_spark(work: str):
    from db_integration_via_kafka_ksql_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    java_opts = f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            # job/stage history for the traced run's per-span counts
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop every query, the session and the JVM behind it, and wait for
    the JVM to exit. ``SparkSession.stop`` leaves the gateway JVM running
    until this process exits, and it then outlives this process by
    seconds while its shutdown hooks run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        for q in spark.streams.active:
            q.stop()
    finally:
        spark.stop()
    if gateway is None:
        return
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def avro_config():
    from db_integration_via_kafka_ksql_spark.sources.kafka import AvroChangelogConfig
    from perfbench.gen import KEY_SCHEMA, VALUE_SCHEMA

    return AvroChangelogConfig(
        topic="movies", key_schema_json=KEY_SCHEMA, value_schema_json=VALUE_SCHEMA
    )


def flatten(raw):
    """Kafka-shaped raw frames -> the flat changelog the pipeline keys on.
    ``__tombstone`` rides along for the traced counts; the pipeline's
    projection drops it, and ``process_batch`` splits off ``__dead``."""
    from pyspark.sql import functions as F

    from db_integration_via_kafka_ksql_spark.sources.kafka import decode_changelog_py

    decoded = decode_changelog_py(raw, avro_config())
    return decoded.select(
        F.col("key.id").alias("id"),
        F.col("row.title").alias("title"),
        F.col("row.rating").alias("rating"),
        "partition",
        "offset",
        "__deleted",
        "__tombstone",
        "__dead",
    )


def log_without_dead(flat):
    """What the pipeline keeps of a decoded log: dead letters split off."""
    from pyspark.sql import functions as F

    return flat.filter(~F.col("__dead")).drop("__dead", "__tombstone")


class Engine:
    """One pipeline instance: topic dir, checkpoint, state store, sink."""

    def __init__(self, spark, root: str, max_files_per_trigger: int = 1) -> None:
        from db_integration_via_kafka_ksql_spark.sinks.dbapi import DbApiSink
        from db_integration_via_kafka_ksql_spark.sources.changelog import (
            file_changelog_stream,
        )
        from db_integration_via_kafka_ksql_spark.streaming.pipeline import CdcPipeline
        from db_integration_via_kafka_ksql_spark.streaming.state import ParquetStateStore
        from perfbench.gen import RAW_SCHEMA_DDL

        self.spark = spark
        self.root = root
        self.topic = os.path.join(root, "topic")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.topic, exist_ok=True)
        self.db_path = os.path.join(root, "sink.db")
        db_path = self.db_path
        self.store = ParquetStateStore(
            spark, os.path.join(root, "state"), key_cols=KEY_COLS, order_cols=ORDER_COLS
        )
        self.sink = DbApiSink(
            connect=lambda: sqlite3.connect(db_path), table=SINK_TABLE, key_cols=KEY_COLS
        )
        raw = file_changelog_stream(
            spark, self.topic, RAW_SCHEMA_DDL, max_files_per_trigger=max_files_per_trigger
        )
        self.pipeline = CdcPipeline(
            source=flatten(raw),
            key_cols=KEY_COLS,
            order_cols=ORDER_COLS,
            projection=PAYLOAD,
            sink=self.sink,
            state=self.store,
            checkpoint_dir=os.path.join(root, "checkpoint"),
            trigger_seconds=0,
        )
        self.query = None
        self._reader = None

    def start(self):
        self.query = self.pipeline.start()
        return self.query

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self._reader is not None:
            self._reader.close()
            self._reader = None

    def check_query(self) -> None:
        if self.query is not None and self.query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {self.query.exception()}")

    def reader(self) -> sqlite3.Connection:
        if self._reader is None:
            self._reader = sqlite3.connect(self.db_path, timeout=30)
        return self._reader

    def marker(self) -> float | None:
        """The marker value visible in the sink, or None."""
        try:
            row = (
                self.reader()
                .execute(f"SELECT rating FROM {SINK_TABLE} WHERE id = 0")
                .fetchone()
            )
        except sqlite3.OperationalError:  # table not created yet, or locked
            return None
        return None if row is None else row[0]

    def wait_marker(self, at_least: float, timeout_s: float) -> bool:
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            m = self.marker()
            if m is not None and m >= at_least:
                return True
            self.check_query()
            time.sleep(0.005)
        return False

    def sink_rows(self) -> dict[int, tuple]:
        rows = self.reader().execute(
            f"SELECT id, title, rating FROM {SINK_TABLE}"
        ).fetchall()
        return {r[0]: (r[1], r[2]) for r in rows}


def frame_rows(df) -> dict[int, tuple]:
    pdf = df.select("id", "title", "rating").toPandas()
    return {
        int(i): (t, float(r))
        for i, t, r in zip(pdf["id"], pdf["title"], pdf["rating"])
    }


# -- statistics ---------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile is at or under
    the median, so the tail is the maximum (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return float(xs[-1]), 100.0, n
    idx = n - 11
    return float(xs[idx]), math.floor(100.0 * (idx + 1) / n), n


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time taken by other guests (diagnostic only)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


# -- memory -------------------------------------------------------------

def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM, kept by the kernel) of this process
    plus the JVM it launched; call while the JVM is still up. Python
    workers are left out: they fork from one daemon and share its pages,
    so adding their RSS would count pages twice."""
    me = os.getpid()
    pids = [me]
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if int(rest.split()[1]) == me and comm.endswith("(java"):
            pids.append(int(entry))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return total_kb / 1024.0
