"""CDC pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload trickle|replay|all --seed N \
        --seconds S --trace 0|1

Run from the repository root. The run works in
``.perfbench_work/<workload>-<seed>-<pid>/`` (removed at the end), writes
its full record (samples, percentiles, host, spans) to
``.perfbench_out/``, prints a readable report and, as its last stdout
line, one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
``--workload all`` runs each workload in turn, each in its own process.

The command itself only supervises: it runs the benchmark in a child
process, marks itself a child subreaper so that every process the run
leaves behind (the Spark JVM, its Python workers) is re-parented to it,
and on every way out stops each of them and waits until it has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

OUT_DIR = os.path.join(harness.REPO_ROOT, ".perfbench_out")
WORK_ROOT = os.path.join(harness.REPO_ROOT, ".perfbench_work")
SUPERVISED = "PERFBENCH_SUPERVISED"  # set in the environment of the run itself
RUN_TIMEOUT_S = 160.0  # per workload
REAP_GRACE_S = 10.0  # SIGTERM first, SIGKILL after this
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["trickle", "replay", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def end_to_end(wl, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """(metrics, detail): every end-to-end metric, and the tail
    percentiles with their sample counts."""
    s = wl.samples
    lat_tail, lat_pct, lat_n = harness.tail(s["latency"])
    lk_tail, lk_pct, lk_n = harness.tail(s["lookup"])
    values = {
        "setup_s": (setup_s, "s"),
        "visible_p50_s": (harness.median(s["latency"]), "s"),
        "visible_tail_s": (lat_tail, "s"),
        "events_per_s": (wl.events / wl.busy_s, "1/s"),
        "rebuild_events_per_s": (wl.rebuild_events / wl.rebuild_s, "1/s"),
        "lookup_p50_s": (harness.median(s["lookup"]), "s"),
        "lookup_tail_s": (lk_tail, "s"),
        "count_p50_s": (harness.median(s["count"]), "s"),
        "state_bytes_per_key": (wl.state_bytes / len(wl.log.oracle.live), "B"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    detail = {
        "visible_tail_s": {"percentile": lat_pct, "n": lat_n},
        "lookup_tail_s": {"percentile": lk_pct, "n": lk_n},
        "count_p50_s": {"n": len(s["count"])},
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}, detail


def per_layer(wl) -> dict:
    """Per-layer metrics from the traced run: spans after set-up (the
    measured phase and the gate) and the measured phase's triggers."""
    tr = wl.tracer
    tr.resolve_jobs()
    spans = [s for s in tr.spans if s["phase"] != "setup"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def total(ss, field):
        return sum(s.get(field, 0) for s in ss)

    def per_call(ss, field=None):
        vals = [tr.inclusive(s, field) if field else s["end"] - s["start"] for s in ss]
        return harness.median(vals) if vals else 0.0

    decode = named("sources.decode")
    batches = named("pipeline.process_batch")
    compact = named("cdc.compact")
    apply_ = named("state.apply")
    sink = named("sink.write")
    self_s = [
        (b["end"] - b["start"]) - dur(tr.children(b)) for b in batches
    ]
    trig = [t for t in tr.triggers if t["phase"] == "measure"]

    def trig_median(f):
        return harness.median([f(t) for t in trig]) if trig else 0.0

    metrics = {
        "sources.decode_rows_per_s": (total(decode, "rows") / max(dur(decode), 1e-9), "1/s"),
        "sources.dead_letter_rows": (total(decode, "dead"), "count"),
        "sources.tombstone_rows": (total(decode, "tombstones"), "count"),
        "stream.trigger_overhead_s": (
            trig_median(lambda t: (t["triggerExecution"] - t.get("addBatch", 0)) / 1e3), "s"
        ),
        "stream.wal_commit_s": (
            trig_median(lambda t: (t.get("walCommit", 0) + t.get("commitOffsets", 0)) / 1e3), "s"
        ),
        "stream.latest_offset_s": (trig_median(lambda t: t.get("latestOffset", 0) / 1e3), "s"),
        "pipeline.process_batch_s": (per_call(batches), "s"),
        "pipeline.self_s": (harness.median(self_s) if self_s else 0.0, "s"),
        "cdc.compact_s": (dur(compact), "s"),
        "cdc.compact_in_rows": (total(compact, "in_rows"), "count"),
        "cdc.compact_out_rows": (total(compact, "out_rows"), "count"),
        "state.apply_s": (per_call(apply_), "s"),
        "state.apply_jobs": (per_call(apply_, "jobs"), "count"),
        "state.apply_tasks": (per_call(apply_, "tasks"), "count"),
        "state.buckets_touched": (per_call(apply_, "buckets_touched"), "count"),
        "state.bytes_written": (per_call(apply_, "bytes_written"), "B"),
        "state.rebuild_s": (dur(named("state.rebuild")), "s"),
        "state.lookup_s": (per_call(named("state.lookup")), "s"),
        "state.lookup_jobs": (per_call(named("state.lookup"), "jobs"), "count"),
        "state.read_s": (per_call(named("state.read")), "s"),
        "sink.write_s": (per_call(sink), "s"),
        "sink.write_jobs": (per_call(sink, "jobs"), "count"),
        "sink.rows_upserted": (total(sink, "rows_upserted"), "count"),
        "sink.rows_deleted": (total(sink, "rows_deleted"), "count"),
        "sink.dead_letter": (len(wl.eng.sink.dead_letter), "count"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def run(args) -> dict:
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = harness.configure_env(work)
    cwd = os.getcwd()
    os.chdir(work)  # anything Spark drops into the cwd lands here
    spark = None
    try:
        from perfbench import trace
        from perfbench.workloads import WORKLOADS

        factory = trace.Tracer if args.trace else None
        wl = WORKLOADS[args.workload](args.seed, args.seconds, work, factory)
        wl.generate()
        cpu0 = harness.cpu_times()
        t0 = time.perf_counter()
        spark = harness.start_spark(work)
        wl.attach(spark)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.set_phase("measure")
        wl.measure()
        wl.set_phase("gate")
        wl.finish()
        peak_mb = harness.peak_rss_mb()
        host["steal"] = round(harness.steal_share(cpu0, harness.cpu_times()), 4)
        import pyspark

        host.update(
            pyspark=pyspark.__version__, seed=args.seed, workload=args.workload, trace=args.trace
        )
        e2e, detail = end_to_end(wl, setup_s, peak_mb)
        metrics = per_layer(wl) if args.trace else e2e
        record = {
            "host": host,
            "sizes": wl.sizes,
            "correct": not wl.failures,
            "attempted": wl.attempted,
            "failed": len(wl.failures),
            "failures": wl.failures[:20],
            "metrics": metrics,
            "end_to_end": e2e,
            "detail": detail,
            "samples": wl.samples,
        }
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        untraced = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
        if args.trace and os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {
                k: e2e[k]["value"] / base[k]["value"] - 1.0 for k in e2e if k in base
            }
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, name + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if args.trace:
            wl.tracer.dump(os.path.join(OUT_DIR, name + ".spans.json"))
        return record
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)  # only when no other run is using it


def report(rec: dict) -> None:
    h = rec["host"]
    print(
        f"# {h['workload']} seed={h['seed']} cpus={h['cpus']} heap={h['heap_mb']}m "
        f"pyspark={h['pyspark']} steal={h['steal']:.1%} sizes={json.dumps(rec['sizes'])}"
    )
    for k, m in rec["metrics"].items():
        extra = rec["detail"].get(k)
        note = "" if not extra else " " + " ".join(f"{a}={b}" for a, b in extra.items())
        print(f"{k:32s} {m['value']:.6g} {m['unit']}{note}")
    print(
        f"failed_frac {rec['failed'] / rec['attempted']:.6g} "
        f"({rec['failed']}/{rec['attempted']})"
    )
    if "tracing_overhead" in rec:
        print("# tracing overhead (traced / untraced - 1, same workload and seed):")
        for k, v in rec["tracing_overhead"].items():
            print(f"  {k:30s} {v:+.1%}")
    elif rec["host"].get("trace"):
        print("# tracing overhead: run the same workload and seed with --trace 0 first")
    for f in rec["failures"]:
        print(f"FAILED: {f}")


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                rest = f.read().rsplit(")", 1)[1]
        except OSError:
            continue
        if int(rest.split()[1]) == pid:
            kids.append(int(entry))
    return kids


def reap_all() -> None:
    """Stop every process below this one and wait until each has ended.
    As a child subreaper this process inherits every orphan below it, so
    it is done once it has no child left."""
    me = os.getpid()
    deadline = time.monotonic() + REAP_GRACE_S
    signalled: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children(me):
            if signalled.get(pid) != sig:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                signalled[pid] = sig
        time.sleep(0.05)


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def supervise(argv: list[str], workloads: int) -> int:
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}",
              file=sys.stderr)
        return 1
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGINT, _exit_on_signal)
    rc = 1
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *argv],
            env={**os.environ, SUPERVISED: "1"},
        )
        try:
            rc = child.wait(timeout=RUN_TIMEOUT_S * workloads)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {RUN_TIMEOUT_S * workloads:.0f} s", file=sys.stderr)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        reap_all()
        remove_orphaned_work()
    return rc


def remove_orphaned_work() -> None:
    """Remove the work directories of runs that were stopped before they
    could remove their own (directories are named after the run's pid)."""
    if not os.path.isdir(WORK_ROOT):
        return
    for entry in os.listdir(WORK_ROOT):
        pid = entry.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, entry), ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(WORK_ROOT)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if args.workload == "all":
        workloads = ("trickle", "replay")
    else:
        workloads = (args.workload,)
    if not os.environ.get(SUPERVISED):
        return supervise(argv, len(workloads))
    if args.workload == "all":
        rcs = [
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)]
            ).returncode
            for w in workloads
        ]
        return max(rcs)
    try:
        rec = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    report(rec)
    print(
        json.dumps(
            {
                "correct": rec["correct"],
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": rec["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
