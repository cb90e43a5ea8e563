"""Benchmark entry point.

    python3 perfbench/run.py --workload mart_daily --seed 1 --seconds 12 --trace 0

Starts one fresh Spark session at ``local[nproc]`` with ``nproc``
shuffle partitions, lands the workload's seeded fixtures, runs untimed
warm-up ops, then times ops in a closed loop for ``--seconds``. Set-up
time is session start + landing + warm-up. Outputs are checked after
the timed window. The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1`` (a run
that alternates traced and untraced ops, wraps the package's public
functions in spans, counts py4j calls and folds Spark's event log per
op). All scratch lives under ``.perfbench/`` in the checkout and is
removed at exit, after every process the run started has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import gc
import glob
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import etl_job_spark  # noqa: E402,F401  (fails fast outside a full checkout)

from perfbench import stats  # noqa: E402

DRIVER_MEM = "2g"
HASH_SEED = "0"

END_TO_END = {
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
SPAN_MS = (
    "kicc.staging_plan", "txn.commit", "txn.roll_forward", "table.merge",
    "table.update_where", "sql.dml_txn", "sql.dml_stmt", "table.snapshot_where",
    "sql.select_plan", "similarity.search_plan", "dedup.verify_pairs", "dedup.cc",
    "dedup.simhash_pairs", "sink.exec",
)
AUX_COUNTS = {
    "table.files_read": "count", "table.files_skipped_share": "share",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "share",
}
SPARK_COUNTS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
}
PER_LAYER = {
    **{f"{s}_ms": "ms" for s in SPAN_MS},
    "dedup.cc_jobs": "count",
    **AUX_COUNTS,
    **SPARK_COUNTS,
    "spark.driver_only_ms": "ms",
    "py4j.calls": "count",
    "jvm.cached_bytes": "bytes",
    "jvm.cached_rdds": "count",
    "similarity.index_build_s": "s",
    "trace.overhead_ms": "ms",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str, nproc: int, trace: bool) -> dict[str, str]:
    """Session settings, exported before the JVM starts. Python workers
    get the checkout on PYTHONPATH; every temp and spill directory is
    under the run's scratch; UI off, event log only when tracing. The
    serial collector sizes the heap by occupancy alone; under G1's
    pause-time-driven sizing the driver's heap differed from run to run,
    and mart_daily's peak RSS spread 0.15-0.22 (quartile distance over
    median, five seeds, 4-vCPU VM) against 0.04-0.07 with it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": HASH_SEED,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "JAVA_TOOL_OPTIONS": f"-XX:+UseSerialGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 30.0


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so the
    Python workers that outlive the JVM (pyspark's daemon puts them in
    a process group of their own) become its children and can be
    waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def child_pids() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is in parentheses and may hold spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(entry))
    return kids


def stop_children(grace_s: float = STOP_GRACE_S) -> None:
    """End every process this one started, directly or not (the JVM
    behind the session, and the Python workers it forked), and wait for
    each: reap those that exit, ask the rest to end, and kill what is
    still there after the grace period. Returns once this process has
    no child left."""
    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while kids := child_pids():
        late = time.monotonic() > deadline
        for pid in kids:
            with contextlib.suppress(ChildProcessError, ProcessLookupError):
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue  # it had exited and is now reaped
                if late or pid not in signalled:
                    signalled.add(pid)
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
        time.sleep(0.05)


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's peak resident set (VmHWM) from its current one."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pid: int) -> float:
    """A process's peak resident set (VmHWM) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cached_storage(spark) -> tuple[int, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos), len(infos)


def run(args: argparse.Namespace, work: str) -> tuple[dict, list[str]]:
    from etl_job_spark import get_spark

    from perfbench.trace import Tracer, install_package_spans
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    settings = pin_environment(work, nproc, trace)

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer()
    if trace:
        install_package_spans(tracer)
        tracer.count_py4j(spark)
    try:
        wl = WORKLOADS[args.workload](Ctx(spark, work, args.seed, nproc, tracer))
        t0 = time.perf_counter()
        wl.land()
        land_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for i in range(wl.warmup_ops):
            sc.setJobGroup(f"warmup-{i}", "warm-up op")
            w0 = time.perf_counter()
            wl.op(i)
            print(f"warm-up op {i}: {time.perf_counter() - w0:.3f}s", file=sys.stderr)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + land_s + warm_s
        # the peak RSS covers the timed ops only, from a collected heap
        sc._jvm.System.gc()
        gc.collect()
        pids = [sc._gateway.proc.pid, os.getpid()]
        reset_peak_rss(pids)

        ops, traced_ops = [], []
        attempted = failed = 0
        start = time.perf_counter()
        i = wl.warmup_ops
        while time.perf_counter() - start < args.seconds and i < wl.warmup_ops + wl.max_ops:
            n = i - wl.warmup_ops
            traced = trace and n % 2 == 0
            group = f"op-{i}"
            sc.setJobGroup(group, "timed op")
            tracer.reset()
            tracer.enabled = traced
            attempted += 1
            e0 = time.time()
            t0 = time.perf_counter()
            try:
                res = wl.op(i)
            except Exception:
                tracer.enabled = False
                traceback.print_exc()
                failed += 1
                break
            wall = time.perf_counter() - t0
            e1 = time.time()
            tracer.enabled = False
            print(f"op {i}: {wall:.3f}s{' traced' if traced else ''}", file=sys.stderr)
            ops.append({"wall": wall, "units": res.units, "traced": traced, "res": res})
            if traced:
                sc.setJobGroup("aux", "trace-only counts")
                rec = {"group": group, "interval": (e0 * 1000, e1 * 1000), "wall": wall,
                       "self": stats.self_times(tracer.spans), "py4j": tracer.py4j_calls,
                       "cc_spans": [(s["start"] * 1000, s["end"] * 1000)
                                    for s in tracer.spans if s["name"] == "dedup.cc"],
                       "aux": res.aux() if res.aux else {}}
                rec["cached_bytes"], rec["cached_rdds"] = cached_storage(spark)
                traced_ops.append(rec)
            i += 1
        rss = [peak_rss_mb(pid) for pid in pids]
        phase, n_phase, failed_phase = wl.similarity_phase() if trace else ({}, 0, 0)
        attempted += n_phase
        failed += failed_phase
        sc.setJobGroup("checks", "output checks")
        for op in ops:
            check = op["res"].check
            op["ok"] = check() if check else True
        final_ok = wl.final_check()
        failed += sum(1 for op in ops if not op["ok"]) if final_ok else len(ops)
        recalls = getattr(wl, "recalls", [])
        wl.close()
    finally:
        tracer.uninstall()
        spark.stop()

    timed = [op for op in ops if not op["traced"]]
    if not timed:
        raise RuntimeError("no untraced op completed inside the timed window")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    report = [json.dumps({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                          "trace": args.trace, "nproc": nproc, "settings": settings})]
    if trace:
        # Spark 4 writes a directory of rolled files, events_<n>_<app>
        events = glob.glob(os.path.join(work, "events", "**", "events_*"), recursive=True)
        lines = []
        for path in sorted(events, key=lambda p: int(os.path.basename(p).split("_")[1])):
            with open(path) as f:
                lines.extend(f)
        fold = stats.fold_event_log(lines)
        metrics = per_layer(traced_ops, timed, fold, phase)
        units = PER_LAYER
    else:
        walls = [op["wall"] for op in timed]
        metrics = {
            "op_p50_ms": stats.median(walls) * 1000,
            "throughput_per_s": sum(op["units"] for op in timed) / sum(walls),
            "setup_s": setup_s,
            "peak_rss_mb": sum(rss),
        }
        units = END_TO_END
    report += describe(args.workload, timed, setup_s, session_s, land_s, warm_s,
                       attempted, failed, recalls)
    report.append(f"peak RSS over the timed ops: JVM {rss[0]:.0f} MB + Python {rss[1]:.0f} MB")
    result["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    return result, report


def per_layer(traced_ops, untraced, fold, phase) -> dict[str, float]:
    """Per-op medians over the traced ops of every layer metric, plus
    the figures of the workload's phase outside the ops; a layer the
    workload never reaches reads 0."""

    def med(values):
        values = [v for v in values if v is not None]
        return stats.median(values) if values else 0.0

    out = {}
    for s in SPAN_MS:
        out[f"{s}_ms"] = med(r["self"][s] * 1000 if s in r["self"] else None for r in traced_ops)
    for k in AUX_COUNTS:
        out[k] = med(r["aux"].get(k) for r in traced_ops)
    per_op = [fold.get(r["group"], {}) for r in traced_ops]
    for k in SPARK_COUNTS:
        out[k] = med(f.get(k.split(".", 1)[1], 0) for f in per_op)
    driver_only, cc_jobs = [], []
    for r, f in zip(traced_ops, per_op):
        lo, hi = r["interval"]
        jobs = [(max(a, lo), min(b, hi)) for a, b in f.get("job_intervals", [])]
        driver_only.append(r["wall"] * 1000 - stats.union_length(j for j in jobs if j[1] > j[0]))
        if r["cc_spans"]:
            cc_jobs.append(sum(1 for a, _ in f.get("job_intervals", [])
                               for lo2, hi2 in r["cc_spans"] if lo2 <= a <= hi2))
    out["spark.driver_only_ms"] = med(driver_only)
    out["dedup.cc_jobs"] = med(cc_jobs)
    out["py4j.calls"] = med(r["py4j"] for r in traced_ops)
    out["jvm.cached_bytes"] = traced_ops[-1]["cached_bytes"] if traced_ops else 0
    out["jvm.cached_rdds"] = traced_ops[-1]["cached_rdds"] if traced_ops else 0
    out["similarity.index_build_s"] = 0.0
    traced_walls = [r["wall"] for r in traced_ops]
    untraced_walls = [op["wall"] for op in untraced]
    out["trace.overhead_ms"] = (
        (stats.median(traced_walls) - stats.median(untraced_walls)) * 1000
        if traced_walls and untraced_walls else 0.0
    )
    out.update(phase)
    return out


def describe(workload, timed, setup_s, session_s, land_s, warm_s,
             attempted, failed, recalls) -> list[str]:
    """Human-readable lines: set-up split, op median and tail with the
    sample count, failure share."""
    lines = [f"setup: session {session_s:.2f}s, landing {land_s:.2f}s, "
             f"warm-up {warm_s:.2f}s -> {setup_s:.2f}s"]
    walls = [op["wall"] * 1000 for op in timed]
    t = stats.tail(walls)
    tail_s = f", p{t[1]:.0f} {t[0]:.1f} ms" if t else ", tail n/a (needs > 10 samples)"
    lines.append(f"{workload}: n={len(walls)}, p50 {stats.median(walls):.1f} ms{tail_s}")
    lines.append(f"failed_share: {failed}/{attempted} = {failed / max(attempted, 1):.3f}")
    if recalls:
        lines.append(f"ann recall@5: min {min(recalls):.2f}, median {stats.median(recalls):.2f}")
    return lines


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # str hashing is salted per process unless pinned, which changes
        # set and dict iteration order inside the package from run to run
        env = {**os.environ, "PYTHONHASHSEED": HASH_SEED}
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *argv], env)
    adopt_orphans()
    # a terminated run still stops what it started, on its way out
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        result, report = run(args, work)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
