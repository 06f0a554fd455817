"""Benchmark of the engine: one workload, one seed, one closed-loop client
on ``local[nproc]``.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, with every time net of the
CPU time the hypervisor stole and scaled to the reference host's speed
(see perfbench/README.md); ``--trace 1`` runs the same
passes with spans, Spark job groups and the Spark event log on, prints
the per-layer metrics, then repeats the passes untraced to report the
tracing overhead. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it (``{"detail": ...}``) records the seed, ``nproc``, the load and I/O
proxies, the tail percentile and per-kind medians. Inputs are generated
under ``.localdata/perfbench`` on first use. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import inspect
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOCAL = os.path.join(ROOT, ".localdata", "perfbench")
PACKAGE = "data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark"
WARM_SF = 0.001
N_SETUPS = 3
TAIL_BEYOND = 10
YOUNG_GEN = "256m"
CAL_INTS = 1_000_000
# The calibration's median CPU time on the reference host: a 4-vCPU
# shared VM, Python 3.11, OpenJDK 17, at a moderate neighbour load
# (CPU-spin proxy about 0.45 s). Times are reported at that speed.
REFERENCE_CAL_S = 0.15


def load_proxy_sample() -> float:
    """Wall time of a fixed single-threaded spin (3M steps of a 31-bit
    LCG, the same work as bench.py's load proxy): box CPU load."""
    t0 = time.perf_counter()
    acc = 1
    for _ in range(3_000_000):
        acc = (acc * 1103515245 + 12345) & 0x7FFFFFFF
    return time.perf_counter() - t0


def io_proxy_sample(directory: str) -> float:
    """Wall time of a fixed disk round trip (write 8 MiB, fsync, read
    back, unlink; the same work as bench.py's I/O proxy)."""
    buf = b"\xa5" * (8 << 20)
    t0 = time.perf_counter()
    fd, path = tempfile.mkstemp(prefix="ioproxy_", dir=directory)
    try:
        os.write(fd, buf)
        os.fsync(fd)
        os.close(fd)
        with open(path, "rb") as f:
            f.read()
    finally:
        os.unlink(path)
    return time.perf_counter() - t0


def calibrate(spark) -> float:
    """CPU seconds the driver JVM's thread spends on a fixed job: summing
    a sorted stream of 1M seeded ints. It runs no engine or Spark SQL
    code, so it reads the speed of this machine's cores, which drifts
    with the load of the host's other tenants on shared caches and
    hyperthreads. Being CPU time, it leaves out the waits for a core that
    :func:`stolen` accounts for."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    c0 = mx.getCurrentThreadCpuTime()
    jvm.java.util.Random(20240101).ints(CAL_INTS).sorted().sum()
    return (mx.getCurrentThreadCpuTime() - c0) / 1e9


def scale(cals: list[float]) -> float:
    """Factor that turns this run's seconds into seconds on the reference
    host: the reference calibration time over this run's median."""
    return REFERENCE_CAL_S / statistics.median(cals)


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of all CPUs from /proc/stat. Steal is time a
    CPU had work but the hypervisor ran another guest on it."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def stolen(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time asked for between two :func:`cpu_ticks`
    readings that the hypervisor gave to other guests."""
    busy, steal = (b - a for a, b in zip(before, after))
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_jvm(gateway) -> None:
    """End the driver JVM PySpark launched (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile above the median with at least ten samples
    beyond it, and its label. With twenty samples or fewer no percentile
    above the median has ten beyond it, and the tail is the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        return xs[-1], f"p100 of {n} (maximum: {n} ops leave no percentile above p50 with {TAIL_BEYOND} beyond)"
    return xs[n - TAIL_BEYOND - 1], f"p{100 * (n - TAIL_BEYOND) / n:.0f} of {n}"


def layers() -> dict[str, list]:
    """Span name -> the engine's public functions it wraps when traced."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
        dedup,
        graph,
        scd,
        similarity,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans import pipeline
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import tables
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming import incremental

    def public(mod):
        return [
            f for n, f in vars(mod).items()
            if not n.startswith("_") and inspect.isfunction(f) and f.__module__ == mod.__name__
        ]

    s = similarity
    writes = [s.build_ivf_index, s.append_to_ivf_index, s.update_in_ivf_index, s.delete_from_ivf_index, s.compact_ivf_index]
    return {
        "plans.fn": [pipeline.build_star_warehouse, pipeline.read_warehouse, pipeline.revenue_by_weekday],
        "sources.load_table": [tables.load_table],
        "operators.scd": public(scd),
        "operators.graph": public(graph),
        "operators.dedup": public(dedup),
        "operators.similarity.write": writes,
        "operators.similarity.query": [f for f in public(similarity) if f not in writes],
        "streaming.incremental": [incremental.load_or_update],
    }


def setup(warm_dir: str):
    """``get_spark`` plus the warm-up bench.py uses (the two flagship
    queries at sf0.001). Returns (spark, get_spark seconds, total
    seconds, share of the total stolen by the hypervisor)."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import registry

    ticks, t0 = cpu_ticks(), time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    reg = registry()
    for name in ("q01_pricing_summary", "q23_star_weekday"):
        reg[name].fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
    return spark, t1 - t0, time.perf_counter() - t0, stolen(ticks, cpu_ticks())


def status_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran and tasks they completed, for one job group,
    from Spark's StatusTracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks = set(), 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            si = st.getStageInfo(sid)
            if si and si.numCompletedTasks > 0 and sid not in stages:
                stages.add(sid)
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def run_ops(spark, passes, tracer, cals: list[float] | None = None) -> list[dict]:
    """Closed loop: each op starts when the previous one has returned.
    With ``cals``, a calibration sample is taken before each op, outside
    its timing."""
    sc = spark.sparkContext
    records = []
    for p, ops in enumerate(passes):
        for op in ops:
            if op.before:
                op.before()
            if cals is not None:
                cals.append(calibrate(spark))
            idx = len(records)
            tracer.op = idx
            if tracer.enabled:
                sc.setJobGroup(f"op{idx}", op.kind)
            rec = {"kind": op.kind, "pass": p, "ok": True, "rows": None, "start": time.time()}
            ticks = cpu_ticks()
            t0 = time.perf_counter()
            try:
                result = op.run()
            except Exception:  # an op that raises counts as failed; the loop goes on
                rec["ok"] = False
                traceback.print_exc()
            rec["s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["stolen"] = stolen(ticks, cpu_ticks())
            if tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(status_counts(sc, f"op{idx}"))
            if rec["ok"]:
                rec["rows"] = op.rows(result)
            records.append(rec)
    tracer.op = -1
    return records


def score(wl, records: list[dict]) -> tuple[int, dict[str, bool]]:
    """Run the workload's output checks; returns (failed ops, checks)."""
    try:
        checks = wl.check()
    except Exception:  # a check that cannot run fails every op kind
        traceback.print_exc()
        checks = {}
    failed = sum(1 for r in records if not r["ok"] or not checks.get(r["kind"], False))
    return failed, checks


def end_to_end(wl, walls: list[float], rows: int, setup_s: list[float], k: float = 1.0) -> dict[str, float]:
    """The end-to-end metrics from op and set-up times, with the times
    multiplied (and rates divided) by ``k``, the factor of :func:`scale`."""
    return {
        "setup_s": k * statistics.median(setup_s),
        "op_p50_s": k * statistics.median(walls),
        "op_tail_s": k * tail(walls)[0],
        "ops_per_min": 60.0 * len(walls) / sum(walls) / k,
        "rows_per_s": rows / sum(walls) / k,
        "stored_bytes_per_row": wl.stored_bytes_per_row(),
    }


def per_layer(tracer, records, events, get_spark_s) -> dict[str, float]:
    """Per-op means of the traced run's layer metrics."""
    n = len(records)
    seconds, calls = tracer.self_times()
    out = {"session.get_spark_s": statistics.median(get_spark_s)}
    for name in ("plans.fn", "plans.action", "sources.load_table", "operators.scd", "streaming.incremental",
                 "operators.graph", "operators.dedup", "operators.similarity.query", "operators.similarity.write"):
        out[f"{name}_s"] = seconds.get(name, 0.0) / n
    out["sources.load_table_calls"] = calls.get("sources.load_table", 0) / n
    out["operators.similarity.calls"] = (
        calls.get("operators.similarity.query", 0) + calls.get("operators.similarity.write", 0)
    ) / n
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}"] = sum(r[key] for r in records) / n
    groups = [events.get(f"op{i}", {}) for i in range(n)]
    for key in ("executor_run_s", "executor_cpu_s", "task_wait_s", "jvm_gc_s", "input_bytes", "output_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        out[f"spark.{key}"] = sum(g.get(key, 0) for g in groups) / n
    out["spark.driver_gap_s"] = sum(
        max((r["end"] - r["start"]) - g.get("stage_busy_s", 0.0), 0.0) for r, g in zip(records, groups)
    ) / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print(f"perfbench: {ROOT} holds no engine package or correctness tools", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import datagen
    import eventlog
    from pyspark import SparkContext
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    W = WORKLOADS[args.workload]
    os.makedirs(LOCAL, exist_ok=True)
    data = datagen.ensure(os.path.join(LOCAL, f"sf{W.sf}"), W.sf)
    warm_dir = datagen.ensure(os.path.join(LOCAL, f"sf{WARM_SF}"), WARM_SF)
    nproc = len(os.sched_getaffinity(0))
    noise = {"seed": args.seed, "nproc": nproc, "load_proxy_s": load_proxy_sample(), "io_proxy_s": io_proxy_sample(LOCAL)}

    work = tempfile.mkdtemp(prefix="run-", dir=LOCAL)
    log_dir = os.path.join(work, "eventlog")
    tmp_dir = os.path.join(work, "tmp")
    os.makedirs(log_dir)
    os.makedirs(tmp_dir)
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g")
    # A fixed heap and young generation: G1 otherwise sizes both from its
    # pause times, which follow the host's load, and peak RSS with them.
    java_opts = f"-Xms{heap} -Xmn{YOUNG_GEN}"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp_dir,
        PYSPARK_SUBMIT_ARGS=eventlog.submit_args(log_dir if args.trace else None, tmp_dir, java_opts),
    )
    tempfile.tempdir = tmp_dir
    n_passes = max(1, math.ceil(args.seconds / W.nominal_pass_s))
    spark = None
    phases, host = {}, {}
    try:
        setups, records = [], []
        spark, *times = setup(warm_dir)
        setups.append(times)
        tracer = Tracer(enabled=bool(args.trace))
        if args.trace:
            wl = W(spark, data, os.path.join(work, "traced"), args.seed, tracer)
            with tracer.instrument(PACKAGE, layers()):
                records = run_ops(spark, wl.passes(n_passes), tracer)
                failed, checks = score(wl, records)
            spark.stop()
            (log,) = os.listdir(log_dir)
            events = eventlog.parse_file(os.path.join(log_dir, log))
            # the untraced reference for the tracing overhead
            SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
            spark, *times = setup(warm_dir)
            setups.append(times)
            ref = W(spark, data, os.path.join(work, "untraced"), args.seed, Tracer(enabled=False))
            ref_records = run_ops(spark, ref.passes(n_passes), ref.tr)
            failed += sum(not r["ok"] for r in ref_records)
            metrics = per_layer(tracer, records, events, [g for g, _, _ in setups])
            traced_rate = len(records) / sum(r["s"] for r in records)
            ref_rate = len(ref_records) / sum(r["s"] for r in ref_records)
            metrics["trace.overhead_pct"] = 100.0 * (ref_rate - traced_rate) / ref_rate
            attempted = len(records) + len(ref_records)
        else:
            for _ in range(N_SETUPS - 1):
                spark.stop()
                spark, *times = setup(warm_dir)
                setups.append(times)
            for _ in range(3):  # compile the calibration before it is timed
                calibrate(spark)
            wl = W(spark, data, os.path.join(work, "untraced"), args.seed, tracer)
            cals: list[float] = []
            t_measure, ticks = time.perf_counter(), cpu_ticks()
            records = run_ops(spark, wl.passes(n_passes), tracer, cals)
            t_check = time.perf_counter()
            noise["stolen_share"] = stolen(ticks, cpu_ticks())
            failed, checks = score(wl, records)
            phases.update(measure=t_check - t_measure, check=time.perf_counter() - t_check)
            rows = sum(r["rows"] or 0 for r in records)
            host = {
                "cal_median_s": statistics.median(cals),
                "scale": scale(cals),
                "unscaled": end_to_end(wl, [r["s"] for r in records], rows, [s for _, s, _ in setups]),
            }
            # each time without the share the hypervisor stole, at the reference speed
            metrics = end_to_end(
                wl,
                [r["s"] * (1 - r["stolen"]) for r in records],
                rows,
                [s * (1 - st) for _, s, st in setups],
                scale(cals),
            )
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            host["peak_rss_mb"] = {"client": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
            metrics["peak_rss_mb"] = sum(host["peak_rss_mb"].values())
            attempted = len(records)
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm(SparkContext._gateway)
        shutil.rmtree(work, ignore_errors=True)

    walls = [r["s"] for r in records]
    kinds = sorted({r["kind"] for r in records})
    detail = {
        **noise,
        "workload": args.workload,
        "sf": W.sf,
        "passes": n_passes,
        "ops": len(records),
        "op_tail": tail(walls)[1],
        "error_rate": failed / attempted,
        "failed_checks": sorted(k for k, ok in checks.items() if not ok),
        "kind_median_s": {k: statistics.median(r["s"] for r in records if r["kind"] == k) for k in kinds},
        "pass_s": [sum(r["s"] for r in records if r["pass"] == p) for p in range(n_passes)],
        "setups_s": [s for _, s, _ in setups],
        "phase_s": phases,
        **host,
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_min": "1/min",
    "rows_per_s": "1/s",
    "stored_bytes_per_row": "bytes",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "plans.fn_s": "s",
    "plans.action_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "operators.scd_s": "s",
    "streaming.incremental_s": "s",
    "operators.graph_s": "s",
    "operators.dedup_s": "s",
    "operators.similarity.query_s": "s",
    "operators.similarity.write_s": "s",
    "operators.similarity.calls": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_wait_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
}

if __name__ == "__main__":
    sys.exit(main())
