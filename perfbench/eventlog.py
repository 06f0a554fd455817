"""Spark event-log parser: per job group (one group per benchmark op) job,
stage and task counts, executor time and bytes, and the busy interval
covered by the group's stages.

The log must be written uncompressed and unrolled; the benchmark enables
it from outside the engine through ``PYSPARK_SUBMIT_ARGS`` (see
:func:`submit_args`). Jobs are attributed to an op through the
``spark.jobGroup.id`` property of ``SparkListenerJobStart``; stages to a
job through its ``Stage IDs``; tasks to a stage through ``Stage ID``.
Timestamps stay in milliseconds throughout.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "task_wait_s",
    "jvm_gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "stage_busy_s",
)


def submit_args(log_dir: str | None, tmp_dir: str, java_opts: str = "") -> str:
    """``PYSPARK_SUBMIT_ARGS`` for a benchmark JVM: no console progress
    bar, temporary files under ``tmp_dir`` and, when ``log_dir`` is
    given, a plain-JSON event log there (Spark 4.1 otherwise rolls and
    zstd-compresses it). ``java_opts`` are added to the driver JVM's
    options."""
    confs = {"spark.ui.showConsoleProgress": "false"}
    if log_dir:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    opts = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    java = " ".join(filter(None, (f"-Djava.io.tmpdir={tmp_dir}", "-XX:-UsePerfData", java_opts)))
    return f"{opts} --driver-java-options '{java}' pyspark-shell"


def union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of ``[start_ms, end_ms]`` intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def parse(lines) -> dict[str, dict[str, float]]:
    """Aggregate event-log lines into ``{job_group: {field: value}}``.
    Jobs without a group are reported under the empty string."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for line in lines:
        event = json.loads(line)
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in event["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = event["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time")
        elif kind == "SparkListenerStageCompleted":
            info = event["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            out[group]["stages"] += 1
            if info.get("Submission Time") and info.get("Completion Time"):
                spans[group].append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            sid = event["Stage ID"]
            agg = out[stage_group.get(sid, "")]
            info = event["Task Info"]
            agg["tasks"] += 1
            agg["failed_tasks"] += bool(info.get("Failed")) or event["Task End Reason"]["Reason"] != "Success"
            if stage_submit.get(sid):
                agg["task_wait_s"] += max(info["Launch Time"] - stage_submit[sid], 0) / 1000.0
            m = event.get("Task Metrics")
            if not m:
                continue
            agg["executor_run_s"] += m["Executor Run Time"] / 1000.0
            agg["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            agg["jvm_gc_s"] += m["JVM GC Time"] / 1000.0
            agg["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            agg["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            agg["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            agg["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            agg["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    for group, intervals in spans.items():
        out[group]["stage_busy_s"] = union_seconds(intervals)
    return dict(out)


def parse_file(path: str) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return parse(f)
