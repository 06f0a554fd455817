"""Tests of the benchmark's own parts: the event-log parser, the tail
statistic, the input generator and the output checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def _task(stage: int, launch: int, finish: int, run_ms: int, failed: bool = False) -> str:
    metrics = {
        "Executor Run Time": run_ms,
        "Executor CPU Time": run_ms * 1_000_000,
        "JVM GC Time": 1,
        "Memory Bytes Spilled": 0,
        "Disk Bytes Spilled": 5,
        "Input Metrics": {"Bytes Read": 100},
        "Output Metrics": {"Bytes Written": 7},
        "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
    }
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
            "Task Metrics": metrics,
        },
    )


def test_parse_attributes_by_job_group_at_millisecond_precision():
    stage = lambda sid, sub, done: {"Stage ID": sid, "Submission Time": sub, "Completion Time": done}  # noqa: E731
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op0"}}),
        _event("SparkListenerStageSubmitted", **{"Stage Info": stage(0, 1000, None)}),
        _task(0, 1010, 1400, 300),
        _event("SparkListenerStageCompleted", **{"Stage Info": stage(0, 1000, 1500)}),
        _event("SparkListenerStageSubmitted", **{"Stage Info": stage(1, 1400, None)}),
        _task(1, 1450, 2200, 700, failed=True),
        _event("SparkListenerStageCompleted", **{"Stage Info": stage(1, 1400, 2250)}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2], "Properties": {}}),
        _event("SparkListenerStageSubmitted", **{"Stage Info": stage(2, 3000, None)}),
        _task(2, 3001, 3002, 1),
        _event("SparkListenerStageCompleted", **{"Stage Info": stage(2, 3000, 3003)}),
    ]
    out = eventlog.parse(lines)
    op = out["op0"]
    assert (op["jobs"], op["stages"], op["tasks"], op["failed_tasks"]) == (1, 2, 2, 1)
    assert op["stage_busy_s"] == pytest.approx(1.25)  # [1.000, 1.500] U [1.400, 2.250]
    assert op["task_wait_s"] == pytest.approx(0.060)  # 10 ms + 50 ms
    assert op["executor_run_s"] == pytest.approx(1.0)
    assert op["executor_cpu_s"] == pytest.approx(1.0)
    assert (op["input_bytes"], op["output_bytes"], op["shuffle_read_bytes"], op["shuffle_write_bytes"]) == (
        200, 14, 6, 6
    )
    assert op["spill_bytes"] == 10
    assert out[""]["jobs"] == 1 and out[""]["stage_busy_s"] == pytest.approx(0.003)


def test_parse_a_log_spark_writes(tmp_path):
    """A real event log, written by Spark with the benchmark's submit
    arguments, parses to the job groups StatusTracker reports."""
    log_dir, tmp_dir = tmp_path / "log", tmp_path / "tmp"
    log_dir.mkdir()
    tmp_dir.mkdir()
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path[:0] = [{ROOT!r}, {HERE!r}]
        from pyspark.sql import SparkSession
        import run
        spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
        sc = spark.sparkContext
        counts = {{}}
        for group, n in (("g1", 1000), ("g2", 50)):
            sc.setJobGroup(group, group)
            spark.range(n).selectExpr("id % 7 AS k").groupBy("k").count().write.parquet({str(tmp_path)!r} + "/" + group)
            counts[group] = run.status_counts(sc, group)
        spark.stop()
        print(json.dumps(counts))
        """
    )
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=eventlog.submit_args(str(log_dir), str(tmp_dir)))
    proc = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    (log,) = os.listdir(log_dir)
    out = eventlog.parse_file(str(log_dir / log))
    for group in ("g1", "g2"):
        g = out[group]
        assert g["jobs"] == counts[group]["jobs"] >= 1
        assert g["stages"] == counts[group]["stages"]
        assert g["tasks"] == counts[group]["tasks"]
        assert g["failed_tasks"] == 0
        assert g["output_bytes"] > 0 and g["shuffle_write_bytes"] > 0
        assert 0 < g["stage_busy_s"] < 60


def test_tail_keeps_ten_samples_beyond_it():
    assert run.tail([float(i) for i in range(1, 11)])[0] == 10.0  # too few samples: maximum
    value, label = run.tail([float(i) for i in range(1, 41)])
    assert value == 30.0 and label.startswith("p75")  # 31..40 lie beyond it


def test_times_are_scaled_to_the_reference_host():
    """On a host whose calibration takes twice the reference time, times
    halve and rates double; stored bytes are not scaled."""
    slow = [2 * run.REFERENCE_CAL_S] * 3 + [9.0]  # the median ignores one outlier
    k = run.scale(slow)
    assert k == pytest.approx(0.5)

    class Stored:
        def stored_bytes_per_row(self):
            return 7.0

    raw = run.end_to_end(Stored(), [1.0, 2.0, 3.0], 30, [4.0])
    scaled = run.end_to_end(Stored(), [1.0, 2.0, 3.0], 30, [4.0], k)
    assert raw["ops_per_min"] == pytest.approx(30.0) and raw["rows_per_s"] == pytest.approx(5.0)
    for name in ("setup_s", "op_p50_s", "op_tail_s"):
        assert scaled[name] == pytest.approx(raw[name] / 2)
    for name in ("ops_per_min", "rows_per_s"):
        assert scaled[name] == pytest.approx(raw[name] * 2)
    assert scaled["stored_bytes_per_row"] == raw["stored_bytes_per_row"] == 7.0


def test_stolen_share_counts_steal_against_demand():
    assert run.stolen((100, 10), (175, 35)) == pytest.approx(0.25)  # 25 of 100 jiffies asked for
    assert run.stolen((5, 5), (5, 5)) == 0.0
    busy, steal = run.cpu_ticks()
    assert busy > 0 and steal >= 0


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    tr.op = 0
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    seconds, calls = tr.self_times()
    outer, inner = tr.spans
    assert seconds["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert calls == {"outer": 1, "inner": 1}


def test_inputs_depend_only_on_scale():
    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert a["lineitem"].num_rows > a["orders"].num_rows > 0


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    return datagen.ensure(str(tmp_path_factory.mktemp("data") / "sf0.001"), 0.001)


def test_wrong_answer_is_counted_as_failure(tiny_data, tmp_path):
    """A result that differs from the oracle by one value fails its
    check, and every op of that kind then counts as failed."""
    from check_correctness import duck_connection
    from workloads import Dashboard

    wl = Dashboard(None, tiny_data, str(tmp_path), 0, Tracer(enabled=False))
    con = duck_connection(tiny_data)
    res = con.execute(wl.reg["q01_pricing_summary"].oracle)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    dtypes = [(c, {"l_returnflag": "string", "l_linestatus": "string", "n_rows": "bigint"}.get(c, "double")) for c in cols]
    assert wl.check_query("q01_pricing_summary", con, dtypes, rows)
    wrong = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    assert not wl.check_query("q01_pricing_summary", con, dtypes, wrong)
    assert not wl.check_query("q01_pricing_summary", con, dtypes, rows[1:])

    class Checked:
        def check(self):
            return {"q01_pricing_summary": False, "q09_topn_parts": True}

    records = [{"kind": k, "ok": True} for k in ("q01_pricing_summary", "q09_topn_parts", "q01_pricing_summary")]
    records.append({"kind": "q09_topn_parts", "ok": False})
    failed, _ = run.score(Checked(), records)
    assert failed == 3
