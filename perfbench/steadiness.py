"""Repeat the benchmark over seeds and summarise how steady each metric is.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads dashboard dedup_ann]
        [--trace] [--out perfbench/STEADINESS.md]

Runs ``run.py`` once per (workload, seed), one run at a time, and prints
(or writes) per metric the median, the quartiles from
``statistics.quantiles(values, n=4)`` and the spread (Q3 - Q1) / median,
next to the bound in BENCHMARK.json. Traced runs also record whether the
Spark job, stage and task counts per op repeat exactly across seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    *_, detail, result = proc.stdout.strip().splitlines()
    return {"wall_s": time.time() - t0, "detail": json.loads(detail)["detail"], **json.loads(result)}


def summarise(runs: list[dict], bounds: dict[str, float]) -> list[dict]:
    def spread(values: list[float]) -> tuple[float, float, float, float]:
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        return med, q1, q3, (q3 - q1) / med if med else 0.0

    rows = []
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med, q1, q3, sp = spread(values)
        unscaled = [r["detail"].get("unscaled", {}).get(name) for r in runs]
        rows.append(
            {
                "metric": name,
                "unit": runs[0]["metrics"][name]["unit"],
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": sp,
                "unscaled_spread": spread(unscaled)[3] if None not in unscaled else None,
                "bound": bounds.get(name),
                "repeats_exactly": len(set(values)) == 1,
            }
        )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", help="append the summary to this markdown file")
    ap.add_argument("--raw", help="append every run's output, one JSON line each, to this file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    lines = [f"Seeds {args.seeds}, --seconds {bench['run_seconds']}, --trace {int(args.trace)}, nproc {os.cpu_count()}.", ""]
    for wl in workloads:
        runs = []
        for seed in seeds(args.seeds):
            runs.append(run_once(wl, seed, bench["run_seconds"], args.trace))
            if args.raw:
                with open(args.raw, "a") as f:
                    f.write(json.dumps(runs[-1]) + "\n")
        walls = [r["wall_s"] for r in runs]
        host = "" if args.trace else (
            f"calibration median {statistics.median(r['detail']['cal_median_s'] for r in runs):.4f} s, "
            f"stolen share median {statistics.median(r['detail']['stolen_share'] for r in runs):.4f}, "
        )
        lines += [
            f"## {wl}",
            "",
            f"runs {len(runs)}, correct {sum(r['correct'] for r in runs)}/{len(runs)}, "
            f"failed ops {sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)}, "
            f"run wall median {statistics.median(walls):.1f} s (max {max(walls):.1f} s), "
            f"load proxy median {statistics.median(r['detail']['load_proxy_s'] for r in runs):.3f} s, "
            f"io proxy median {statistics.median(r['detail']['io_proxy_s'] for r in runs):.3f} s, "
            f"{host}tail {runs[0]['detail']['op_tail']}",
            "",
            "| metric | unit | median | Q1 | Q3 | spread | bound | spread unscaled | repeats exactly |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for row in summarise(runs, bounds):
            bound = "" if row["bound"] is None else f"{row['bound']:.2f}"
            unscaled = "" if row["unscaled_spread"] is None else f"{row['unscaled_spread']:.3f}"
            lines.append(
                f"| {row['metric']} | {row['unit']} | {row['median']:.6g} | {row['q1']:.6g} | {row['q3']:.6g} "
                f"| {row['spread']:.3f} | {bound} | {unscaled} | {'yes' if row['repeats_exactly'] else 'no'} |"
            )
        lines.append("")
        print("\n".join(lines[-(len(runs[0]['metrics']) + 6):]), flush=True)
    text = "\n".join(lines)
    if args.out:
        with open(args.out, "a") as f:
            f.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
