"""Run the benchmark over many seeds and summarise its spread.

    python3 perfbench/prove.py --runs 10 --traced 2 --out spread.json

For each workload this runs ``run.py`` once per seed (untraced), then
``--traced`` traced runs, one after the other, and writes every run's
result, with its sample counts and each request's CPU and wall time. Per
end-to-end metric it adds the median, quartiles and their spread
(``statistics.quantiles(values, n=4)``, as a share of the median), and the
same for the timings of the detail record (``main_op_ms``,
``main_op_cpu_ms``, ``cpu_ms_per_op``), which are not gated. The tracing
overhead of each timing is the traced runs' median ``trace.<timing>`` over
the untraced median, minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

# timings of the run record, summarised beside the gated metrics
UNGATED = ("main_op_ms", "main_op_cpu_ms", "cpu_ms_per_op")


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "trace": trace, "rc": proc.returncode,
                "wall_s": wall, "stderr": proc.stderr[-2000:]}
    out = json.loads(lines[-1])
    info = json.loads(lines[-2])
    detail = info["detail"]
    # the per-request samples behind the run's medians: per kind of request
    # (serve) or per pillar (pipeline)
    return {"seed": seed, "trace": trace, "rc": 0, "wall_s": wall,
            "correct": out["correct"], "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "main_op_ms": detail["main_op_ms"],
            "main_op_cpu_ms": detail["main_op_cpu_ms"],
            "cpu_ms_per_op": detail["cpu_ms_per_op"],
            "units": detail.get("blocks", detail.get("passes")),
            "samples": detail["samples"],
            "cpu_s": detail.get("cpu_s", detail.get("pillar_cpu_runs_s")),
            "latency_s": detail.get("latency_s",
                                    detail.get("pillar_runs_s")),
            "py4j_calls": detail.get("py4j_calls",
                                     detail.get("pillar_py4j_calls")),
            "jobs": detail.get("jobs", detail.get("pillar_jobs")),
            "calibration": info["calibration"],
            "problems": info["problems"]}


def summarise(runs: list[dict], names: list[str]) -> dict:
    ok = [r for r in runs if r["rc"] == 0]
    if len(ok) < 2:
        return {}
    out = {name: stats.quartiles([r["metrics"][name] for r in ok])
           for name in names}
    for key in UNGATED:
        out[f"{key} (not gated)"] = stats.quartiles([r[key] for r in ok])
    return out


def overhead(traced: list[dict], summary: dict, key: str, base: str):
    ok = [r["metrics"][key] for r in traced if r["rc"] == 0]
    if not ok or base not in summary:
        return None
    return stats.median(ok) / summary[base]["median"] - 1.0


def main(argv: list[str]) -> int:
    spec = bench()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    e2e = [m["name"] for m in spec["end_to_end"]]
    report = {"seconds": args.seconds, "workloads": {}}
    for workload in args.workloads:
        runs = []
        for i in range(args.runs):
            runs.append(one_run(workload, args.first_seed + i,
                                args.seconds, 0))
            print(json.dumps({workload: runs[-1].get("metrics"),
                              "wall_s": round(runs[-1]["wall_s"], 1),
                              "rc": runs[-1]["rc"]}), flush=True)
        traced = [one_run(workload, args.first_seed + i, args.seconds, 1)
                  for i in range(args.traced)]
        summary = summarise(runs, e2e)
        over = {
            key: overhead(traced, summary, f"trace.{key}",
                          f"{key} (not gated)") for key in UNGATED}
        report["workloads"][workload] = {
            "summary": summary, "tracing_overhead": over,
            "failed_runs": sum(r["rc"] != 0 or not r.get("correct")
                               for r in runs + traced),
            "runs": runs, "traced_runs": traced}
        for name, q in summary.items():
            print(f"{workload:9s} {name:28s} median {q['median']:10.3f}  "
                  f"q1 {q['q1']:10.3f}  q3 {q['q3']:10.3f}  "
                  f"spread {q['spread']:.3f}", flush=True)
        print(f"{workload:9s} tracing overhead: {over}", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
