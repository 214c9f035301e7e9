"""Steadiness record: run each workload N times with different seeds and
report every end-to-end metric's median, quartiles and spread.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--seconds 8]
        [--first-seed 100] [--out perfbench/results/steadiness.json]

Runs are sequential (one Spark session on the host at a time).  Spread
is (q3 - q1) / median with the quartiles ``statistics.quantiles(values,
n=4)`` gives.  The JSON written holds every run's result line, so
``compare.py`` can compare two records.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(_HERE)]

from perfbench import stats, workloads  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, float]:
    """One benchmark run in its own process: (its ``--out`` result, wall
    seconds).  The result line's metrics are the ``metrics`` key."""
    tmp = os.path.join(os.path.dirname(_HERE), ".perfbench_work", f"steady-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(tmp, "result.json")
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(_HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--out", out],
        cwd=os.path.dirname(_HERE),
        capture_output=True,
        text=True,
        timeout=600,
    )
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(tmp)
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    result["metrics"] = line["metrics"]
    return result, wall


def summarize(runs: list[dict]) -> dict[str, dict]:
    by_metric: dict[str, list[float]] = {}
    for r in runs:
        for k, v in r["metrics"].items():
            by_metric.setdefault(k, []).append(v["value"])
    return {k: stats.quartile_spread(vals) | {"n": len(vals)} for k, vals in by_metric.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(workloads.WORKLOADS))
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(_HERE), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    record = {"seconds": seconds, "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for k in range(args.runs):
            seed = args.first_seed + k
            res, wall = run_once(w, seed, seconds)
            res["seed"], res["wall_s"] = seed, wall
            runs.append(res)
            vals = " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items())
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  f"ops={res['attempted']} {vals}", flush=True)
            res.pop("op_records", None)
        summary = summarize(runs)
        record["workloads"][w] = {"runs": runs, "summary": summary}
        for m, s in summary.items():
            print(f"  {w} {m}: median={s['median']:.4g} q1={s['q1']:.4g} "
                  f"q3={s['q3']:.4g} spread={s['spread']:.3f}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        with open(os.path.splitext(args.out)[0] + ".md", "w") as f:
            f.write(render(record))
    return 0


def render(record: dict) -> str:
    runs = [r for w in record["workloads"].values() for r in w["runs"]]
    host = runs[0]["host"]
    out = [
        "# Steadiness record",
        "",
        f"{len(runs)} runs of `run.py --seconds {record['seconds']} --trace 0`, one seed each, "
        f"sequential, on {host['cpus']} CPUs / {host['mem_total_mb']} MB, Spark {host['spark']}. "
        "Spread = (q3 - q1) / median, quartiles from `statistics.quantiles(values, n=4)`.",
        "",
        "| workload | metric | n | median | q1 | q3 | spread | runs correct | ops per run | wall s (median) |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for w, rec in record["workloads"].items():
        ok = sum(r["correct"] for r in rec["runs"])
        ops = sorted({r["attempted"] for r in rec["runs"]})
        wall = stats.quartile_spread([r["wall_s"] for r in rec["runs"]])["median"]
        for m, s in rec["summary"].items():
            out.append(
                f"| {w} | `{m}` | {s['n']} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                f"{s['spread']:.3f} | {ok}/{len(rec['runs'])} | {', '.join(map(str, ops))} | {wall:.1f} |"
            )
    seeds = [r["seed"] for r in runs]
    out += ["", f"Seeds {min(seeds)}..{max(seeds)}."]
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.exit(main())
