"""Traced-run report: per-layer self time and counts for each workload,
the tracing overhead, the repeatability of Spark's counters, and the
rankings of all 94 headline specs by jobs run while building and by
build share.

    python3 perfbench/report.py [--seed 7] [--seconds 8] [--out-dir perfbench/results]

Per workload it makes one untraced run and two traced runs on the same
seed.  Tracing overhead is the traced runs' mean op latency over the
untraced run's, minus one.  The counters ``spark.jobs`` and
``spark.shuffle_*_bytes`` of each op label (spec, day or tick) are
compared between the two traced runs.  The census is one traced pass
over all 94 specs (``run.py --workload all_specs``) after the warm-up
pass.  Writes ``REPORT.md`` and ``report.json`` to ``--out-dir``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
sys.path[:0] = [_ROOT]

from perfbench import workloads  # noqa: E402
from perfbench.layers import METRICS  # noqa: E402

REPEAT_KEYS = ("jobs", "shuffle_read_bytes", "shuffle_write_bytes")


def _run(workload: str, seed: int, seconds: int, trace: int, out: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(_HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--out", out],
        cwd=_ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n{proc.stderr[-3000:]}")
    with open(out) as f:
        return json.load(f)


def _mean_latency(res: dict) -> float:
    return res["timed_s"] / res["attempted"]


def _repeat(a: dict, b: dict) -> dict:
    """Labels whose Spark counters differ between two traced runs."""
    diffs = {}
    for label in sorted(set(a["per_label"]) & set(b["per_label"])):
        ra, rb = a["per_label"][label], b["per_label"][label]
        bad = {k: (ra[k], rb[k]) for k in REPEAT_KEYS if ra.get(k) != rb.get(k)}
        if bad:
            diffs[label] = bad
    return diffs


def _fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--out-dir", default=os.path.join(_HERE, "results"))
    args = ap.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(_ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    tmp = os.path.join(_ROOT, ".perfbench_work", f"report-{os.getpid()}")
    os.makedirs(tmp)
    report = {"seed": args.seed, "seconds": seconds, "workloads": {}}
    try:
        for w in workloads.WORKLOADS:
            u = _run(w, args.seed, seconds, 0, os.path.join(tmp, f"{w}-u.json"))
            t1 = _run(w, args.seed, seconds, 1, os.path.join(tmp, f"{w}-t1.json"))
            t2 = _run(w, args.seed, seconds, 1, os.path.join(tmp, f"{w}-t2.json"))
            traced = (_mean_latency(t1) + _mean_latency(t2)) / 2
            report["workloads"][w] = {
                "host": t1["host"],
                "untraced_mean_op_s": _mean_latency(u),
                "traced_mean_op_s": traced,
                "tracing_overhead": traced / _mean_latency(u) - 1,
                "ops": [u["attempted"], t1["attempted"], t2["attempted"]],
                "correct": [u["correct"], t1["correct"], t2["correct"]],
                "metrics": t1["metrics"],
                "metrics_run2": t2["metrics"],
                "by_span": t1["by_span"],
                "per_label": t1["per_label"],
                "counter_mismatches": _repeat(t1, t2),
            }
            print(f"{w}: overhead {report['workloads'][w]['tracing_overhead']:+.3f}", flush=True)
        census = _run("all_specs", args.seed, 0, 1, os.path.join(tmp, "census.json"))
        report["census"] = {
            "correct": census["correct"],
            "problems": census["problems"],
            "per_label": census["per_label"],
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(args.out_dir, exist_ok=True)
    with open(os.path.join(args.out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    with open(os.path.join(args.out_dir, "REPORT.md"), "w") as f:
        f.write(render(report))
    return 0


def render(report: dict) -> str:
    ws = report["workloads"]
    host = next(iter(ws.values()))["host"]
    out = [
        "# LogiFlow benchmark: traced-run report",
        "",
        f"Generated by `python3 perfbench/report.py --seed {report['seed']} "
        f"--seconds {report['seconds']}`. Host: {host['cpus']} CPUs, "
        f"{host['mem_total_mb']} MB, Spark {host['spark']}, PySpark {host['pyspark']}, "
        f"`local[{host['cpus']}]`, defaultParallelism {host['default_parallelism']}.",
        "",
        "Per-layer values are means per timed op (ratios are ratios of totals) "
        "from the first traced run. Layers a workload does not reach read 0.",
        "",
        "## Tracing overhead",
        "",
        "| workload | ops (untraced, traced, traced) | mean op untraced s | mean op traced s | overhead | outputs correct |",
        "|---|---|---|---|---|---|",
    ]
    for w, r in ws.items():
        out.append(
            f"| {w} | {', '.join(map(str, r['ops']))} | {r['untraced_mean_op_s']:.4f} | "
            f"{r['traced_mean_op_s']:.4f} | {r['tracing_overhead']:+.1%} | {all(r['correct'])} |"
        )
    out += ["", "One untraced run against two traced runs on the same seed: an overhead "
            "smaller than the run-to-run spread (`steadiness.md`), or below zero, is "
            "not resolved by these runs."]
    out += ["", "## Per-layer metrics", "", "| metric | unit | " + " | ".join(ws) + " |",
            "|---|---|" + "---|" * len(ws)]
    for m, unit in METRICS.items():
        out.append(f"| `{m}` | {unit} | " + " | ".join(_fmt(ws[w]["metrics"][m]) for w in ws) + " |")
    out += ["", "## Self time and counts per span, per op", ""]
    for w, r in ws.items():
        out += [f"### {w}", "", "| span | calls/op | self s/op | total s/op |", "|---|---|---|---|"]
        n = r["ops"][1]
        for name, s in sorted(r["by_span"].items(), key=lambda kv: -kv[1]["self_s"]):
            out.append(f"| `{name}` | {s['count'] / n:.3g} | {s['self_s'] / n:.4f} | {s['total_s'] / n:.4f} |")
        out.append("")
    out += ["## Repeatability of Spark counters", "",
            "`spark.jobs` and `spark.shuffle_*_bytes` per op label, first traced run vs second:", ""]
    for w, r in ws.items():
        mm = r["counter_mismatches"]
        out.append(f"- {w}: " + ("identical for every label" if not mm else f"differs: {json.dumps(mm)}"))
    rows = report["census"]["per_label"]
    out += ["", "## Census: all 94 headline specs, one traced pass after warm-up", "",
            f"Outputs correct: {report['census']['correct']}."]
    for name, bad in report["census"]["problems"].items():
        out.append(f"- `{name}` differs from its DuckDB oracle: {'; '.join(bad)}")
    out.append("")
    for key, title in (("jobs_in_build", "jobs run during `spec.build()`"),
                       ("build_share", "build share (build s / (build s + exec s))")):
        top = sorted(rows.items(), key=lambda kv: -kv[1][key])[:10]
        out += [f"### Top 10 by {title}", "",
                "| spec | jobs in build | jobs | build s | exec s | build share | shuffle write B |",
                "|---|---|---|---|---|---|---|"]
        for name, r in top:
            out.append(
                f"| {name} | {r['jobs_in_build']:.0f} | {r['jobs']:.0f} | {r['build_s']:.3f} | "
                f"{r['exec_s']:.3f} | {r['build_share']:.2f} | {r['shuffle_write_bytes']:.0f} |"
            )
        out.append("")
    tot = {k: sum(r[k] for r in rows.values()) for k in ("jobs", "jobs_in_build", "build_s", "exec_s")}
    out.append(
        f"Totals over {len(rows)} specs: {tot['jobs']:.0f} jobs ({tot['jobs_in_build']:.0f} during build), "
        f"{tot['build_s']:.1f} s build, {tot['exec_s']:.1f} s exec."
    )
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.exit(main())
