"""Compare two steadiness records (``steady.py --out``) metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

For every workload and end-to-end metric in both records it prints the
two medians, the change as a share of the base median (positive =
worse, by the metric's ``better`` direction in BENCHMARK.json) and a
verdict against the metric's bound:

* ``ok``         -- not worse than the base by more than the bound;
* ``worse``      -- worse by more than the bound;
* ``unresolved`` -- the base's own spread is wider than the bound, so
  the medians cannot be told apart.

It refuses (exit code 2) to compare records taken on hosts with a
different number of CPUs: the engine runs on ``local[<cpus>]``, so such
runs measure different configurations.  Exit code 1 means some metric
is ``worse``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))


def _cpus(record: dict) -> set[int]:
    return {
        run["host"]["cpus"]
        for w in record["workloads"].values()
        for run in w["runs"]
    }


def compare(base: dict, new: dict, spec: dict) -> tuple[list[dict], str | None]:
    """Rows of the comparison, or a refusal reason."""
    cpus = _cpus(base) | _cpus(new)
    if len(cpus) != 1:
        return [], f"runs were taken at different CPU counts {sorted(cpus)}; not comparable"
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    rows = []
    for w in sorted(set(base["workloads"]) & set(new["workloads"])):
        bs, ns = base["workloads"][w]["summary"], new["workloads"][w]["summary"]
        for name, m in metrics.items():
            if name not in bs or name not in ns:
                continue
            b, n = bs[name]["median"], ns[name]["median"]
            change = (n - b) / b
            if m["better"] == "higher":
                change = -change
            if change > m["bound"]:
                verdict = "worse"
            elif name != "setup_s" and bs[name]["spread"] > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "ok"
            rows.append({
                "workload": w, "metric": name, "unit": m["unit"], "base": b,
                "new": n, "worse_by": change, "bound": m["bound"], "verdict": verdict,
            })
    return rows, None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(_HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(args.base) as f:
        base = json.load(f)
    with open(args.new) as f:
        new = json.load(f)
    rows, refusal = compare(base, new, spec)
    if refusal:
        print(f"REFUSED: {refusal}")
        return 2
    for r in rows:
        print(f"{r['workload']:18s} {r['metric']:12s} base={r['base']:.4g} new={r['new']:.4g} "
              f"{r['unit']} worse_by={r['worse_by']:+.3f} bound={r['bound']} {r['verdict']}")
    return 1 if any(r["verdict"] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
