"""Run one LogiFlow benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The run makes its inputs from the seed
under ``.perfbench_work/`` (removed when it ends), starts Spark on
``local[<cpus>]``, runs an untimed warm-up pass, then runs one op at a
time (a closed loop with one client): a fixed number of ops, sized so
the timed part lasts about ``--seconds`` on a 4-CPU host
(``workloads.timed_ops``).  Every op's output is checked outside the
timed region.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it give the host fingerprint, the sample count and any
check failures.  ``--out FILE`` also writes the whole result (per-op
records, per-spec rows, span totals) as JSON, and with ``--trace 1``
the spans themselves to ``FILE.spans.json``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

_ROOT = os.getcwd()
sys.path[:0] = [_ROOT]

from perfbench import host, stats, workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}


def _start_spark(work: str, cpus: int):
    """The engine's session on local[cpus], with every scratch file Spark
    and the JVM write kept inside the run's work directory."""
    from data_engineering_for_e_commerce_logistics_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": local,
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    cpus = host.cpus()
    work = os.path.join(_ROOT, ".perfbench_work", f"{workload_name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # The JVM that spark-submit runs to build the driver's command line
    # would otherwise leave an hsperfdata directory in the system temp dir.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    fingerprint = host.fingerprint_start()
    spark = None
    w = workloads.make(workload_name)
    try:
        t = time.perf_counter()
        w.prepare(work, seed)
        gen_s = time.perf_counter() - t

        layers = None
        t = time.perf_counter()
        spark = _start_spark(work, cpus)
        get_spark_s = time.perf_counter() - t
        if trace:
            from perfbench.layers import Layers

            layers = Layers(spark, get_spark_s)
            layers.install()
        w.warmup(spark, layers)
        setup_s = time.perf_counter() - _T0 - gen_s

        latencies: list[float] = []
        problems: dict[str, list[str]] = {}
        failed = 0
        timed = 0.0
        for i in range(workloads.timed_ops(w, seconds)):
            label = w.label(i)
            if hasattr(w, "before_op"):
                w.before_op(i)
            error = None
            t = time.perf_counter()
            try:
                if layers is None:
                    w.run_op(spark, i, None)
                else:
                    with layers.op(i, label) as rec:
                        w.run_op(spark, i, layers)
            except Exception as exc:
                error = f"{type(exc).__name__}: {exc}"
            dt = time.perf_counter() - t
            if layers is not None and error is None:
                layers.finish_op(rec, w)
            timed += dt
            latencies.append(dt)
            bad = [error] if error else w.check_op(i)
            if bad:
                failed += 1
                problems.setdefault(label, bad)
        warm_bad = getattr(w, "warm_problems", [])
        if warm_bad:
            problems["warmup"] = warm_bad
        rss = host.peak_rss_mb(spark)
        result = {
            "peak_rss_mb": rss,
            "workload": workload_name,
            "seed": seed,
            "trace": int(trace),
            "host": fingerprint,
            "timed_s": timed,
            "gen_s": gen_s,
            "latencies": latencies,
            "problems": problems,
            "attempted": len(latencies),
            "failed": failed,
            "correct": failed == 0 and not problems,
        }
        tail = stats.tail_percentile(len(latencies))
        result["tail"] = {
            "pct": tail,
            "s": stats.percentile(latencies, tail) if tail else None,
        }
        if layers is None:
            result["metrics"] = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(latencies),
                "ops_per_s": len(latencies) / timed,
            }
            result["units"] = dict(END_TO_END)
        else:
            from perfbench.layers import METRICS

            m, by_span = layers.metrics()
            m["driver.peak_rss_mb"] = rss
            result["metrics"] = m
            result["units"] = dict(METRICS)
            result["by_span"] = by_span
            result["per_label"] = layers.per_label()
            result["op_records"] = layers.ops
            result["spans"] = layers.tracer.dump()
            layers.uninstall()
        result["host"].update(host.fingerprint_end(spark))
    finally:
        if hasattr(w, "close"):
            w.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # other runs' work directories are still there
            pass
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS + workloads.PARTS + ("all_specs",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full result JSON here")
    args = ap.parse_args(argv)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 2
    spans = res.pop("spans", None)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        if spans is not None:
            with open(args.out + ".spans.json", "w") as f:
                json.dump(spans, f)
    print("host " + json.dumps(res["host"], sort_keys=True))
    tail = res["tail"]
    print(
        f"{res['workload']} seed={res['seed']} trace={res['trace']} ops={res['attempted']} "
        f"timed_s={res['timed_s']:.3f} tail=p{tail['pct']}:{tail['s']}"
    )
    for label, bad in res["problems"].items():
        print(f"CHECK FAILED {label}: {'; '.join(bad)[:500]}")
    print(
        f"failed_ops_frac={res['failed'] / res['attempted']:.4f} "
        f"({res['failed']}/{res['attempted']})"
    )
    metrics = {
        k: {"value": v, "unit": res["units"][k]} for k, v in res["metrics"].items()
    }
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
