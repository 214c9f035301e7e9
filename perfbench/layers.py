"""Per-layer instrumentation for traced runs.

``Layers.install`` replaces the package's layer entry points with
tracing wrappers, in every module that binds them:

=====================  =================================================
layer (module)         wrapped calls
=====================  =================================================
catalog                ``read_parquet_table``, ``load_tables``
functions.spread       ``spread_scan``
sources.readers        ``load_csv``
operators.validators   ``DataValidator.validate``
sources.sinks          ``upsert_parquet``, ``log_etl_run``
=====================  =================================================

The benchmark times ``get_spark`` itself and adds its own spans around
what it calls directly: ``plans.build`` / ``plans.exec`` (query ops),
the ``pipeline.*`` callables it hands to ``ETLPipeline``, and
``ingest.start`` / ``ingest.await`` (stream ops).  Every op runs under
its own Spark job group; readers and validators calls, and the build
and exec phases of a query, get nested groups so their jobs are
counted apart.
"""

from __future__ import annotations

import os
from collections import defaultdict
from contextlib import contextmanager

from . import sparkstats
from .trace import Tracer, patch, self_times, unpatch

PKG = "data_engineering_for_e_commerce_logistics_spark"

# Every per-layer metric, in the order BENCHMARK.json lists them.
METRICS = {
    "session.get_spark_s": "s",
    "catalog.read_calls": "count",
    "catalog.read_s": "s",
    "catalog.memo_hit_ratio": "ratio",
    "spread.calls": "count",
    "spread.driver_s": "s",
    "spread.fanout_ratio": "ratio",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_share": "ratio",
    "plans.jobs_in_build": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.validate_s": "s",
    "pipeline.load_s": "s",
    "pipeline.runlog_s": "s",
    "readers.load_csv_s": "s",
    "readers.jobs": "count",
    "validators.validate_s": "s",
    "validators.jobs": "count",
    "sinks.upsert_s": "s",
    "sinks.upsert_calls": "count",
    "sinks.bytes_written": "B",
    "sinks.write_amp": "ratio",
    "sinks.files": "count",
    "ingest.start_s": "s",
    "ingest.trigger_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.planning_ms": "ms",
    "ingest.wal_commit_ms": "ms",
    "ingest.input_rows": "count",
    "ingest.state_rows": "count",
    "ingest.state_bytes": "B",
    "ingest.checkpoint_bytes": "B",
    "trace.spans_per_op": "count",
    "driver.peak_rss_mb": "MB",
}


class _TracedValidator:
    """Hands ``ETLPipeline`` a validator whose ``validate`` is a span."""

    def __init__(self, layers: Layers, name: str, inner):
        self._layers, self._name, self._inner = layers, name, inner

    def validate(self, df):
        with self._layers.stage(self._name):
            return self._inner.validate(df)


class Layers:
    def __init__(self, spark, get_spark_s: float):
        self.sc = spark.sparkContext
        self.get_spark_s = get_spark_s
        self.tracer = Tracer()
        self._undo: list = []
        self._groups: list[str] = []
        self._group_seq = 0
        self.ops: list[dict] = []

    # --- wrappers -------------------------------------------------------

    @contextmanager
    def stage(self, name: str, jobs_tag: str | None = None):
        """A span; with ``jobs_tag`` also a nested job group whose jobs
        are counted for this span."""
        with self.tracer.span(name) as sp:
            if jobs_tag is None or self.tracer.op is None:
                yield sp
                return
            self._group_seq += 1
            group = f"perfbench-{self.tracer.op}-{jobs_tag}-{self._group_seq}"
            sp.group = group
            self._groups.append(group)
            with sparkstats.job_group(self.sc, group):
                yield sp

    def wrap_stage(self, name: str, fn, jobs_tag: str | None = None):
        def wrapper(*args, **kwargs):
            with self.stage(name, jobs_tag):
                return fn(*args, **kwargs)

        return wrapper

    def wrap_validator(self, name: str, validator) -> _TracedValidator:
        return _TracedValidator(self, name, validator)

    def install(self) -> None:
        from data_engineering_for_e_commerce_logistics_spark import catalog
        from data_engineering_for_e_commerce_logistics_spark.functions import spread
        from data_engineering_for_e_commerce_logistics_spark.operators import validators
        from data_engineering_for_e_commerce_logistics_spark.sources import readers, sinks

        read_orig = catalog.read_parquet_table

        def read_parquet_table(spark, path):
            key = (spark.sparkContext.applicationId, id(spark), path)
            hit = key in catalog._SCAN_CACHE
            with self.tracer.span("catalog.read_parquet_table") as sp:
                sp.hit = hit
                return read_orig(spark, path)

        spread_orig = spread.spread_scan

        def spread_scan(df, *args, **kwargs):
            with self.tracer.span("spread.spread_scan") as sp:
                out = spread_orig(df, *args, **kwargs)
                sp.fanout = out is not df
            return out

        upsert_orig = sinks.upsert_parquet

        def upsert_parquet(spark, updates, path, *args, **kwargs):
            with self.tracer.span("sinks.upsert_parquet") as sp:
                out = upsert_orig(spark, updates, path, *args, **kwargs)
            sp.bytes = _tree_bytes(path)
            return out

        validate_orig = validators.DataValidator.validate

        def validate(validator, df):
            with self.stage("validators.validate", jobs_tag="validators"):
                return validate_orig(validator, df)

        swaps = [
            (catalog.read_parquet_table, read_parquet_table),
            (catalog.load_tables, self.tracer.wrap("catalog.load_tables", catalog.load_tables)),
            (spread.spread_scan, spread_scan),
            (readers.load_csv, self.wrap_stage("readers.load_csv", readers.load_csv, "readers")),
            (sinks.upsert_parquet, upsert_parquet),
            (sinks.log_etl_run, self.tracer.wrap("pipeline.runlog", sinks.log_etl_run)),
        ]
        for orig, repl in swaps:
            self._undo += patch(PKG, orig, repl)
        validators.DataValidator.validate = validate
        self._undo.append((validators.DataValidator, "validate", validate_orig))

    def uninstall(self) -> None:
        unpatch(self._undo)
        self._undo = []

    # --- ops --------------------------------------------------------------

    @contextmanager
    def op(self, i: int, label: str):
        """One timed op: root span, op job group, and afterwards (outside
        the caller's timing) the op's Spark counters."""
        self._groups = [f"perfbench-{i}-op"]
        rec = {"op": i, "label": label}
        with self.tracer.op_span(i) as root:
            with sparkstats.job_group(self.sc, self._groups[0]):
                yield rec
        rec["wall_s"] = root.end - root.start
        self.ops.append(rec)

    def finish_op(self, rec: dict, workload) -> None:
        """Collect what the op left behind; runs after the op's timing."""
        groups = list(self._groups)
        query = getattr(workload, "query", None)
        if query is not None:
            groups.append(str(query.runId))
            rec["ingest"] = _progress(query.recentProgress)
            rec["ingest"]["checkpoint_bytes"] = _tree_bytes(workload.checkpoint_dir())
            workload.query = None
        sparkstats.drain(self.sc)
        rec["spark"] = sparkstats.counters(self.sc, groups)
        spans = [s for s in self.tracer.spans if s.op == rec["op"]]
        group_jobs = defaultdict(float)
        for s in spans:
            if getattr(s, "group", None):
                group_jobs[s.name] += len(sparkstats.job_ids(self.sc, [s.group]))
        rec["jobs_by_span"] = dict(group_jobs)
        if hasattr(workload, "sink_dirs"):
            files = 0
            for d in workload.sink_dirs():
                files += _tree_files(d)
            rec["sink_files"] = files
            rec["input_bytes"] = workload.op_input_bytes(rec["op"])

    # --- metrics ------------------------------------------------------------

    def metrics(self) -> tuple[dict[str, float], dict]:
        """Per-op means over the timed ops (ratios are ratios of totals),
        and a per-span-name breakdown of self time and counts."""
        n = max(1, len(self.ops))
        spans = self.tracer.spans
        own = self_times(spans)
        timed = [s for s in spans if s.op is not None]
        dur = defaultdict(float)
        selft = defaultdict(float)
        count = defaultdict(int)
        for s in timed:
            dur[s.name] += s.end - s.start
            selft[s.name] += own[s.sid]
            count[s.name] += 1
        reads = [s for s in timed if s.name == "catalog.read_parquet_table"]
        spreads = [s for s in timed if s.name == "spread.spread_scan"]
        upserts = [s for s in timed if s.name == "sinks.upsert_parquet"]
        spark_tot = defaultdict(float)
        jobs_by_span = defaultdict(float)
        ingest_tot = defaultdict(float)
        for rec in self.ops:
            for k, v in rec.get("spark", {}).items():
                spark_tot[k] += v
            for k, v in rec.get("jobs_by_span", {}).items():
                jobs_by_span[k] += v
            for k, v in rec.get("ingest", {}).items():
                ingest_tot[k] += v
        build, exe = dur["plans.build"], dur["plans.exec"]
        input_bytes = sum(rec.get("input_bytes", 0) for rec in self.ops)
        written = sum(getattr(s, "bytes", 0) for s in upserts)
        m = {
            "session.get_spark_s": self.get_spark_s,
            "catalog.read_calls": len(reads) / n,
            "catalog.read_s": (selft["catalog.read_parquet_table"] + selft["catalog.load_tables"]) / n,
            "catalog.memo_hit_ratio": sum(getattr(s, "hit", False) for s in reads) / len(reads) if reads else 0.0,
            "spread.calls": len(spreads) / n,
            "spread.driver_s": selft["spread.spread_scan"] / n,
            "spread.fanout_ratio": sum(getattr(s, "fanout", False) for s in spreads) / len(spreads) if spreads else 0.0,
            "plans.build_s": build / n,
            "plans.exec_s": exe / n,
            "plans.build_share": build / (build + exe) if build + exe else 0.0,
            "plans.jobs_in_build": jobs_by_span["plans.build"] / n,
            "pipeline.extract_s": dur["pipeline.extract"] / n,
            "pipeline.transform_s": dur["pipeline.transform"] / n,
            "pipeline.validate_s": dur["pipeline.validate"] / n,
            "pipeline.load_s": dur["pipeline.load"] / n,
            "pipeline.runlog_s": dur["pipeline.runlog"] / n,
            "readers.load_csv_s": dur["readers.load_csv"] / n,
            "readers.jobs": jobs_by_span["readers.load_csv"] / n,
            "validators.validate_s": dur["validators.validate"] / n,
            "validators.jobs": jobs_by_span["validators.validate"] / n,
            "sinks.upsert_s": dur["sinks.upsert_parquet"] / n,
            "sinks.upsert_calls": len(upserts) / n,
            "sinks.bytes_written": written / n,
            "sinks.write_amp": written / input_bytes if input_bytes else 0.0,
            "sinks.files": sum(rec.get("sink_files", 0) for rec in self.ops) / n,
            "ingest.start_s": dur["ingest.start"] / n,
            "trace.spans_per_op": len(timed) / n,
        }
        for k in sparkstats.COUNTERS:
            m[f"spark.{k}"] = spark_tot[k] / n
        for k in ("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms",
                  "input_rows", "state_rows", "state_bytes", "checkpoint_bytes"):
            m[f"ingest.{k}"] = ingest_tot[k] / n
        by_span = {
            name: {"count": count[name], "self_s": selft[name], "total_s": dur[name]}
            for name in sorted(count)
        }
        return m, by_span

    def per_label(self) -> dict[str, dict[str, float]]:
        """Per spec (or day / tick): mean build and exec seconds and Spark
        counters, for the report's rankings."""
        acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        n: dict[str, int] = defaultdict(int)
        for rec in self.ops:
            lab = rec["label"]
            n[lab] += 1
            a = acc[lab]
            a["wall_s"] += rec["wall_s"]
            for k, v in rec.get("spark", {}).items():
                a[k] += v
            a["jobs_in_build"] += rec.get("jobs_by_span", {}).get("plans.build", 0)
        labels = {rec["op"]: rec["label"] for rec in self.ops}
        for s in self.tracer.spans:
            if s.op in labels and s.name in ("plans.build", "plans.exec"):
                acc[labels[s.op]][s.name[6:] + "_s"] += s.end - s.start
        out = {}
        for lab, a in acc.items():
            row = {k: v / n[lab] for k, v in a.items()}
            b, e = row.get("build_s", 0.0), row.get("exec_s", 0.0)
            row["build_share"] = b / (b + e) if b + e else 0.0
            row["ops"] = n[lab]
            out[lab] = row
        return out


def _progress(progress: list[dict]) -> dict[str, float]:
    """Sum the op's micro-batches; state size is the last batch's."""
    out = defaultdict(float)
    for p in progress:
        d = p.get("durationMs", {})
        out["trigger_ms"] += d.get("triggerExecution", 0)
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["planning_ms"] += d.get("queryPlanning", 0)
        out["wal_commit_ms"] += d.get("walCommit", 0)
        out["input_rows"] += p.get("numInputRows", 0)
    if progress:
        ops = progress[-1].get("stateOperators") or [{}]
        out["state_rows"] = ops[0].get("numRowsTotal", 0)
        out["state_bytes"] = ops[0].get("memoryUsedBytes", 0)
    return dict(out)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _tree_files(path: str) -> int:
    return sum(1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
