"""The closed-loop workloads.

A workload makes its inputs from the seed (``prepare``), runs an
untimed warm-up (``warmup``), then the run loop calls ``run_op`` for
op 0, 1, ... one at a time, checking each op's output outside the
timed region (``check_op``).

A run does a fixed number of ops (``timed_ops``), sized from the run's
seconds and the workload's nominal seconds per op (``op_s``, measured
on a 4-CPU host), and rounded to whole cycles (``cycle``) -- one pass
over the query workload's specs.  Fixed work per run matters here: the
JVM keeps compiling hot driver code for the first minute or so of a
run, so a time-bound loop would time a different stretch of that
warm-up curve on a faster or slower run.

The benchmark's workloads are ``WORKLOADS``: ``registry_queries`` and
``etl_stream``, whose op is one ``etl_load`` op followed by one
``stream_refresh`` op.  Those two also run on their own (``make``), to
look at one layer at a time."""

from __future__ import annotations

import os
import random
import shutil

from . import checks, gen
from .layers import Layers

# The 94 bench-headline specs, split by the module that builds them.
# warehouse_queries: views and the relational / analytics / cleaning /
# function query modules.
WAREHOUSE_SPECS = (
    "pricing_summary", "v_order_summary", "v_delivery_performance",
    "dedup_variants_lineitem", "fill_strategies_events", "ffill_bfill_events",
    "interpolate_events", "derived_lineitem", "customer_running_spend",
    "events_hourly_rollup", "validate_orders", "events_sessionize",
    "binary_features", "quantiles_lineitem", "top_orders",
    "grouping_sets_orders", "pivot_orders", "set_semi_anti_ops",
    "upsert_orders", "cascade_delete_orders", "q3_shipping_priority",
    "asof_events_orders", "window_time_orders", "array_functions_documents",
    "scd2_customer", "customer_spend_slope", "correlated_above_avg_orders",
    "repeat_orders_7d", "histogram_orders", "group_quantiles_events",
    "unpivot_lineitem", "cohort_retention", "funnel_events", "rfm_segments",
    "events_gapfill_hourly", "events_zscore_outliers", "basket_pairs",
    "ivm_spend_refresh", "salted_rollup_events", "customer_rolling_7d_spend",
    "order_value_deciles", "sketch_bounds_events", "bloom_semi_lineitem",
    "zorder_orders", "upsert_bloom_orders", "manifest_pruned_orders",
    "profile_lineitem", "coerce_timestamps_orders", "normalize_strings_customer",
    "drop_missing_events", "map_functions_events", "json_extract_events",
    "explode_document_tokens", "agg_cardinality_lineitem",
    "struct_flatten_roundtrip", "region_nation_list", "sql_api_params",
    "sketch_aggregates_events", "tpch_join_suite",
)
# corpus_dedup: the corpus / extended / graph query modules.
CORPUS_SPECS = (
    "dedup_exact_documents", "scalar_functions_part", "ngram_frequencies",
    "corpus_quality_funnel", "corpus_repetition", "corpus_tfidf_topk",
    "pii_redact_customer", "corpus_pack_sequences", "supplier_pagerank",
    "graph_triangle_count", "corpus_lm_quality", "corpus_chunk_documents",
    "semdedup_trained_pairs", "semdedup_routed_pairs",
    "embedding_retrieval_suite", "text_analysis_suite",
    "incremental_semdedup_fresh", "bpe_merges_documents", "corpus_split_suite",
    "bpe_encode_documents", "corpus_span_dedup", "dedup_simhash_suite",
    "training_corpus_report", "semdedup_suite", "minhash_cluster_suite",
    "kmeans_suite", "corpus_export_suite", "corpus_mix_suite",
    "ann_assign_suite", "pq_suite", "ivfpq_suite", "incremental_pq_fresh",
    "incremental_dedup_suite", "quality_calibrate_domains", "corpus_decon_suite",
)

# The specs a timed registry_queries run cycles through.  A run lasts
# seconds, so it times a fixed subset that holds both sides of the
# engine's query cost: spread_scan fan-out sites (pricing_summary,
# text_analysis_suite, semdedup_suite), builders that run Spark jobs
# while building (quantiles_lineitem; supplier_pagerank's eager count;
# kmeans_suite's refinement loop) and plain short queries with neither
# (top_orders, events_hourly_rollup).  ``report.py`` times all 94 once.
TIMED_SPECS = (
    "pricing_summary", "quantiles_lineitem", "top_orders", "events_hourly_rollup",
    "text_analysis_suite", "semdedup_suite", "supplier_pagerank", "kmeans_suite",
)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class QueryWorkload:
    """Each op builds one registry spec and writes it to the noop sink.

    The warm-up pass collects every spec once and compares it with its
    DuckDB oracle; a spec that fails there fails every timed op."""

    op_s = 0.5

    def __init__(self, name: str, spec_names: tuple[str, ...]):
        self.name = name
        self.spec_names = spec_names

    def prepare(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "star")
        gen.write_star_schema(self.data_dir, seed)
        self.order = list(self.spec_names)
        random.Random(seed).shuffle(self.order)
        self.cycle = len(self.order)
        self.problems: dict[str, list[str]] = {}

    def warmup(self, spark, layers: Layers | None) -> None:
        from data_engineering_for_e_commerce_logistics_spark.plans.registry import all_specs

        self.specs = all_specs()
        conn = checks.star_connection(self.data_dir)
        try:
            for name in self.order:
                spec = self.specs[name]
                try:
                    pdf = spec.build(spark, self.data_dir).toPandas()
                    self.problems[name] = checks.check_spec(pdf, spec.oracle, conn)
                except Exception as exc:  # a failing spec is reported, not fatal
                    self.problems[name] = [f"{type(exc).__name__}: {exc}"]
        finally:
            conn.close()

    def label(self, i: int) -> str:
        return self.order[i % self.cycle]

    def run_op(self, spark, i: int, layers: Layers | None) -> None:
        spec = self.specs[self.label(i)]
        if layers is None:
            df = spec.build(spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            return
        with layers.stage("plans.build", jobs_tag="build"):
            df = spec.build(spark, self.data_dir)
        with layers.stage("plans.exec", jobs_tag="exec"):
            df.write.format("noop").mode("overwrite").save()

    def check_op(self, i: int) -> list[str]:
        return self.problems.get(self.label(i), [])


class EtlWorkload:
    """Each op is one ``ETLPipeline.run`` over the next day's CSV
    increment, upserting into a warehouse that keeps growing.  The
    warm-up loads day 0; timed ops load days 1, 2, ...  After the last
    generated day the warehouse starts empty again at day 0."""

    name = "etl_load"
    DAYS = 10
    ORDERS_PER_DAY = 5000
    op_s = 3.0
    cycle = 1
    oracle = None

    def prepare(self, work: str, seed: int) -> None:
        self.days = gen.write_etl_days(
            os.path.join(work, "etl_in"), seed, self.DAYS, self.ORDERS_PER_DAY
        )
        self.wh = os.path.join(work, "warehouse")
        self.oracle = checks.WarehouseOracle(self.days)
        self.expected: dict[int, dict] = {}

    def _pipeline(self, spark, day: int, layers: Layers | None):
        from data_engineering_for_e_commerce_logistics_spark.operators import domain, validators
        from data_engineering_for_e_commerce_logistics_spark.plans.pipeline import ETLPipeline
        from data_engineering_for_e_commerce_logistics_spark.sources import readers, sinks

        paths = self.days[day]
        keys = {"orders": ["order_id"], "order_items": ["order_id", "product_id"]}

        def extract(entity, schema):
            return lambda s: readers.load_csv(s, paths[entity], schema)

        def load(entity, df):
            return sinks.upsert_parquet(spark, df, os.path.join(self.wh, entity), keys[entity])

        extractors = {
            "orders": extract("orders", readers.OLIST_ORDERS_SCHEMA),
            "order_items": extract("order_items", readers.OLIST_ORDER_ITEMS_SCHEMA),
        }
        transforms = {
            "orders": [domain.clean_orders],
            "order_items": [domain.clean_order_items],
        }
        gate = {
            "orders": validators.create_orders_validator(),
            "order_items": validators.create_order_items_validator(),
        }
        if layers is not None:
            extractors = {k: layers.wrap_stage("pipeline.extract", f) for k, f in extractors.items()}
            transforms = {
                k: [layers.wrap_stage("pipeline.transform", f) for f in fs]
                for k, fs in transforms.items()
            }
            gate = {k: layers.wrap_validator("pipeline.validate", v) for k, v in gate.items()}
            load = layers.wrap_stage("pipeline.load", load)
        return ETLPipeline(
            spark,
            extractors=extractors,
            transforms=transforms,
            validators=gate,
            load_order=["orders", "order_items"],
            loader=load,
            run_log_path=os.path.join(self.wh, "etl_run_log"),
        )

    def _day(self, i: int) -> int:
        """Day loaded by timed op ``i``; op -1 is the warm-up."""
        return (i + 1) % self.DAYS

    def warmup(self, spark, layers: Layers | None) -> None:
        _fresh_dir(self.wh)
        self._pipeline(spark, 0, layers).run()
        self.warm_problems = self.check_op(-1)

    def label(self, i: int) -> str:
        return f"day{self._day(i):02d}"

    def before_op(self, i: int) -> None:
        if self._day(i) == 0:
            _fresh_dir(self.wh)

    def run_op(self, spark, i: int, layers: Layers | None) -> None:
        self._pipeline(spark, self._day(i), layers).run()

    def check_op(self, i: int) -> list[str]:
        day = self._day(i)
        if day not in self.expected:
            self.expected[day] = self.oracle.after(day)
        return checks.diff_totals(checks.actual_warehouse(self.wh), self.expected[day])

    def op_input_bytes(self, i: int) -> int:
        return sum(os.path.getsize(p) for p in self.days[self._day(i)].values())

    def sink_dirs(self) -> list[str]:
        return [os.path.join(self.wh, t) for t in ("orders", "order_items", "etl_run_log")]

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


class StreamWorkload:
    """Each op lands the next tick's event file, then runs the rollup
    stream with ``trigger_available_now`` on a fixed source, checkpoint
    and sink until it stops.  The warm-up lands and refreshes tick 0;
    timed ops land ticks 1, 2, ...  After the last generated tick the
    source, checkpoint and sink start empty again at tick 0."""

    name = "stream_refresh"
    TICKS = 8
    EVENTS_PER_TICK = 2000
    op_s = 6.5
    cycle = 1

    def prepare(self, work: str, seed: int) -> None:
        self.ticks = gen.write_event_ticks(
            os.path.join(work, "ticks"), seed, self.TICKS, self.EVENTS_PER_TICK
        )
        base = os.path.join(work, "stream")
        self.src, self.sink, self.ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
        self.expected: dict[int, dict] = {}
        self.query = None

    def _tick(self, i: int) -> int:
        """Tick landed by timed op ``i``; op -1 is the warm-up."""
        return (i + 1) % self.TICKS

    def before_op(self, i: int) -> None:
        tick = self._tick(i)
        if tick == 0:
            for d in (self.src, self.sink, self.ckpt):
                shutil.rmtree(d, ignore_errors=True)
            os.makedirs(self.src)
        shutil.copy(self.ticks[tick], self.src)

    def run_op(self, spark, i: int, layers: Layers | None) -> None:
        from data_engineering_for_e_commerce_logistics_spark.streaming.ingest import (
            start_rollup_stream,
        )

        args = (spark, self.src, self.sink, self.ckpt)
        if layers is None:
            q = start_rollup_stream(*args, trigger_available_now=True)
            q.awaitTermination()
        else:
            with layers.stage("ingest.start"):
                q = start_rollup_stream(*args, trigger_available_now=True)
            with layers.stage("ingest.await"):
                q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.query = q

    def warmup(self, spark, layers: Layers | None) -> None:
        self.before_op(-1)
        self.run_op(spark, -1, None)
        self.query = None
        self.warm_problems = self.check_op(-1)

    def label(self, i: int) -> str:
        return f"tick{self._tick(i):02d}"

    def check_op(self, i: int) -> list[str]:
        tick = self._tick(i)
        if tick not in self.expected:
            self.expected[tick] = checks.expected_rollup(self.ticks[: tick + 1])
        return checks.diff_totals(checks.actual_rollup(self.sink), self.expected[tick])

    def op_input_bytes(self, i: int) -> int:
        return os.path.getsize(self.ticks[self._tick(i)])

    def sink_dirs(self) -> list[str]:
        return [self.sink]

    def checkpoint_dir(self) -> str:
        return self.ckpt


class EtlStreamWorkload:
    """Each op lands one day of data: one ``etl_load`` op (the day's CSV
    increment through ``ETLPipeline.run`` into the growing warehouse),
    then one ``stream_refresh`` op (the next event file landed and one
    ``trigger_available_now`` refresh of the rollup stream).  Both
    layers' work sits in one op, so one workload measures the pipeline,
    readers, validators, sinks and streaming ingest."""

    name = "etl_stream"
    op_s = 9.0
    cycle = 1

    def __init__(self):
        self.etl = EtlWorkload()
        self.stream = StreamWorkload()

    @property
    def query(self):
        """The op's streaming query, which ``Layers.finish_op`` reads and clears."""
        return self.stream.query

    @query.setter
    def query(self, q) -> None:
        self.stream.query = q

    def prepare(self, work: str, seed: int) -> None:
        self.etl.prepare(work, seed)
        self.stream.prepare(work, seed)

    def warmup(self, spark, layers: Layers | None) -> None:
        self.etl.warmup(spark, layers)
        self.stream.warmup(spark, layers)
        self.warm_problems = self.etl.warm_problems + self.stream.warm_problems

    def label(self, i: int) -> str:
        return f"{self.etl.label(i)}-{self.stream.label(i)}"

    def before_op(self, i: int) -> None:
        self.etl.before_op(i)
        self.stream.before_op(i)

    def run_op(self, spark, i: int, layers: Layers | None) -> None:
        self.etl.run_op(spark, i, layers)
        self.stream.run_op(spark, i, layers)

    def check_op(self, i: int) -> list[str]:
        return self.etl.check_op(i) + self.stream.check_op(i)

    def op_input_bytes(self, i: int) -> int:
        return self.etl.op_input_bytes(i) + self.stream.op_input_bytes(i)

    def sink_dirs(self) -> list[str]:
        return self.etl.sink_dirs() + self.stream.sink_dirs()

    def checkpoint_dir(self) -> str:
        return self.stream.checkpoint_dir()

    def close(self) -> None:
        self.etl.close()


def timed_ops(workload, seconds: float) -> int:
    """Ops in a run of ``seconds``: whole cycles, at least one."""
    cycles = round(seconds / (workload.op_s * workload.cycle))
    return workload.cycle * max(1, cycles)


def make(name: str):
    if name == "registry_queries":
        return QueryWorkload(name, TIMED_SPECS)
    if name == "all_specs":  # one traced pass over all 94 specs, for report.py
        return QueryWorkload(name, WAREHOUSE_SPECS + CORPUS_SPECS)
    if name == "etl_load":
        return EtlWorkload()
    if name == "stream_refresh":
        return StreamWorkload()
    if name == "etl_stream":
        return EtlStreamWorkload()
    raise ValueError(f"unknown workload {name!r}")


# The workloads BENCHMARK.json lists; ``etl_load`` and ``stream_refresh``
# are the two halves of ``etl_stream``, runnable on their own.
WORKLOADS = ("registry_queries", "etl_stream")
PARTS = ("etl_load", "stream_refresh")
