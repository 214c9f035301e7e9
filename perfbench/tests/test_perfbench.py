"""Unit tests of the benchmark's own machinery (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [_ROOT]

from perfbench import checks, gen, stats  # noqa: E402
from perfbench.layers import METRICS  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    gen.write_star_schema(os.path.join(root, "star"), seed)
    gen.write_etl_days(os.path.join(root, "etl"), seed, days=3, orders_per_day=200)
    gen.write_event_ticks(os.path.join(root, "ticks"), seed, ticks=3, events_per_tick=100)


def test_generators_are_deterministic(tmp_path):
    _generate(str(tmp_path / "a"), 11)
    _generate(str(tmp_path / "b"), 11)
    _generate(str(tmp_path / "c"), 12)
    a, b, c = (_digests(str(tmp_path / d)) for d in "abc")
    assert len(a) == 10 + 3 * 2 + 3
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if not k.startswith(("star/region", "star/nation")))


@pytest.mark.parametrize(
    "n, pct",
    [(0, None), (10, None), (19, None), (20, 50), (99, 50), (100, 90), (999, 90),
     (1000, 99), (9999, 99), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_percentile_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile([3.0], 90) == 3.0


def test_quartile_spread_matches_statistics_quantiles():
    s = stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert s["median"] == 5.5
    assert s["q1"] == 2.75 and s["q3"] == 8.25
    assert s["spread"] == pytest.approx(5.5 / 5.5)


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, 0)


def test_self_time_nested():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 2.0, 3.0, 1), _span(3, 6.0, 7.0, 0)]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 1.0)
    assert own[2] == pytest.approx(1.0)
    assert own[3] == pytest.approx(1.0)


def test_self_time_overlapping_children_count_once():
    # Two children on different threads overlap on [3, 4]; a third one
    # runs past the parent's end, so only its part inside counts.
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 9.0, 12.0, 0)]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert sum(own.values()) == pytest.approx(10.0 - 4.0 + 2.0 + 2.0 + 3.0)


def test_tracer_nests_and_tags_ops():
    tr = Tracer()
    with tr.op_span(7):
        with tr.span("a"):
            with tr.span("b"):
                pass
    with tr.span("outside"):
        pass
    op, a, b, outside = tr.spans
    assert (a.parent, b.parent, outside.parent) == (op.sid, a.sid, None)
    assert (op.op, a.op, b.op, outside.op) == (7, 7, 7, None)
    assert op.start <= a.start <= b.start <= b.end <= a.end <= op.end


def test_metric_names_and_benchmark_json():
    with open(os.path.join(_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import run

    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert set(e2e) == set(run.END_TO_END)
    assert list(layer) == list(METRICS)
    for name, m in list(e2e.items()) + list(layer.items()):
        assert NAME.fullmatch(name), name
        assert len(name) <= 64
    for name, m in e2e.items():
        assert m["unit"] == run.END_TO_END[name]
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for name, m in layer.items():
        assert m["unit"] == METRICS[name]
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads.WORKLOADS)


def test_expected_rollup_drops_events_behind_the_watermark(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def tick(path, stamps, values):
        us = [int(s * 3600 * 1e6) for s in stamps]
        pq.write_table(pa.table({
            "ts": pa.array(us, pa.timestamp("us", tz="UTC")),
            "event_type": ["view"] * len(us),
            "value": values,
        }), path)
        return path

    # Tick 0 reaches hour 10.5, so tick 1 runs with watermark 8.5: the
    # event at 8.2 (window [8, 9) ends after 8.5) is kept, the one at 7.9
    # (window [7, 8)) is dropped.
    t0 = tick(str(tmp_path / "t0.parquet"), [10.0, 10.5], [1.0, 2.0])
    t1 = tick(str(tmp_path / "t1.parquet"), [11.0, 8.2, 7.9], [4.0, 8.0, 16.0])
    want = checks.expected_rollup([t0, t1])
    assert want == {"rows": 3, "events": 4, "value": 15.0, "keys": 3}


def test_expected_warehouse_newest_day_wins(tmp_path):
    o = gen.ORDERS_HEADER + "\n"
    i = gen.ITEMS_HEADER + "\n"
    day0 = {"orders": tmp_path / "o0.csv", "order_items": tmp_path / "i0.csv"}
    day1 = {"orders": tmp_path / "o1.csv", "order_items": tmp_path / "i1.csv"}
    day0["orders"].write_text(o + "a,c1, Delivered ,2024-01-01 00:00:00,,,,\n"
                              "b,c2,pending,2024-01-01 00:00:00,,,,\n"
                              "b,c2,pending,2024-01-01 00:00:00,,,,\n")
    day0["order_items"].write_text(i + "a,1,p1,s1,,10.00,1.00\nb,1,p2,s1,,,1.00\n")
    day1["orders"].write_text(o + "b,c2,DELIVERED,2024-01-02 00:00:00,,,,\n")
    day1["order_items"].write_text(i + "a,1,p1,s1,,12.50,1.00\n")
    days = [{k: str(v) for k, v in d.items()} for d in (day0, day1)]
    assert checks.expected_warehouse(days) == {
        "orders.rows": 2, "orders.keys": 2, "orders.delivered": 2,
        "order_items.rows": 2, "order_items.keys": 2, "order_items.price_sum": 12.5,
        "run_log.rows": 2,
    }
    # The oracle a run keeps answers every prefix, in any order.
    oracle = checks.WarehouseOracle(days)
    try:
        assert oracle.after(1) == checks.expected_warehouse(days)
        assert oracle.after(0) == checks.expected_warehouse(days[:1]) == {
            "orders.rows": 2, "orders.keys": 2, "orders.delivered": 1,
            "order_items.rows": 2, "order_items.keys": 2, "order_items.price_sum": 10.0,
            "run_log.rows": 1,
        }
    finally:
        oracle.close()


def test_diff_totals():
    assert checks.diff_totals({"a": 3, "b": 1.0 + 1e-12}, {"a": 3, "b": 1.0}) == []
    assert checks.diff_totals({"a": 2}, {"a": 3}) == ["a: 2 != 3"]


def _record(cpus: int, median: float) -> dict:
    summary = {m: {"median": median, "spread": 0.05} for m in ("setup_s", "op_p50_s", "ops_per_s")}
    return {"workloads": {"etl_load": {"runs": [{"host": {"cpus": cpus}}], "summary": summary}}}


def test_compare_refuses_different_cpu_counts_and_applies_bounds():
    from perfbench import compare

    with open(os.path.join(_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows, refusal = compare.compare(_record(4, 1.0), _record(8, 1.0), spec)
    assert rows == [] and "different CPU counts" in refusal
    rows, refusal = compare.compare(_record(4, 1.0), _record(4, 1.3), spec)
    assert refusal is None
    verdicts = {r["metric"]: r["verdict"] for r in rows}
    # 30% slower setup and p50 are worse than the 0.25 bound; 30% more
    # ops per second is better.
    assert verdicts == {"setup_s": "worse", "op_p50_s": "worse", "ops_per_s": "ok"}
