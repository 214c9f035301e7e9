"""Seeded input generators for the workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (pyarrow parquet with fixed writer settings, and
CSV text built in Python).  The engine under test only ever sees the
files these functions write.

* ``write_star_schema`` -- the ten tables the query registry reads
  (TPC-H-ish star schema plus events, documents and embeddings), in
  the layout ``catalog.load_tables`` expects: ``<dir>/<table>.parquet``.
* ``write_etl_days`` -- daily Olist-shaped ``orders`` / ``order_items``
  CSV increments with nulls, duplicate keys, padded mixed-case
  strings and updates to keys loaded on earlier days.
* ``write_event_ticks`` -- one ``EVENTS_SCHEMA`` parquet file per tick,
  with a seeded share of out-of-order and late events.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the star schema (the shape of the repository's sf0.001 test set:
# small enough that per-query cost is plan building and scheduling,
# which is where this engine spends its time at every tested scale).
STAR_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 400,
    "embeddings": 400,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _us(when: dt.datetime) -> int:
    return (when - _EPOCH) // dt.timedelta(microseconds=1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table,
        path,
        compression="snappy",
        write_statistics=True,
        use_dictionary=True,
    )


def _ts(values_us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us", tz=tz))


def _documents(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    """Documents with planted exact and near duplicates so the dedup,
    MinHash and SimHash specs have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.08:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.18:  # near duplicate: a few tokens swapped
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(toks) // 12)):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
            continue
        length = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), length)))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), n, p=[0.2, 0.4, 0.14, 0.13, 0.13])]
    return texts, langs


def write_star_schema(out_dir: str, seed: int) -> None:
    """Write the ten registry tables for ``seed`` under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = STAR_ROWS
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        p("region"),
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        p("nation"),
    )
    nc = n["customer"]
    _write(
        pa.table({
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }),
        p("customer"),
    )
    ns = n["supplier"]
    _write(
        pa.table({
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }),
        p("supplier"),
    )
    npart = n["part"]
    _write(
        pa.table({
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(npart) * 0.1, 2),
        }),
        p("part"),
    )
    no = n["orders"]
    start = _us(dt.datetime(1995, 1, 1))
    day = 86_400_000_000
    odates = start + rng.integers(0, 2400, no) * day
    _write(
        pa.table({
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _ts(odates),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }),
        p("orders"),
    )
    nl = n["lineitem"]
    l_order = np.sort(rng.integers(0, no, nl))
    linenumber = np.ones(nl, dtype=np.int32)
    for i in range(1, nl):
        if l_order[i] == l_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flags = rng.integers(0, 3, nl)
    _write(
        pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(20.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": [["A", "N", "R"][j] for j in flags],
            "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(odates[l_order] + rng.integers(1, 122, nl) * day),
        }),
        p("lineitem"),
    )
    ne = n["events"]
    ev_ts = np.sort(_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * day, ne))
    _write(
        pa.table({
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, 15, ne), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": np.round(rng.gamma(2.0, 40.0, ne) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }),
        p("events"),
    )
    nd = n["documents"]
    texts, langs = _documents(rng, nd)
    _write(
        pa.table({
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{j}" for j in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        p("documents"),
    )
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        p("embeddings"),
    )


# --- etl_load: daily Olist-shaped CSV increments -----------------------------

ORDER_STATUSES = ["delivered", "shipped", "pending", "canceled"]
ORDERS_HEADER = (
    "order_id,customer_id,order_status,order_purchase_timestamp,"
    "order_approved_at,order_delivered_carrier_date,"
    "order_delivered_customer_date,order_estimated_delivery_date"
)
ITEMS_HEADER = (
    "order_id,order_item_id,product_id,seller_id,shipping_limit_date,"
    "price,freight_value"
)


def _fmt(when_us: np.ndarray, null: np.ndarray | None = None) -> list[str]:
    """``YYYY-MM-DD HH:MM:SS`` strings; empty where ``null``."""
    text = np.datetime_as_string(when_us.astype("datetime64[us]").astype("datetime64[s]"))
    out = np.char.replace(text, "T", " ")
    if null is not None:
        out = np.where(null, "", out)
    return out.tolist()


def _money(values: np.ndarray, null: np.ndarray) -> list[str]:
    return ["" if z else f"{v:.2f}" for v, z in zip(values.tolist(), null.tolist())]


def _statuses(rng: np.random.Generator, n: int) -> list[str]:
    """Order statuses with the reference's padding / casing defects."""
    base = np.array(ORDER_STATUSES)[rng.integers(0, 4, n)]
    roll = rng.random(n)
    return [
        f"  {s.upper()} " if r < 0.15 else s.capitalize() if r < 0.3 else s
        for s, r in zip(base.tolist(), roll.tolist())
    ]


def _with_dups(rows: list[str], dup: np.ndarray) -> list[str]:
    out = []
    for row, d in zip(rows, dup.tolist()):
        out.append(row)
        if d:
            out.append(row)
    return out


def write_etl_days(
    out_dir: str, seed: int, days: int, orders_per_day: int, update_share: float = 0.1
) -> list[dict[str, str]]:
    """Write ``days`` daily increments; return ``[{"orders": path,
    "order_items": path}, ...]`` in load order.

    Each day has ``orders_per_day`` order rows (about 2 items each).
    ``update_share`` of a day's orders re-send an order id loaded on an
    earlier day with a new status and dates; about 2% of rows are
    exact duplicates; customer ids, approval and delivery dates, prices
    and freight values are sometimes null; a few purchase timestamps are
    unparseable.  Order ids and product ids are never null, so the
    pipeline's critical gate never aborts, and an order's items have
    distinct product ids, so a duplicate item key is always an exact
    duplicate row.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    base = _us(dt.datetime(2024, 3, 1))
    hour = 3_600_000_000
    n = orders_per_day
    loaded = 0
    out = []
    for d in range(days):
        n_upd = int(n * update_share) if loaded else 0
        upd = np.sort(rng.choice(loaded, n_upd, replace=False)) if n_upd else np.zeros(0, np.int64)
        ids = np.concatenate([upd, np.arange(loaded, loaded + n - n_upd)])
        loaded += n - n_upd
        oid = [f"ord{seed % 1000:03d}{i:08d}" for i in ids.tolist()]
        t0 = base + d * 24 * hour + rng.integers(0, 24 * hour, n)
        purchase = _fmt(t0)
        bad = rng.random(n) < 0.005
        purchase = ["not-a-date" if b else p for p, b in zip(purchase, bad.tolist())]
        cust_null = (rng.random(n) < 0.02).tolist()
        cust = ["" if z else f"cust{c:05d}" for c, z in zip(rng.integers(0, 5000, n).tolist(), cust_null)]
        cols = [
            oid,
            cust,
            _statuses(rng, n),
            purchase,
            _fmt(t0 + hour, rng.random(n) < 0.05),
            _fmt(t0 + 30 * hour, rng.random(n) < 0.2),
            _fmt(t0 + rng.integers(20, 400, n) * hour, rng.random(n) < 0.3),
            _fmt(t0 + rng.integers(48, 500, n) * hour),
        ]
        orders = _with_dups([",".join(r) for r in zip(*cols)], rng.random(n) < 0.02)

        per_order = 1 + rng.integers(0, 3, n)
        m = int(per_order.sum())
        owner = np.repeat(np.arange(n), per_order)
        k = np.arange(m) - np.repeat(np.cumsum(per_order) - per_order, per_order)
        product = (np.repeat(rng.integers(0, 3000, n), per_order) + 7 * k) % 3000
        cols = [
            [oid[i] for i in owner.tolist()],
            (k + 1).astype(str).tolist(),
            [f"prod{p:05d}" for p in product.tolist()],
            [f"sell{s:04d}" for s in rng.integers(0, 400, m).tolist()],
            _fmt(t0[owner] + 72 * hour),
            _money(rng.uniform(-5.0, 500.0, m), rng.random(m) < 0.02),
            _money(rng.uniform(0.0, 60.0, m), rng.random(m) < 0.03),
        ]
        items = _with_dups([",".join(r) for r in zip(*cols)], rng.random(m) < 0.02)

        paths = {}
        for entity, header, lines in (
            ("orders", ORDERS_HEADER, orders),
            ("order_items", ITEMS_HEADER, items),
        ):
            path = os.path.join(out_dir, f"day{d:02d}_{entity}.csv")
            with open(path, "w", encoding="utf-8", newline="") as f:
                f.write(header + "\n" + "\n".join(lines) + "\n")
            paths[entity] = path
        out.append(paths)
    return out


# --- stream_refresh: event files landed one per tick -------------------------

TICK_MINUTES = 30


def write_event_ticks(
    out_dir: str, seed: int, ticks: int, events_per_tick: int, late_share: float = 0.1
) -> list[str]:
    """Write one parquet file of ``EVENTS_SCHEMA`` rows per tick; return
    the paths in landing order (the caller lands them into the stream's
    source directory one per tick).

    Tick ``k`` carries events of event-time ``[k, k+1) * 30 min``,
    shuffled so they arrive out of order.  ``late_share`` of a tick's
    events belong to earlier event time instead: half of them 10-80
    minutes late (inside the 2-hour watermark, so they update windows
    already written), half 4-8 hours late (behind the watermark, so the
    stream drops them).
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    base = _us(dt.datetime(2024, 6, 1))
    minute = 60_000_000
    tick_us = TICK_MINUTES * minute
    paths = []
    for k in range(ticks):
        lo = base + k * tick_us
        ts = lo + rng.integers(0, tick_us, events_per_tick)
        late = rng.random(events_per_tick) < late_share
        far = rng.random(events_per_tick) < 0.5
        lag = np.where(far, rng.integers(240, 480, events_per_tick), rng.integers(10, 80, events_per_tick))
        ts = np.where(late & (k > 0), ts - lag * minute, ts)
        # Sub-second jitter keeps every event strictly off the watermark
        # boundary, so whether an event is late never depends on a tie.
        ts = ts - ts % 1_000_000 + 1 + rng.integers(0, 999_000, events_per_tick)
        ids = np.arange(k * events_per_tick, (k + 1) * events_per_tick, dtype=np.int64)
        table = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": _ts(ts, "UTC"),
            "user_id": pa.array(rng.integers(0, 500, events_per_tick), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, events_per_tick)],
            "value": np.round(rng.gamma(2.0, 40.0, events_per_tick) + 0.01, 2),
            "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, events_per_tick)],
        })
        path = os.path.join(out_dir, f"tick{k:03d}.parquet")
        _write(table, path)
        paths.append(path)
    return paths
