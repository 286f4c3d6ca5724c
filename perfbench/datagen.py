"""Seeded input generation for the benchmark.

Writes one sf-style directory (one parquet file per table, the layout
``queries._t`` and the stream readers expect) whose contents are a pure
function of ``(scale, seed)``.  The column domains, value ranges and
key relationships follow the repository's synthetic TPC-H-ish testdata:
uniform foreign keys, ``NATION_<i>`` names, 30-word document vocabulary
with ~5% ``dup``-suffixed near-duplicates, unit-norm 64-d embeddings, a
time-ordered event log over January 2024.

Rows of every table except ``events`` are written in a seeded order;
``events`` stays in time order because the streaming queries consume it
as an append-only log.

Runs without Spark, so generation never lands inside the measured
Spark application.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts per scale: sf0.01 as in the testdata sf dir of that name,
#: sf0.05 half of the testdata's sf0.1
BASE_ROWS = {
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500, embeddings=500),
    "sf0.05": dict(customer=7500, supplier=500, part=10000, orders=75000,
                   lineitem=300000, events=50000, documents=2500, embeddings=1000),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = (np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype(int)
_SHIP_DAYS = (np.datetime64("2001-11-04", "D") - _EPOCH_1995).astype(int)
_EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENTS_SPAN_US = 30 * 86400 * 1_000_000
_NEAR_DUP_P = 0.05
#: generated dirs kept per workload (each panel seed is ~9 MB)
KEEP_SEEDS = 2


def _pick(rng, values, n, p=None):
    """Dictionary-encoded string column: n draws from ``values``."""
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    d = _EPOCH_1995 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    tokens = rng.integers(0, len(WORDS), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(WORDS[t] for t in tokens[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-duplicates: a copy of an earlier document plus one marker token
    for i in np.flatnonzero(rng.random(n) < _NEAR_DUP_P):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _events(rng, n, n_users):
    gaps = rng.exponential(1.0, n)
    ts = np.cumsum(gaps)
    ts_us = (ts / ts[-1] * (_EVENTS_SPAN_US - 1)).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(_EVENTS_START + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _facts(rng, rows):
    """The fact tables: customer, orders, lineitem, events, documents,
    embeddings."""
    nc, no, nl = rows["customer"], rows["orders"], rows["lineitem"]
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], pa.string()),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, STATUSES, no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 0, _ORDER_DAYS, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, rows["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, rows["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, 1, _SHIP_DAYS, nl),
    })
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": _events(rng, rows["events"], max(nc // 10, 1)),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }


def generate_tables(scale: str, seed: int) -> dict[str, pa.Table]:
    """All tables of one generated sf dir, in memory."""
    rows = BASE_ROWS[scale]
    rng = np.random.default_rng([seed, rows["lineitem"]])
    ns, npart = rows["supplier"], rows["part"]
    part_keys = np.arange(npart, dtype=np.int64)
    out = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], pa.string()),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": part_keys,
            "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (npart, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
            "p_type": _pick(rng, P_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 1),
        }),
    }
    out.update(_facts(rng, rows))
    for t, tbl in out.items():
        if t != "events":
            out[t] = tbl.take(rng.permutation(tbl.num_rows))
    return out


def ensure_inputs(root: str, name: str, scale: str, seed: int) -> str:
    """Path of the generated sf dir for (workload, seed), writing it on
    first use.  Later runs with the same seed reuse the files, so no run
    ever rewrites an input a live Spark application has listed.  Only
    the ``KEEP_SEEDS`` most recent seeds of a workload stay on disk."""
    wdir = os.path.join(root, name)
    out = os.path.join(wdir, f"seed{seed}")
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        os.utime(done)
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t, tbl in generate_tables(scale, seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.replace(tmp, out)
    old = sorted(
        (d for d in os.listdir(wdir) if d.startswith("seed") and d != f"seed{seed}"),
        key=lambda d: os.path.getmtime(os.path.join(wdir, d)),
    )
    for d in old[: max(len(old) - (KEEP_SEEDS - 1), 0)]:
        shutil.rmtree(os.path.join(wdir, d), ignore_errors=True)
    return out
