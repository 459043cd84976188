"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables graft reads (``region`` … ``embeddings``) in
the shapes of graft's test corpus: a TPC-H-like star schema, a month of
``events`` and a bag-of-words ``documents`` table in which about 5% of the
documents are near-duplicates (an earlier document plus a ``dup`` token).
Row counts scale with ``sf`` as in the test corpus. Each table draws from
its own random stream of (seed, sf, table), so the same arguments always
give the same rows, whichever subset of tables is written.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]
LANGS = np.array(["en", "zh", "de", "fr", "es"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
COLORS = np.array(["blue", "old", "hot", "large", "cold", "red", "small", "new"])
NOUNS = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
MONTH_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
MONTH_US = 30 * 86400 * 1_000_000


def _days(rng, lo, hi, n):
    """n midnight timestamps uniform over the ISO dates [lo, hi]."""
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    us = rng.integers(lo_d, hi_d + 1, n) * 86400 * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _acctbal(rng, n):
    return np.round(rng.uniform(-999.99, 9999.99, n), 2)


def sizes(sf):
    return {"customer": max(150, int(15000 * sf)), "supplier": max(10, int(10000 * sf)),
            "part": max(200, int(200000 * sf)), "orders": max(1500, int(150000 * sf)),
            "events": max(1000, int(1_000_000 * sf)), "users": max(150, int(15000 * sf)),
            "documents": max(500, int(50000 * sf)), "embeddings": max(500, int(20000 * sf))}


def _table(name, rng, n):
    if name == "region":
        return {"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    if name == "nation":
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    if name == "customer":
        c = n["customer"]
        return {"c_custkey": np.arange(c, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(c)],
                "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
                "c_acctbal": _acctbal(rng, c),
                "c_mktsegment": rng.choice(SEGMENTS, c)}
    if name == "supplier":
        s = n["supplier"]
        return {"s_suppkey": np.arange(s, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(s)],
                "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
                "s_acctbal": _acctbal(rng, s)}
    if name == "part":
        p = n["part"]
        return {"p_partkey": np.arange(p, dtype=np.int64),
                "p_name": np.char.add(np.char.add(rng.choice(COLORS, p), " "),
                                      rng.choice(NOUNS, p)),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
                "p_type": rng.choice(PTYPES, p),
                "p_size": rng.integers(1, 51, p).astype(np.int32),
                "p_retailprice": 900.0 + rng.integers(0, 1000, p) / 10.0}
    if name == "orders":
        o = n["orders"]
        return {"o_orderkey": np.arange(o, dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], o).astype(np.int64),
                "o_orderstatus": rng.choice(np.array(["P", "O", "F"]), o),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
                "o_orderpriority": rng.choice(PRIORITIES, o)}
    if name == "lineitem":
        lines = rng.integers(1, 8, n["orders"])
        m = int(lines.sum())
        return {"l_orderkey": np.repeat(np.arange(n["orders"], dtype=np.int64), lines),
                "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
                "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
                "l_linenumber": (np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines)
                                 + 1).astype(np.int32),
                "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(901.0, 105000.0, m), 2),
                "l_discount": rng.integers(0, 11, m) / 100.0,
                "l_tax": rng.integers(0, 9, m) / 100.0,
                "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
                "l_linestatus": rng.choice(np.array(["O", "F"]), m),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)}
    if name == "events":
        e = n["events"]
        # strictly increasing: every event keeps its own export file name
        ts = np.sort(rng.integers(0, MONTH_US - e, e)) + np.arange(e) + MONTH_START_US
        return {"event_id": np.arange(e, dtype=np.int64),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": rng.integers(0, n["users"], e).astype(np.int64),
                "event_type": rng.choice(EVENT_TYPES, e),
                "value": np.round(np.minimum(rng.exponential(50.0, e), 490.0) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    if name == "documents":
        d = n["documents"]
        texts = []
        for i in range(d):
            if i > 10 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                k = int(rng.integers(10, 100))
                texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
        return {"doc_id": np.arange(d, dtype=np.int64), "text": texts,
                "lang": rng.choice(LANGS, d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
                "source": [f"src{i % 20}" for i in range(d)],
                "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    if name == "embeddings":
        v = n["embeddings"]
        emb = rng.standard_normal((v, 64))
        emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": np.arange(v, dtype=np.int64),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, v).astype(np.int32)}
    raise ValueError(name)


def write(out_dir, sf, seed, only=None):
    """Write the tables (all, or those named in ``only``) as
    ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    for name in only or NAMES:
        rng = np.random.default_rng([seed, int(round(sf * 1e6)), NAMES.index(name)])
        pq.write_table(pa.table(_table(name, rng, n)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def split_days(data_dir):
    """Write the events of each day of the month to
    ``<data_dir>/event_days/day=<d>/part.parquet`` (the incremental
    ingest's per-batch inputs)."""
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    us = events.column("ts").cast(pa.int64()).to_numpy()
    day = (us - MONTH_START_US) // (86400 * 1_000_000)
    for d in np.unique(day):
        out = os.path.join(data_dir, "event_days", f"day={d}")
        os.makedirs(out)
        pq.write_table(events.filter(pa.array(day == d)), os.path.join(out, "part.parquet"))
