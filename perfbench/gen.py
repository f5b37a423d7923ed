"""Seeded input generator for the benchmark.

Everything the engine reads is made here from `--seed`: the star-schema
tables (same names, columns and value domains as the project's test data,
so `SparkEntry.queries` and their DuckDB oracles run unchanged), the
curation corpus with planted near-duplicates, and the call-event schedule
fed to the streaming workload. The same seed gives byte-identical arrays;
parquet is written with pyarrow so both Spark and DuckDB read the same
files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data part column order scan a slow agg key "
         "window table merge vector join").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list:
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, k = [], 0
    for m in lens:
        out.append(" ".join(VOCAB[w] for w in words[k:k + m]))
        k += m
    return out


def _near_dup(rng: np.random.Generator, text: str) -> str:
    """Copy of `text` with one word replaced and a `dup` marker appended —
    close enough that shingle/minhash dedup should pair it with its source."""
    w = text.split(" ")
    w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w) + " dup"


def documents(rng: np.random.Generator, n: int, dup_share: float) -> dict:
    texts = _texts(rng, n)
    n_dup = int(n * dup_share)
    # plant near-duplicates: a fixed share of rows copy an earlier row
    targets = rng.choice(np.arange(n // 2, n), n_dup, replace=False)
    for t in sorted(targets):
        texts[t] = _near_dup(rng, texts[int(rng.integers(0, n // 2))])
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def embeddings(rng: np.random.Generator, n: int, dup_share: float) -> dict:
    v = rng.standard_normal((n, 64))
    n_dup = int(n * dup_share)
    targets = rng.choice(np.arange(n // 2, n), n_dup, replace=False)
    sources = rng.integers(0, n // 2, n_dup)
    v[targets] = v[sources] + 0.05 * rng.standard_normal((n_dup, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v.astype("float32")), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    }


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table)])


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int,
           dup_share: float, only=TABLES) -> dict:
    """Write the tables named in `only` at scale `sf` (row counts follow the
    project's test data: 150k customers and 1M events per unit of sf).
    Each table draws from its own stream of the seed, so writing a subset
    gives the same rows as writing them all. Returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(1, n_cust // 10)

    if "region" in only:
        _write(out_dir, "region", {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(REGIONS)})
    if "nation" in only:
        _write(out_dir, "nation", {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    if "customer" in only:
        rng = _rng(seed, "customer")
        _write(out_dir, "customer", {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    if "supplier" in only:
        rng = _rng(seed, "supplier")
        _write(out_dir, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    if "part" in only:
        rng = _rng(seed, "part")
        _write(out_dir, "part", {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PTYPES[i] for i in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    day = 86_400_000_000
    o_lo = _us(dt.datetime(1995, 1, 1))
    if "orders" in only:
        rng = _rng(seed, "orders")
        _write(out_dir, "orders", {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
            "o_orderdate": _ts(o_lo + rng.integers(0, 2404, n_ord) * day),
            "o_orderpriority": pa.array([("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                          "5-LOW")[i] for i in rng.integers(0, 5, n_ord)])})
    if "lineitem" in only:
        rng = _rng(seed, "lineitem")
        _write(out_dir, "lineitem", {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts(o_lo + day + rng.integers(0, 2498, n_line) * day)})
    if "events" in only:
        rng = _rng(seed, "events")
        ev_ts = np.sort(_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * day, n_ev))
        _write(out_dir, "events", {
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    if "documents" in only:
        rng = _rng(seed, "documents")
        _write(out_dir, "documents", documents(rng, n_docs, dup_share))
    if "embeddings" in only:
        rng = _rng(seed, "embeddings")
        _write(out_dir, "embeddings", embeddings(rng, n_vecs, dup_share))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_vecs}


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """`n` draws from a Zipf(s) law over keys 0..n_keys-1, the rank order
    shuffled so hot keys are spread over the key range."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    ranks = rng.choice(n_keys, n, p=p)
    return rng.permutation(n_keys)[ranks]


def call_schedule(seed: int, rate: float, seconds: float, n_cust: int,
                  key_widen: float, zipf_s: float, time_scale: float,
                  max_disorder_s: float) -> dict:
    """Open-loop call events at a fixed offered `rate` per second for
    `seconds`: event i is due at i / rate seconds after the stream starts.
    Event time runs `time_scale` times faster than wall time (so one-hour
    windows close within the run), minus a disorder of at most
    `max_disorder_s` event seconds. Callers are Zipf over a key range
    `key_widen` times the customer key range, so a share of events miss
    the customer join."""
    rng = np.random.default_rng(seed + 1_000_003)
    n = int(rate * seconds)
    due_s = np.arange(n) / rate
    base = _us(dt.datetime(2024, 1, 1))
    disorder = rng.uniform(0.0, max_disorder_s, n)
    ts = base + ((due_s * time_scale - disorder) * 1e6).astype("int64")
    n_keys = int(n_cust * key_widen)
    return {
        "due_ms": due_s * 1000.0,
        "ts_us": ts,
        "caller": zipf_keys(rng, n, n_keys, zipf_s).astype("int64"),
        "duration": np.round(rng.exponential(50.0, n), 2),
    }


def write_calls(out_dir: str, sched: dict) -> None:
    """The call schedule as an `events` table, so the batch `CallsPipeline`
    can recompute what the stream emitted, plus each event's due time."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(sched["due_ms"])
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(sched["ts_us"]),
        "user_id": pa.array(sched["caller"]),
        "event_type": pa.array(["call"] * n),
        "value": pa.array(sched["duration"]),
        "props": pa.array(["{}"] * n)})
    _write(out_dir, "schedule", {"due_ms": pa.array(sched["due_ms"])})
