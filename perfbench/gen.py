"""Seeded input generator for the benchmark.

Writes the ten harness tables (region nation customer supplier part
orders lineitem events documents embeddings) as one-row-group Parquet
files with the same schemas, physical types and value distributions as
the reference test tables. The same (seed, scale) always gives
byte-identical files; a different seed gives different contents.

`scale` is a dict:
  sf        relational scale factor (lineitem = 6M * sf rows)
  replicas  corpus replicas N: replica k >= 1 renames every document
            token with a `_k` suffix and perturbs every embedding by
            (1 + k/1000), so shingle spaces stay disjoint across
            replicas and the per-replica duplicate density is kept
  docs      optional base document count (default: from sf)
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

TS = pa.timestamp("us")
SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    # `ts` is TIMESTAMP(MICROS, isAdjustedToUTC=false): Tables.events
    # branches on this layout
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
REPLICA_ID_STRIDE = 100_000_000
DAY_US = 86_400_000_000


def _epoch_us(d):
    return int((datetime.datetime(d.year, d.month, d.day)
                - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n, first, last):
    span = (last - first).days
    return _epoch_us(first) + rng.integers(0, span + 1, n, dtype=np.int64) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _ts(us):
    return pa.array(us, pa.int64()).cast(TS)


def _rows(sf, per_sf, floor=1):
    return max(floor, int(round(per_sf * sf)))


def _documents(rng, n, replicas):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # ~5% near-duplicates (an earlier document plus a trailing token)
    # and ~0.2% exact duplicates, the reference corpus's densities
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    ids, out_text, out_lang, out_src = [], [], [], []
    for k in range(replicas):
        for i, t in enumerate(texts):
            ids.append(k * REPLICA_ID_STRIDE + i)
            out_text.append(t if k == 0 else " ".join(w + f"_{k}" for w in t.split(" ")))
            out_lang.append(langs[i])
            out_src.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_text, pa.string()),
        "lang": pa.array(out_lang, pa.string()),
        "source": pa.array(out_src, pa.string()),
        "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
    }, schema=SCHEMAS["documents"])


def _embeddings(rng, n, replicas):
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    ids = np.concatenate([k * REPLICA_ID_STRIDE + np.arange(n) for k in range(replicas)])
    vecs = np.concatenate([v * np.float32(1 + k / 1000) for k in range(replicas)])
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(vecs) * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(np.tile(labels, replicas), pa.int32()),
    }, schema=SCHEMAS["embeddings"])


def tables(seed, scale):
    """The ten tables for (seed, scale), as {name: pyarrow.Table}."""
    sf = float(scale["sf"])
    replicas = int(scale.get("replicas", 1))
    # one independent stream per table, so resizing one table leaves
    # the others' contents unchanged
    rngs = {t: np.random.default_rng([int(seed), i]) for i, t in enumerate(TABLES)}
    n_cust, n_supp = _rows(sf, 150_000), _rows(sf, 10_000)
    n_part, n_ord = _rows(sf, 200_000), _rows(sf, 1_500_000)
    n_line, n_evt = _rows(sf, 6_000_000), _rows(sf, 1_000_000)
    n_users = _rows(sf, 15_000)
    n_docs = int(scale.get("docs", _rows(sf, 50_000, 500)))
    n_emb = _rows(sf, 20_000, 500)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)}, schema=SCHEMAS["customer"])
    r = rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, n_supp, -999.99, 9999.99))}, schema=SCHEMAS["supplier"])
    r = rngs["part"]
    keys = np.arange(n_part)
    names = np.char.add(np.char.add(np.asarray(PART_ADJ)[r.integers(0, 8, n_part)], " "),
                        np.asarray(PART_NOUN)[r.integers(0, 8, n_part)])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names.tolist(), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1))}, schema=SCHEMAS["part"])
    r = rngs["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(r, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _ts(_days(r, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1))),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)}, schema=SCHEMAS["orders"])
    r = rngs["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(r, n_line, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)))},
        schema=SCHEMAS["lineitem"])
    r = rngs["events"]
    month_us = 30 * DAY_US
    gaps = r.exponential(month_us / n_evt, n_evt)
    ts = _epoch_us(datetime.date(2024, 1, 1)) + np.minimum(np.cumsum(gaps), month_us - 1).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(r.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)], pa.string())},
        schema=SCHEMAS["events"])
    out["documents"] = _documents(rngs["documents"], n_docs, replicas)
    out["embeddings"] = _embeddings(rngs["embeddings"], n_emb, replicas)
    for t in TABLES:
        out[t] = out[t].cast(SCHEMAS[t])
    return out


def write(out_dir, seed, scale):
    """Write every table as `<out_dir>/<name>.parquet` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
