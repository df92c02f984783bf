"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``follower_graph``: an ``edges.csv`` in the reference programs' format
  (``follower,followee`` per line, no header).  Both endpoints are skewed
  towards small ids (``src = floor(N * u**3)``, ``dst = floor(N * u**4.5)``)
  so the reference's max-id filters (50,000 / 40,000 / 7,812,500) keep
  dense subgraphs.  Duplicate edges and self-loops are dropped, as in a
  follower graph.
* ``tables``: the ten parquet tables the engine's gates read (a TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``), with the
  schema and value ranges of the engine's test data, at a scale factor.

Every generated set is cached under ``<cache>/<kind>-<params>-s<seed>/``
with a ``DONE`` marker holding its fingerprint, so a rerun with the same
seed reuses it; only the most recently used sets are kept.
"""
import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pandas as pd

# Follower-graph shape.  The id space and the exponents follow the
# reference's constants; the edge count is sized for a run of seconds.
GRAPH_IDS = 10_000_000
GRAPH_EDGES = 300_000
SRC_EXP, DST_EXP = 3.0, 4.5

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
NOUNS = "ring plate gear rod bolt anvil".split()
ADJS = "large hot blue cold red small new".split()


def _digest(path):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f == "DONE":
                continue
            with open(os.path.join(root, f), "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()[:16]


KEEP = 12  # generated sets kept in the cache, newest first


def _cached(cache, name, build):
    """Return (dir, fingerprint) of a generated set, building it once."""
    out = os.path.join(cache, name)
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        os.utime(out)
        with open(done) as fh:
            return out, json.load(fh)
    os.makedirs(cache, exist_ok=True)
    old = sorted((os.path.join(cache, d) for d in os.listdir(cache)),
                 key=os.path.getmtime, reverse=True)
    for d in old[KEEP - 1:]:
        shutil.rmtree(d, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fp = build(tmp)
    fp["digest"] = _digest(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        json.dump(fp, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, fp


def follower_graph(cache, seed, edges=GRAPH_EDGES, ids=GRAPH_IDS):
    """Write ``edges.csv``; return (dir, fingerprint)."""
    def build(d):
        rng = np.random.default_rng([seed, 1])
        # oversample so that, after dropping duplicates and self-loops,
        # exactly `edges` distinct edges remain (taken in draw order)
        keys = np.empty(0, dtype=np.int64)
        n = edges
        while len(keys) < edges:
            u = rng.random((2, int(n * 1.3) + 1000))
            src = np.floor(ids * u[0] ** SRC_EXP).astype(np.int64)
            dst = np.floor(ids * u[1] ** DST_EXP).astype(np.int64)
            k = np.concatenate([keys, (src * ids + dst)[src != dst]])
            _, first = np.unique(k, return_index=True)
            keys = k[np.sort(first)]
            n *= 2
        keys = keys[:edges]
        src, dst = keys // ids, keys % ids
        con = duckdb.connect(config={"threads": 1})
        con.register("e", pd.DataFrame({"src": src, "dst": dst}))
        con.sql(f"COPY e TO '{d}/edges.csv' (HEADER false)")
        con.close()
        return {"edges": int(len(keys)),
                "distinct_ids": int(len(np.union1d(src, dst)))}
    return _cached(cache, f"graph-e{edges}-n{ids}-s{seed}", build)


def _ts(rng, n, start, span_s):
    base = np.datetime64(start, "us")
    return base + (rng.random(n) * span_s * 1e6).astype("timedelta64[us]")


def _frames(seed, sf):
    """The ten tables as pandas frames, keyed by table name."""
    rng = np.random.default_rng([seed, 2, int(round(sf * 1000))])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_user = int(1_000_000 * sf), int(15_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))
    f = {}
    f["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    f["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    f["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], n_cust)})
    f["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    f["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJS, n_part),
                                               rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    f["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": np.datetime64("1995-01-01", "us") + rng.integers(
            0, 2404, n_ord).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    # 1 + Poisson(3) lines per order, 2% of them dropped
    per = 1 + rng.poisson(3.0, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    l_ord = l_ord[rng.random(len(l_ord)) < 0.98]
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    f["lineitem"] = pd.DataFrame({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": np.datetime64("1995-01-02", "us") + rng.integers(
            0, 2498, n_li).astype("timedelta64[D]")})
    ts = np.sort(_ts(rng, n_ev, "2024-01-01", 30 * 86400))
    f["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], n_ev),
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    f["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc,
                           p=[0.41, 0.15, 0.14, 0.15, 0.15]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] + rng.normal(0, 1.5, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    f["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(v),
        "label": labels.astype(np.int32)})
    return f


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def tables(cache, seed, sf):
    """Write the ten parquet tables at scale factor ``sf``."""
    def build(d):
        con = duckdb.connect(config={"threads": 2})
        counts = {}
        for name, df in _frames(seed, sf).items():
            con.register("t", df)
            sel = ("SELECT * REPLACE (embedding::FLOAT[] AS embedding) FROM t"
                   if name == "embeddings" else "SELECT * FROM t")
            con.sql(f"COPY ({sel}) TO '{d}/{name}.parquet' (FORMAT parquet)")
            con.unregister("t")
            counts[name] = len(df)
        con.close()
        return {"sf": sf, "rows": counts}
    return _cached(cache, f"tables-sf{sf}-s{seed}", build)
