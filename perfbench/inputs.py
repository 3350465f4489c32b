"""Seeded input generator for the benchmark.

Every table keeps the schema, key ranges and join fan-outs of the engine's
reference test data (a TPC-H-like star schema plus `events`, `documents`
and `embeddings`): uniform foreign keys, about four lineitems per order,
ten customers per event user, twenty document sources of equal size, and
about 5% of documents that are near-duplicate copies of an earlier
document with one token appended.  The npm inputs are a gzip file of
package names (Zipf-skewed repeats, about 5% unknown to the registry) and
a registry snapshot of JSON bodies with long-tailed version and
dependency counts.

The same (seed, scale) always yields byte-identical parquet files.
"""
import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = (["en", "zh", "es", "de", "fr"], [0.42, 0.145, 0.145, 0.145, 0.145])
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SOURCES = 20


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out, seed, sf):
    """Write the ten tables for scale factor `sf` into directory `out`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    keys = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    order_days = rng.integers(0, 2404, n_ord)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": EPOCH_1995 + order_days * DAY_US,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * DAY_US}),
        f"{out}/lineitem.parquet")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    _write(pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts,
        "user_id": rng.integers(0, max(10, n_cust // 10), n_evt, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        f"{out}/events.parquet")
    _write(pa.table(_documents(rng, n_doc)), f"{out}/documents.parquet")
    vec = rng.standard_normal((n_vec, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32)}),
        f"{out}/embeddings.parquet")
    write_row_counts(out)


def write_row_counts(out):
    """`rows.txt`: one `<file> <rows>` line per parquet file in `out`."""
    with open(f"{out}/rows.txt", "w") as f:
        for name in sorted(os.listdir(out)):
            if name.endswith(".parquet"):
                f.write(f"{name} {pq.ParquetFile(f'{out}/{name}').metadata.num_rows}\n")


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    sources = np.repeat(np.arange(SOURCES), -(-n // SOURCES))[:n]
    rng.shuffle(sources)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{s}" for s in sources],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def split_corpus(full, core, heldout_file, seed, share):
    """Copy `full` to `core` minus a seeded held-out slice of the documents.

    The slice is drawn from sources src0-src9 only (the corpus side of the
    LSH index), so after it is appended back the index covers exactly the
    corpus side of `full`.
    """
    os.makedirs(core, exist_ok=True)
    for name in os.listdir(full):
        if name != "documents.parquet":
            shutil.copyfile(f"{full}/{name}", f"{core}/{name}")
    docs = pq.read_table(f"{full}/documents.parquet")
    rng = np.random.default_rng(seed + 7)
    corpus_side = np.array([int(s[3:]) < 10 for s in docs["source"].to_pylist()])
    held = corpus_side & (rng.random(docs.num_rows) < share)
    _write(docs.filter(pa.array(~held)), f"{core}/documents.parquet")
    _write(docs.filter(pa.array(held)), heldout_file)
    write_row_counts(core)


def _package_names(rng, n):
    parts = ["left", "pad", "react", "dom", "core", "util", "lodash", "fs",
             "async", "json", "parse", "stream", "babel", "loader", "plugin",
             "cli", "color", "path", "type", "eslint", "config", "web", "http",
             "proxy", "test", "mock", "query", "string", "date", "fmt"]
    names, seen = [], set()
    while len(names) < n:
        k = int(rng.integers(1, 4))
        name = "-".join(rng.choice(parts, k)) + f"{int(rng.integers(0, 1000))}"
        if rng.random() < 0.15:
            name = f"@{rng.choice(parts)}/{name}"
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


def write_npm(out, seed, lines, pool):
    """Write `packages.txt.gz` and `registry.parquet` (name, body).

    Names repeat with Zipf skew over a pool of `pool` distinct names; 5%
    of the pool is unknown to the registry (its 404 share).  Version and
    dependency counts are long-tailed; their multisets are the same for
    every seed (only which package gets which count varies), so every seed
    asks the engine for the same amount of parsing.  Returns the expected
    accumulated result: {package: {version: [deps, devDeps]}} over the
    known packages that occur in the file.
    """
    rng = np.random.default_rng(seed + 11)
    shape = np.random.default_rng(0)
    os.makedirs(out, exist_ok=True)
    names = _package_names(rng, pool)
    known = rng.permutation(pool) >= pool // 20
    ranks = np.arange(1, pool + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    picks = rng.choice(pool, lines, p=p)
    with gzip.open(f"{out}/packages.txt.gz", "wt", encoding="utf-8",
                   compresslevel=6) as f:
        for i in picks:
            f.write(names[i] + "\n")
    n_versions = rng.permutation(np.minimum(40, shape.zipf(1.8, pool)))
    total = int(n_versions.sum())
    deps = rng.permutation(np.minimum(60, shape.zipf(1.6, total) - 1))
    devs = rng.permutation(np.minimum(60, shape.zipf(1.8, total) - 1))
    bodies, expected = [], {}
    used = set(int(i) for i in picks)
    at = 0
    for i, name in enumerate(names):
        versions, folded = {}, {}
        for v in range(int(n_versions[i])):
            ver = f"{v // 10}.{v % 10}.{int(rng.integers(0, 5))}"
            d, dv = int(deps[at]), int(devs[at])
            at += 1
            versions[ver] = {
                "name": name,
                "dependencies": {f"dep-{j}": f"^{j}.0.0" for j in range(d)},
                "devDependencies": {f"devdep-{j}": "*" for j in range(dv)}}
            folded[ver] = [d, dv]
        if not known[i]:
            continue
        bodies.append((name, json.dumps({"name": name, "versions": versions})))
        if i in used:
            expected[name] = folded
    _write(pa.table({"name": [b[0] for b in bodies],
                     "body": [b[1] for b in bodies]}),
           f"{out}/registry.parquet")
    return expected
