"""Seeded input generator for the benchmark workloads.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one parquet file each,
with the schemas and value distributions of the project's synthetic test
data (TESTDATA.md): a TPC-H-shaped star schema, a 30-day event stream, a
word-salad document corpus in which 5% of the documents are near-duplicate
copies (`<root text> dup`) and four sources in twenty are low-English, and
64-dim unit embeddings with ten labels. Column names and types are those of
FIXTURES.md, except that every timestamp is stored in microseconds (parquet
TIMESTAMP(MICROS), not adjusted to UTC), as the project's parquet test data
stores them at every scale; FIXTURES.md lists ms and ns units.

The scale factor fixes every row count; the seed only changes values. The
seed also picks the near-duplicate families: which documents are roots and
how the fixed number of copies is spread over them.

    python3 perfbench/gen.py <out_dir> <scale> <seed> [table ...]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(scale: float) -> dict:
    """Row counts per table at `scale` (1.0 = TPC-H sf1 proportions)."""
    n = lambda base: max(1, int(round(base * scale)))
    return {"region": 5, "nation": 25, "customer": n(150_000),
            "supplier": n(10_000), "part": n(200_000), "orders": n(1_500_000),
            "lineitem": n(6_000_000), "events": n(1_000_000),
            "users": n(15_000), "documents": n(50_000),
            "embeddings": n(20_000)}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _str(values):
    return pa.array(values, type=pa.string())


def build(table: str, n: dict, rng: np.random.Generator) -> pa.Table:
    if table == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": _str(REGIONS)})
    if table == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": _str([f"NATION_{i}" for i in range(25)]),
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if table == "customer":
        k = np.arange(n["customer"], dtype=np.int64)
        return pa.table({
            "c_custkey": k,
            "c_name": _str([f"Customer#{i:09d}" for i in k]),
            "c_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k.size),
            "c_mktsegment": _str(np.array(SEGMENTS)[rng.integers(0, 5, k.size)])})
    if table == "supplier":
        k = np.arange(n["supplier"], dtype=np.int64)
        return pa.table({
            "s_suppkey": k,
            "s_name": _str([f"Supplier#{i:09d}" for i in k]),
            "s_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k.size)})
    if table == "part":
        k = np.arange(n["part"], dtype=np.int64)
        names = np.char.add(np.char.add(np.array(COLORS)[rng.integers(0, 8, k.size)], " "),
                            np.array(NOUNS)[rng.integers(0, 8, k.size)])
        return pa.table({
            "p_partkey": k,
            "p_name": _str(names),
            "p_brand": _str(np.char.add("Brand#", rng.integers(1, 26, k.size).astype(str))),
            "p_type": _str(np.array(PART_TYPES)[rng.integers(0, 5, k.size)]),
            "p_size": pa.array(rng.integers(1, 51, k.size), pa.int32()),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)})
    if table == "orders":
        k = np.arange(n["orders"], dtype=np.int64)
        days = rng.integers(0, 2404, k.size)  # 1995-01-01 .. 2001-08-01
        return pa.table({
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], k.size, dtype=np.int64),
            "o_orderstatus": _str(np.array(["F", "O", "P"])[rng.integers(0, 3, k.size)]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k.size),
            "o_orderdate": _ts(EPOCH_1995 + days * DAY_US),
            "o_orderpriority": _str(np.array(PRIORITIES)[rng.integers(0, 5, k.size)])})
    if table == "lineitem":
        m = n["lineitem"]
        days = rng.integers(1, 2499, m)  # 1995-01-02 .. 2001-11-04
        return pa.table({
            "l_orderkey": np.sort(rng.integers(0, n["orders"], m, dtype=np.int64)),
            "l_partkey": rng.integers(0, n["part"], m, dtype=np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _str(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
            "l_linestatus": _str(np.array(["F", "O"])[rng.integers(0, 2, m)]),
            "l_shipdate": _ts(EPOCH_1995 + days * DAY_US)})
    if table == "events":
        m = n["events"]
        us = np.sort(rng.integers(0, 30 * DAY_US, m))
        return pa.table({
            "event_id": np.arange(m, dtype=np.int64),
            "ts": _ts(EPOCH_2024 + us),
            "user_id": rng.integers(0, n["users"], m, dtype=np.int64),
            "event_type": _str(np.array(EVENT_TYPES)[rng.integers(0, 5, m)]),
            "value": np.round(np.minimum(rng.exponential(50.0, m), 560.0), 2),
            "props": _str(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, m).astype(str)), "}"))})
    if table == "documents":
        return _documents(n["documents"], rng)
    if table == "embeddings":
        m = n["embeddings"]
        labels = rng.integers(0, 10, m)
        centers = rng.normal(0.0, 1.0, (10, 64))
        v = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (m, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        offsets = pa.array(np.arange(0, 64 * m + 1, 64, dtype=np.int32))
        return pa.table({
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.reshape(-1))),
            "label": pa.array(labels, pa.int32())})
    raise ValueError(f"unknown table {table}")


def _documents(m: int, rng: np.random.Generator) -> pa.Table:
    """Random word-salad texts; 5% of them are `<root text> dup` copies. The
    number of copies is fixed by `m`; the seed picks the roots and how many
    copies each family gets."""
    n_dup = m // 20
    lens = rng.integers(10, 101, m)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    copy_pos = np.sort(rng.choice(np.arange(m // 10, m), n_dup, replace=False))
    n_roots = max(1, int(n_dup * rng.uniform(0.5, 0.9)))
    roots = rng.choice(np.arange(m // 10), n_roots, replace=False)
    for p in copy_pos:
        texts[p] = texts[roots[rng.integers(0, n_roots)]] + " dup"
    # four of the twenty sources (seeded) are low-English, so the
    # English-share cut of the partition-pruning query always selects some
    low = rng.choice(20, 4, replace=False)
    p_en = np.where(np.isin(np.arange(m) % 20, low), 0.25, 0.45)
    other = rng.integers(1, 5, m)
    langs = np.where(rng.random(m) < p_en, 0, other)
    return pa.table({
        "doc_id": np.arange(m, dtype=np.int64),
        "text": _str(texts),
        "lang": _str(np.array(LANGS)[langs]),
        "source": _str([f"src{i % 20}" for i in range(m)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def generate(out_dir: str, scale: float, seed: int, tables=None) -> dict:
    """Write the tables into `out_dir` (skipped when a finished copy for the
    same scale, seed and table list is already there) and return the
    manifest: row count and bytes per table."""
    tables = list(tables or TABLES)
    marker = os.path.join(out_dir, "_manifest.json")
    if os.path.exists(marker):
        with open(marker) as f:
            manifest = json.load(f)
        if manifest.get("scale") == scale and manifest.get("seed") == seed \
                and sorted(manifest["tables"]) == sorted(tables):
            return manifest
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    info = {}
    for i, t in enumerate(tables):
        # one independent stream per table, so a table's values do not
        # depend on which other tables are generated alongside it
        rng = np.random.default_rng([seed, TABLES.index(t)])
        tbl = build(t, n, rng)
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(tbl, path)
        info[t] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    manifest = {"scale": scale, "seed": seed, "tables": info,
                "bytes": sum(v["bytes"] for v in info.values()),
                "rows": sum(v["rows"] for v in info.values())}
    with open(marker + ".tmp", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(marker + ".tmp", marker)
    return manifest


if __name__ == "__main__":
    out, scale, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    print(json.dumps(generate(out, scale, seed, sys.argv[4:] or None)))
