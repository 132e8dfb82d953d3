"""Seeded input generator.

Everything the program reads in a benchmark run is made here from the
`--seed`: the same seed gives byte-identical parquet files. The tables have
the schemas and value ranges of the repo's synthetic star-schema corpus (see
FIXTURES.md at the repo root), which the program's OSM stand-ins read:
`lineitem` is the way-ref store, `part` the node store, `orders` the
membership/routing store. Keys are relabelled by a seeded bijection onto
their key range (foreign keys follow the same bijection) and rows are
written in a seeded order, so no optimisation can lean on sorted keys.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small order query customer filter "
         "group stream big vector").split()

# Row counts per unit of scale factor, as in the corpus (sf0.01 = 60k lineitem).
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
          "documents": 50_000, "embeddings": 50_000}

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _relabel(rng, n):
    """Seeded bijection on 0..n-1: label[i] is the key written for entity i."""
    return rng.permutation(n).astype(np.int64)


def _write(table, path, rng):
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), path)


def star_schema(sf, seed, star_only=False):
    """Build the corpus tables at scale factor `sf` as pyarrow tables.

    `star_only` skips the stream and LLM tables (events, documents,
    embeddings), which only the query mix reads.
    """
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * sf))) for t, c in PER_SF.items()}
    n["documents"] = max(50, n["documents"])
    n["embeddings"] = max(50, n["embeddings"])
    ck, sk, pk, ok = (_relabel(rng, n[t]) for t in ("customer", "supplier", "part", "orders"))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    price = np.round(900 + rng.integers(0, 1000, n["part"]) / 10.0, 1)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                              rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": price})
    t["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": ck[rng.integers(0, n["customer"], n["orders"])],
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, n["orders"]).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    li_part = rng.integers(0, n["part"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": ok[rng.integers(0, n["orders"], n["lineitem"])],
        "l_partkey": pk[li_part],
        "l_suppkey": sk[rng.integers(0, n["supplier"], n["lineitem"])],
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[li_part], 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, n["lineitem"]).astype("timedelta64[D]")})
    if star_only:
        return t
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": _relabel(rng, ne),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 80))) for _ in range(nd)]
    # plant near-duplicates (one word swapped) so the dedup operators find pairs
    for i in rng.choice(nd, nd // 20, replace=False):
        w = texts[rng.integers(0, nd)].split()
        w[rng.integers(0, len(w))] = str(rng.choice(WORDS))
        texts[i] = " ".join(w)
    t["documents"] = pa.table({
        "doc_id": _relabel(rng, nd), "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], np.int64)})
    nv = n["embeddings"]
    label = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 0.8, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": _relabel(rng, nv),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def write(tables, out_dir, seed):
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, 2])
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"), rng)


def key_sequence(pool, seed, passes):
    """The query_mix sequence: `passes` seeded permutations of the pool, back
    to back, so every run executes the same balanced mix in its own order."""
    rng = np.random.default_rng([seed, 3])
    return [pool[i] for _ in range(passes) for i in rng.permutation(len(pool))]
