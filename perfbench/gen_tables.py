"""Seeded generator for the batch_mix tables.

Writes the ten parquet tables the batch queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the column names, parquet types and value shapes of the project's
TESTDATA star schema, sized by a scale factor. The same seed and scale give
byte-identical files.

    python3 gen_tables.py --seed 7 --sf 0.02 --out DIR
"""

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNAMES = [f"{a} {b}" for a in ("blue", "cold", "hot", "large", "old", "red",
                               "small", "green")
          for b in ("anvil", "bolt", "gear", "plate", "ring", "rod", "nut",
                    "wheel")]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _us(year, month=1, day=1):
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us")
               .astype(np.int64))


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64).astype("datetime64[us]"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(seed, sf, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(10, int(50_000 * sf))
    n_emb = max(10, int(50_000 * sf))
    n_user = max(5, int(15_000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) * 0.1, 2)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [PNAMES[i] for i in rng.integers(0, len(PNAMES), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})

    d0, d1 = _us(1995), _us(2001, 8, 2)
    day = 86_400_000_000
    ok = np.arange(n_ord, dtype=np.int64)
    odate = d0 + rng.integers(0, (d1 - d0) // day, n_ord) * day
    nlines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, nlines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    l_no = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_part] * rng.uniform(0.9, 1.1, n_li), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odate, nlines) + rng.integers(1, 122, n_li) * day
    total = np.bincount(l_ok, weights=ext * (1 - disc) * (1 + tax),
                        minlength=n_ord)
    _write(out, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [STATUS[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(total, 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITY[i] for i in rng.integers(0, 5, n_ord)]})
    cut = _us(1998, 6, 17)
    _write(out, "lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": np.where(ship <= cut,
                                 np.where(rng.random(n_li) < 0.5, "R", "A"),
                                 "N"),
        "l_linestatus": np.where(ship <= cut, "F", "O"),
        "l_shipdate": _ts(ship)})

    e0 = _us(2024)
    ev_ts = np.sort(e0 + rng.integers(0, 30 * day, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # 5% of documents are near-duplicates: an earlier document plus " dup"
    texts = []
    lens = rng.integers(10, 101, n_doc)
    dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS) - 1, lens[i])))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # unit vectors around ten label centroids
    cent = rng.normal(0.0, 0.009, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = cent[label] + rng.normal(0.0, 0.125, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.sf, a.out)
