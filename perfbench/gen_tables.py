"""Deterministic generator for the engine's ten input tables.

Writes `<name>.parquet` for region, nation, customer, supplier, part,
orders, lineitem, events, documents and embeddings with the column names,
types and value domains the engine's queries and oracle SQL expect (the
TPC-H-ish star schema plus the events / documents / embeddings tables).
Row counts scale linearly with `sf` the same way the reference data does:
sf 0.01 gives 60,000 lineitem rows.

The output depends only on (sf, data seed): numpy's PCG64 stream is
stable for a fixed numpy version, and `manifest.json` pins a content
checksum of every table so a drift is caught before a run, not after.
"""
import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "plate", "rod", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, offsets):
    return start + offsets.astype("int64") * np.timedelta64(1, "D")


def generate(sf, seed):
    """Return {table name: DataFrame}; same (sf, seed) -> same frames."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_line = max(1, int(round(6_000_000 * sf)))
    n_ev = max(1, int(round(1_000_000 * sf)))
    n_users = max(1, int(round(15_000 * sf)))
    n_docs = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})
    nk = np.arange(25, dtype="int32")
    t["nation"] = pd.DataFrame({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype("int32")})
    ck = np.arange(n_cust, dtype="int64")
    t["customer"] = pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype="int64")
    t["supplier"] = pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(EPOCH_1995, rng.integers(0, 2405, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(EPOCH_1995, rng.integers(1, 2500, n_line))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": EPOCH_2024 + ts * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, n)) for n in rng.integers(10, 100, n_docs)]
    # ~5% near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"), "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype("int32")})
    return t


def write(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in generate(sf, seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        df.to_parquet(tmp, engine="pyarrow", index=False)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))

