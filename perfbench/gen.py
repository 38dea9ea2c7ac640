"""Seeded inputs for the curation workload.

A TPC-H-ish fixture with the column names, types and value ranges of the
engine's reference fixture (TESTDATA.md), except for a larger document
vocabulary (see VOCAB): a seeded base at `BASE_SF`,
replicated `tools/gen_scale.COPIES` times with that tool's per-copy key
shifts, and written with ~32 row groups per fact table so scans split the
way the sf1 tier's do. Copies are perturbed with the workload seed: half the
documents of a copy swap one word, every embedding gets uniform noise and is
re-normalized. So each document has exact and near copies and each
embedding near-duplicates (cos ~0.97), the shape the dedup and similarity
jobs depend on.

The ingest workload's event stream is generated inside the benchmark JVM
from the same seed (perfbench.Ingest.Plan); it reads this fixture only for
the kernel microbenches of a traced run.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import gen_scale  # noqa: E402  (replication: COPIES, FACTS, shifted)

# Base scale before the 10x replication. The benchmark must run a whole
# pass several times inside one run, so the replica is ~sf0.01, not sf1.
BASE_SF = 0.001
COPIES = gen_scale.COPIES

# The reference fixture's 30 words, then two-syllable words, drawn with
# Zipf weights. With only the 30 words, long documents share most of their
# character 3-grams, so chance near-duplicate links between unrelated
# documents, and with them dd_cluster's component count and loop rounds,
# change from seed to seed (2-4 rounds over ten seeds); with 400 words the
# dedup structure is the copies alone, on every seed.
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split() + [
    a + b for a in _SYLLABLES for b in _SYLLABLES][::13][:370]
VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1)
VOCAB_P /= VOCAB_P.sum()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small", "green"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(20, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), max(100, int(15_000 * sf))
    pick = lambda vals, n, p=None: pa.array(np.asarray(vals, dtype=object)[rng.choice(len(vals), n, p=p)])
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array((t0 + rng.integers(0, span, n_ev)).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(np.asarray(VOCAB)[rng.choice(len(VOCAB), n, p=VOCAB_P)])
             for n in rng.integers(10, 101, n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def _perturb(name, table, seed, copy):
    """Copies of a document swap one word with probability 1/2; copies of an
    embedding get uniform noise in +-0.05 and are re-normalized, as
    gen_scale.perturbed_embeddings does, but seeded by the workload seed."""
    if copy == 0 or name not in ("documents", "embeddings"):
        return table
    rng = np.random.default_rng([seed, copy])
    if name == "embeddings":
        emb = np.array(table.column("embedding").to_pylist(), dtype=np.float32)
        emb += rng.uniform(-0.05, 0.05, size=emb.shape).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        return table.set_column(table.schema.get_field_index("embedding"), "embedding",
                                pa.array(emb.tolist(), pa.list_(pa.float32())))
    texts = []
    for s in table.column("text").to_pylist():
        words = s.split(" ")
        if rng.random() < 0.5:
            words[rng.integers(len(words))] = VOCAB[rng.choice(len(VOCAB), p=VOCAB_P)]
        texts.append(" ".join(words))
    table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(texts))
    return table.set_column(table.schema.get_field_index("n_chars"), "n_chars",
                            pa.array([len(s) for s in texts], pa.int64()))


def write_fixture(seed, out, sf=BASE_SF):
    """Write the replicated fixture to `out`; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name, table in base_tables(seed, sf).items():
        if name in gen_scale.FACTS:
            copies = [gen_scale.shifted(table, gen_scale.FACTS[name], c) for c in range(COPIES)]
            copies = [_perturb(name, t, seed, c) for c, t in enumerate(copies)]
            table = pa.concat_tables(copies)
            pq.write_table(table, f"{out}/{name}.parquet", row_group_size=max(64, table.num_rows // 32))
        else:
            pq.write_table(table, f"{out}/{name}.parquet")
        rows[name] = table.num_rows
    return rows
