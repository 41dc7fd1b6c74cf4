#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Every input the program receives is written here from one seed: the same
seed gives byte-identical parquet files.  Three families:

- ``offers.parquet`` -- the job-offer corpus the stub France Travail API
  serves to the ``pipeline`` workload: word-bag descriptions shaped like
  the engine's ``documents`` fixture, with its shares of exact copies and
  near-duplicates, plus null-id offers and regions skewed so the adaptive
  planner splits down to departement x metier (see the constants below
  for what was measured and what was not);
- TPC-H-like ``region nation customer supplier part orders lineitem
  events`` tables for the ``dashboard`` workload, with the column types
  and value shapes the registered relational queries and their DuckDB
  oracle SQL expect (integer quantities, two-decimal prices, naive
  microsecond timestamps, unique window orderings);
- ``churn_*`` docs and vectors for the ``index_churn`` workload: a base
  split, a pool of append batches, probe docs/vectors and the tombstone
  schedule, plus ``kernel_*`` inputs for the ``functions`` microbench,
  all shaped like the ``documents`` and ``embeddings`` fixtures.

Usage: gen.py <workload> <seed> <out_dir> [--tiny] [--kernels]
Writes the input sizes to <out_dir>/sizes.json and prints them.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Text shape, measured on the engine's `documents` fixture (5000 rows at
# sf 0.1, 500 at sf 0.01; both give the same figures):
# - 30 words, drawn uniformly (each 8829-9182 times in 270k tokens at sf 0.1);
# - 10 to 100 words per text, uniformly (quartiles 32/54/76, mean 54.1);
# - 5% near-duplicates (250 of 5000): a copy of another text with the word
#   "dup" appended (234 of them exactly that, one word inserted);
# - 0.16% exact copies (8 of 5000), byte-identical, no case or punctuation
#   changes (no text holds anything but lowercase letters and spaces).
# Between unrelated texts of this shape the 5-char-shingle Jaccard is 0.18
# at the median and 0.26 at p99, far below the 0.6 near-duplicate
# threshold, so the near-duplicate work is set by the planted copies.
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
WORDS_MIN, WORDS_MAX = 10, 100
NEAR_DUP_SHARE = 0.05
EXACT_COPY_SHARE = 0.0016
DUP_MARK = "dup"
# Not measurable from any fixture; unverified against the reference's
# offers:
# - null-id share 2%: the engine's own dead-letter gate (i02) serves every
#   50th offer without an id;
# - metiers: the engine's tech and data ROME codes (Offres.techRomeCodes,
#   Offres.dataRomeCodes), drawn uniformly like the i01-i03 gates'
#   market segments;
# - region skew: chosen, not measured, so the planner splits a region
#   down to departement x metier (the gates' uniform regions stop at
#   departement).
NULL_ID_SHARE = 0.02
ROME = ["M1801", "M1802", "M1803", "M1805", "M1806", "M1403"]


def words(rng):
    return list(rng.choice(VOCAB, size=int(rng.integers(WORDS_MIN, WORDS_MAX + 1))))


def near_dup(toks):
    """The fixture's near-duplicate: the source text with one word appended."""
    return list(toks) + [DUP_MARK]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


# --------------------------------------------------------------------------
# pipeline: the offers corpus behind the stub API
# --------------------------------------------------------------------------

REGIONS = [("R11", 0.50), ("R84", 0.25), ("R75", 0.15), ("R32", 0.10)]
DEP_W = [0.60, 0.25, 0.15]


def gen_offers(rng, n, out):
    n_null = round(n * NULL_ID_SHARE)
    n_copy = round(n * EXACT_COPY_SHARE)
    n_near = round(n * NEAR_DUP_SHARE)
    n_base = n - n_null - n_copy - n_near
    base = [words(rng) for _ in range(n_base)]
    texts = [" ".join(t) for t in base]
    texts += [texts[int(rng.integers(n_base))] for _ in range(n_copy)]
    texts += [" ".join(near_dup(base[int(rng.integers(n_base))])) for _ in range(n_near)]
    texts += [" ".join(words(rng)) for _ in range(n_null)]
    ids = [str(i) for i in rng.permutation(np.arange(100000, 100000 + n - n_null))]
    ids += [None] * n_null
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    ids = [ids[i] for i in order]
    reg_idx = rng.choice(len(REGIONS), size=n, p=[w for _, w in REGIONS])
    dep_idx = rng.choice(len(DEP_W), size=n, p=DEP_W)
    regions = [REGIONS[r][0] for r in reg_idx]
    deps = [f"{REGIONS[r][0]}D{d}" for r, d in zip(reg_idx, dep_idx)]
    romes = list(rng.choice(ROME, size=n))
    # titles land with the offer but no stage reads them
    titles = [" ".join(rng.choice(VOCAB, size=3)) for _ in range(n)]
    # the planner's per-filter cap: the top region and its top departement
    # saturate, so planning probes region -> departement -> departement x
    # metier; no leaf may overflow (an overflow is a dead-letter path the
    # reconciliation check would have to model)
    max_per_filter = int(n * 0.22)
    leaves = {}
    for d, m in zip(deps, romes):
        leaves[(d, m)] = leaves.get((d, m), 0) + 1
    assert max(leaves.values()) <= max_per_filter, "a planner leaf overflows"
    write(out, "offers", {
        "id": pa.array(ids, pa.string()),
        "intitule": titles, "description": texts, "romeCode": romes,
        "region": regions, "departement": deps,
    })
    return {"offers": n, "offers_valid": n - n_null, "offers_null_id": n_null,
            "exact_copies": n_copy, "near_dups": n_near,
            # 150 per page, as the engine's ingestion gates page
            "max_per_filter": max_per_filter, "page_size": 150}


# --------------------------------------------------------------------------
# dashboard: TPC-H-like tables + events
# --------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
US_PER_DAY = 86400 * 1000000


def money(rng, lo, hi, size):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=size) / 100.0, 2)


def days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size=size).astype("timedelta64[D]")


def gen_tables(rng, sf, out):
    n_cust, n_supp, n_part = int(15000 * sf), int(1000 * sf), int(20000 * sf)
    n_ord, n_ev, n_users = int(150000 * sf), int(1000000 * sf), max(10, int(15000 * sf))
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(['red', 'blue', 'small', 'large'])} "
                   f"{rng.choice(['bolt', 'ring', 'widget', 'gear'])}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))})
    # one to seven lines per order, numbered 1..k: (orderkey, linenumber)
    # is unique, so every window ordering the queries use is total
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    n_li = len(okey)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2498, n_li), pa.timestamp("us"))})
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * US_PER_DAY, n_ev)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": money(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return {"sf": sf, "customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev}


# --------------------------------------------------------------------------
# index_churn: base split, append pool, probes, tombstone schedule
# --------------------------------------------------------------------------

# The `embeddings` fixture (2000 rows at sf 0.1): 64-d unit vectors with
# no cluster structure. Its 10 labels are geometric noise: the median
# cosine is 0.00 within a label as between labels, and each label's mean
# vector has norm 0.07, about 1/sqrt(200). So: isotropic unit vectors.
DIM = 64


def unit_vecs(rng, n):
    v = rng.normal(0, 1, (n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def vec_col(v):
    return pa.array([list(map(float, r)) for r in v], pa.list_(pa.float32()))


def gen_churn(rng, n_base, n_cycles, batch, n_probes, n_tombs, out):
    base = [words(rng) for _ in range(n_base)]
    base_ids = np.arange(n_base)
    # append pool: fresh texts plus the fixture's near-duplicate share of
    # copies of base docs, at least one per batch, so every batch collides
    # with the index
    n_near = max(1, round(batch * NEAR_DUP_SHARE))
    pool, pool_ids, pool_cycle = [], [], []
    next_id = n_base
    for c in range(n_cycles):
        for j in range(batch):
            if j < batch - n_near:
                toks = words(rng)
            else:
                toks = near_dup(base[int(rng.integers(n_base))])
            pool.append(" ".join(toks))
            pool_ids.append(next_id)
            pool_cycle.append(c)
            next_id += 1
    # tombstones: base ids retired after cycle c's append. Every probe is
    # a near-duplicate of a base doc, and half the probes of later cycles
    # copy an already retired doc (a check design, not a traffic claim),
    # so a visibility leak shows up as a returned tombstoned id
    order = rng.permutation(base_ids)
    tombs = order[: n_cycles * n_tombs].reshape(n_cycles, n_tombs)
    probe_ids, probe_text, probe_cycle = [], [], []
    pid = 10 ** 9
    for c in range(n_cycles):
        for j in range(n_probes):
            if c > 0 and j % 2 == 0:
                src = int(tombs[int(rng.integers(c))][int(rng.integers(n_tombs))])
            else:
                src = int(rng.integers(n_base))
            probe_ids.append(pid)
            probe_text.append(" ".join(near_dup(base[src])))
            probe_cycle.append(c)
            pid += 1
    write(out, "churn_docs", {
        "doc_id": pa.array(list(base_ids) + pool_ids, pa.int64()),
        "text": [" ".join(t) for t in base] + pool,
        "cycle": pa.array([-1] * n_base + pool_cycle, pa.int32())})
    write(out, "churn_probe_docs", {
        "doc_id": pa.array(probe_ids, pa.int64()), "text": probe_text,
        "cycle": pa.array(probe_cycle, pa.int32())})
    n_pool = n_cycles * batch
    vecs = unit_vecs(rng, n_base + n_pool)
    write(out, "churn_vecs", {
        "vec_id": pa.array(np.arange(n_base + n_pool), pa.int64()),
        "embedding": vec_col(vecs),
        "cycle": pa.array([-1] * n_base + pool_cycle, pa.int32())})
    # probe vectors: perturbations of (partly retired) base vectors
    pv_src = [int(tombs[int(rng.integers(max(c, 1)))][0]) if c > 0 and j % 2 == 0
              else int(rng.integers(n_base))
              for c in range(n_cycles) for j in range(n_probes)]
    pv = vecs[pv_src] + rng.normal(0, 0.02, (len(pv_src), DIM)).astype(np.float32)
    write(out, "churn_probe_vecs", {
        "vec_id": pa.array(probe_ids, pa.int64()), "embedding": vec_col(pv),
        "cycle": pa.array(probe_cycle, pa.int32())})
    write(out, "churn_tombs", {
        "id": pa.array(tombs.reshape(-1), pa.int64()),
        "cycle": pa.array(np.repeat(np.arange(n_cycles), n_tombs), pa.int32())})
    return {"base_docs": n_base, "base_vecs": n_base, "dim": DIM,
            "max_cycles": n_cycles, "batch": batch, "probes_per_cycle": n_probes,
            "tombstones_per_cycle": n_tombs}


def gen_kernels(rng, n, out):
    write(out, "kernel_docs", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": [" ".join(words(rng)) for _ in range(n)]})
    write(out, "kernel_vecs", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": vec_col(unit_vecs(rng, n))})
    return {"kernel_rows": n}


SIZES = {
    # workload -> (normal, tiny) generator parameters
    "pipeline": ({"offers": 1200}, {"offers": 200}),
    "dashboard": ({"sf": 0.03}, {"sf": 0.002}),
    "index_churn": ({"n_base": 1000, "n_cycles": 41, "batch": 30, "n_probes": 2, "n_tombs": 3},
                    {"n_base": 150, "n_cycles": 5, "batch": 10, "n_probes": 2, "n_tombs": 2}),
}


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    tiny = "--tiny" in sys.argv[4:]
    os.makedirs(out, exist_ok=True)
    p = SIZES[workload][1 if tiny else 0]
    # one independent stream per family, all derived from the seed
    ss = np.random.SeedSequence(seed).spawn(2)
    rng = np.random.default_rng(ss[0])
    if workload == "pipeline":
        sizes = gen_offers(rng, p["offers"], out)
    elif workload == "dashboard":
        sizes = gen_tables(rng, p["sf"], out)
    else:
        sizes = gen_churn(rng, p["n_base"], p["n_cycles"], p["batch"],
                          p["n_probes"], p["n_tombs"], out)
    sizes["seed"] = seed
    if "--kernels" in sys.argv[4:]:
        sizes.update(gen_kernels(np.random.default_rng(ss[1]), 300 if tiny else 4000, out))
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    print(json.dumps(sizes))


if __name__ == "__main__":
    main()
