"""Seeded input generators for the outside-in benchmark.

Every input the program sees is made here from the workload seed; the same
seed gives byte-identical Parquet files.  Three input sets:

* the analyst star schema (`region` ... `embeddings`) at a scale factor, with
  the column names, physical types and value domains of the library's
  fixture tables (FIXTURES.md, section B), for the `query_mix` workload;
* `lake_upsert` stage batches shaped like `Fixtures.stage`
  (population_stage: state, species, herd_name, post_hunt_estimate,
  male_female_ratio, year, gmu_list);
* the `corpus_dedup` corpus with planted exact and near-duplicate groups,
  plus one embedding per document.

The stated input properties live in `PROPS` so the benchmark description
and the generators cannot drift apart.
"""
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROPS = {
    "query_mix": {"scale_factor": 0.01},
    # Row shapes follow `Fixtures.stage` (src/main/scala/graft/queries/Fixtures.scala),
    # the stage table the reference's production load reads; the batch
    # process (one state-season report per batch) has no source in the
    # reference and is an unverified assumption, as marked.
    "lake_upsert": {
        "states": 5,                  # Fixtures.stage: 5 state values (c_mktsegment)
        "first_season": 2020,         # Fixtures.stage: year = 2020 + k % 4
        "malformed_share": 0.4,       # Fixtures.stage: k % 5 in {2, 3} ("see map", "a; b")
        "units_per_row": [1, 3],      # Fixtures.stage: 1, 2 or 3 GMUs, a third each
        "null_herd_share": 1 / 7,     # Fixtures.stage: k % 7 = 0
        # assumptions, no source:
        "rows_per_batch": 400,        # one report; small enough for ~40 commits a run
        "backfill_rows": 1600,        # first season of each state, loaded before the stream
        "batches": 100,               # generated; a run lands as many as time allows
        "new_season_share": 0.25,     # reports that open a state's next season
        "recency_tau_seasons": 1.0,   # a revision picks season s with weight exp((s - latest) / tau)
        "new_unit_share": 0.3,        # GMUs in a revision that the season had not listed
        "unit_ids": [0, 999],         # Fixtures.stage: 0-99; widened so new GMUs do not run out
    },
    # The fixture `documents` table (FIXTURES.md, section B) has 5000 rows at
    # sf0.1, 10-100 tokens over 31 words and no planted duplicates, so the
    # corpus shape is an unverified assumption except where marked.
    "corpus_dedup": {
        "docs": 4000,                 # assumption: five passes a run fit the time budget on 4 cores
        "doc_tokens": [40, 80],       # assumption: two edits keep a near copy above the thresholds
        "vocabulary": 4000,           # assumption: Zipf(1.1) words, so unrelated documents rarely collide
        "near_dup_share": 0.1,        # assumption: 400 planted pairs, enough to test recall
        "near_dup_edits": 2,          # assumption: token substitutions per near copy
        "exact_dup_share": 0.05,      # assumption: documents that repeat another up to case/space
        "embedding_dims": 64,         # fixture `embeddings`: 64 dimensions
    },
}

_TS = pa.timestamp("us")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def star_schema(out, seed, sf):
    """The analyst tables, sized like the fixtures at scale factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")

    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")

    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), _TS),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), _TS),
    }), f"{out}/lineitem.parquet")

    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(start, start + span, n_ev)).astype("datetime64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, _TS),
        "user_id": rng.integers(0, n_cust // 10, n_ev).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")

    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
             "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
             "the", "value", "vector", "window"]
    texts = [" ".join(vocab[j] for j in rng.integers(0, len(vocab), rng.integers(10, 100)))
             for _ in range(n_docs)]
    langs = np.array(["en", "en", "en", "es", "zh", "de", "fr"])
    dk = np.arange(n_docs, dtype=np.int64)
    _write(pa.table({
        "doc_id": dk,
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in dk],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")
    _write(_embeddings(rng, np.arange(n_docs, dtype=np.int64), 64), f"{out}/embeddings.parquet")


def _embeddings(rng, ids, dims):
    v = rng.normal(size=(len(ids), dims)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32()),
    })


STATES = ["colorado", "idaho", "montana", "utah", "wyoming"]
SPECIES = ["deer", "elk", "pronghorn"]


def lake_batches(out, seed):
    """Stage batches for `lake_upsert`, one Parquet file per batch.

    A batch is one state's report for one season.  The first batches are
    the backfill: the first season of every state, four reports' worth of
    rows each.  After that the states report in turn; a report opens the
    state's next season (all GMUs new) or revises one of its seasons,
    recent ones most often, listing mostly GMUs the season already has.
    Rows follow
    `Fixtures.stage`: malformed GMU lists ("see map", "a; b"), the same
    three list spellings by GMU count, null herds, and estimate and ratio
    derived from one uniform draw as the fixture derives them from
    `c_acctbal`."""
    p = PROPS["lake_upsert"]
    rng = np.random.default_rng([seed, 2])
    pr = random.Random(int(rng.integers(2**62)))   # the per-row draws
    states = STATES[:p["states"]]
    lo_id, hi_id = p["unit_ids"]
    lo_u, hi_u = p["units_per_row"]
    latest = {}                       # state -> latest season
    listed = {}                       # (state, species, season) -> (list, set) of GMUs

    def fresh(bucket):
        while True:
            u = pr.randint(lo_id, hi_id)
            if u not in bucket[1]:
                return u

    for b in range(p["batches"]):
        if b < len(states):
            st, season, opening = states[b], p["first_season"], True
        else:
            # states take turns; every 1 / new_season_share-th report opens a
            # season, so seeds differ in content, not in the table's shape
            k = b - len(states)
            st = states[k % len(states)]
            opening = k % round(1 / p["new_season_share"]) == 0
            if opening:
                season = latest[st] + 1
            else:
                seasons = list(range(p["first_season"], latest[st] + 1))
                w = [math.exp((s - latest[st]) / p["recency_tau_seasons"]) for s in seasons]
                season = pr.choices(seasons, weights=w)[0]
        latest[st] = max(latest.get(st, season), season)
        n = p["backfill_rows"] if b < len(states) else p["rows_per_batch"]
        cols = {k: [] for k in ["species", "gmu_list"]}
        for _ in range(n):
            sp = SPECIES[pr.randrange(len(SPECIES))]
            r = pr.random()
            if r < p["malformed_share"]:
                gmu = ("see map" if r < p["malformed_share"] / 2 else
                       f"{pr.randint(lo_id, hi_id)}; {pr.randrange(9)}")
            else:
                bucket = listed.setdefault((st, sp, season), ([], set()))
                units = []
                for _ in range(pr.randint(lo_u, hi_u)):
                    full = len(bucket[0]) > hi_id - lo_id - hi_u    # keeps a draw from spinning
                    if not full and (opening or len(bucket[0]) <= len(units)
                                     or pr.random() < p["new_unit_share"]):
                        u = fresh(bucket)
                        bucket[0].append(u)
                        bucket[1].add(u)
                    else:
                        u = bucket[0][pr.randrange(len(bucket[0]))]
                        while u in units:
                            u = bucket[0][pr.randrange(len(bucket[0]))]
                    units.append(u)
                us = [str(u) for u in units]
                # the fixture's spelling for each GMU count
                gmu = (us[0] if len(us) == 1 else
                       " " + " , ".join(us) + " " if len(us) == 2 else
                       f"{us[0]}, " + ",".join(us[1:]))
            cols["species"].append(sp)
            cols["gmu_list"].append(gmu)
        acct = rng.uniform(-999.99, 9999.99, n)
        herd = rng.integers(0, 50, n)
        no_herd = rng.random(n) < p["null_herd_share"]
        _write(pa.table({
            "state": [st] * n, "species": cols["species"],
            "herd_name": [None if x else f"Herd_{h}" for x, h in zip(no_herd, herd)],
            "post_hunt_estimate": pa.array(np.floor(acct * 10).astype(np.int64), pa.int64()),
            "male_female_ratio": pa.array(acct / 100.0, pa.float64()),
            "year": pa.array([season] * n, pa.int32()),
            "gmu_list": cols["gmu_list"],
        }), f"{out}/batch_{b:05d}.parquet")


def corpus(out, seed):
    """The `corpus_dedup` documents and embeddings, plus `planted.json`
    listing every planted exact group and near-duplicate pair (by doc id)."""
    p = PROPS["corpus_dedup"]
    rng = np.random.default_rng([seed, 3])
    n, (lo, hi), v = p["docs"], p["doc_tokens"], p["vocabulary"]
    words = np.array([f"w{i}" for i in range(v)])
    ranks = np.arange(1, v + 1, dtype=np.float64)
    zipf = ranks ** -1.1
    zipf /= zipf.sum()
    n_near, n_exact = int(n * p["near_dup_share"]), int(n * p["exact_dup_share"])
    n_base = n - n_near - n_exact
    lens = rng.integers(lo, hi + 1, n_base)
    flat = words[rng.choice(v, int(lens.sum()), p=zipf)]
    toks = [list(t) for t in np.split(flat, np.cumsum(lens)[:-1])]
    texts = [" ".join(t) for t in toks]
    near, exact = [], []
    for i in range(n_near):
        src = int(rng.integers(0, n_base))
        t = list(toks[src])
        # edits land at least three tokens apart, so each touches its own shingles
        for pos in rng.choice(np.arange(1, len(t) - 1, 4), p["near_dup_edits"], replace=False):
            t[pos] = words[int(rng.integers(v // 2, v))]
        near.append([src, n_base + i])
        texts.append(" ".join(t))
    for i in range(n_exact):
        src = int(rng.integers(0, n_base))
        t = texts[src]
        texts.append(("  " + t.upper()) if i % 2 == 0 else (t + " "))
        exact.append([src, n_base + n_near + i])
    # shuffle ids so planted copies are not adjacent to their sources
    perm = rng.permutation(n)
    ids = np.empty(n, dtype=np.int64)
    ids[perm] = np.arange(n)
    order = np.argsort(ids)
    _write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [texts[j] for j in order],
        "lang": ["en"] * n,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(texts[j]) for j in order], dtype=np.int64),
    }), f"{out}/documents.parquet")
    _write(_embeddings(rng, np.arange(n, dtype=np.int64), p["embedding_dims"]),
           f"{out}/embeddings.parquet")
    remap = lambda pairs: [sorted([int(ids[a]), int(ids[b])]) for a, b in pairs]
    with open(f"{out}/planted.json", "w") as f:
        json.dump({"near": remap(near), "exact": remap(exact)}, f)


def generate(workload, out, seed):
    if workload == "query_mix":
        star_schema(out, seed, PROPS["query_mix"]["scale_factor"])
    elif workload == "lake_upsert":
        lake_batches(out, seed)
    elif workload == "corpus_dedup":
        corpus(out, seed)
    else:
        raise ValueError(f"unknown workload {workload}")
