#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes the ten tables of the repository testdata's parquet layout (region nation
customer supplier part orders lineitem events documents embeddings) into
an output directory, plus `ingest/batch_NNN.parquet` document batches for
the ingest workload and `properties.json`, which records the input
properties the workloads depend on. The same seed always gives the same
files; any seed is valid.

Usage: python3 gen.py --seed N --workload NAME --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. Every workload gets all ten tables (the DuckDB
# oracle binds a view per table), but only the tables it reads are big.
SIZES = {
    "fleet_queries":   dict(vehicles=150, obs=10000, docs=300, emb=300, orders=800),
    "ingest_serve":    dict(vehicles=40, obs=2000, docs=500, emb=300, orders=800,
                            batches=16, batch_docs=500),
}

# The repository testdata's token vocabulary plus English stopwords and fixed
# pseudo-words, drawn Zipf-like: frequent enough stopwords for the quality
# filter, and a long enough tail that unrelated documents rarely share a
# word 3-gram (so near-dup and contamination matches are planted ones).
BASE = ("join hash row batch scan column customer filter small slow merge order "
        "vector line table data agg value key stream window a spark part group "
        "big sort query fast the").split()
STOP = "the a of and to in is for on with".split()
SYLL = "ka lo mi nu re sa ti vo ze pa".split()
VOCAB = STOP + [w for w in BASE if w not in STOP] + [x + y + z for x in SYLL for y in SYLL for z in SYLL[:2]]
WEIGHTS = 1.0 / (np.arange(len(VOCAB)) + 30.0)
WEIGHTS /= WEIGHTS.sum()
BOILERPLATE = "the fast spark query scan a table of big data the stream window".split()
LANGS = (["en"] * 44 + ["zh"] * 15 + ["es"] * 15 + ["de"] * 14 + ["fr"] * 12)
N_SOURCES = 20
EVAL_SOURCE = "src19"
DIM = 64
CLUSTER_SIZE = 40           # vectors per embedding cluster (label)

# Shares of the generated corpus (recorded in properties.json).
EXACT_DUP_SHARE = 0.06      # verbatim copies (whitespace/case varied)
NEAR_DUP_SHARE = 0.08       # one token edited per ~40 tokens
BOILERPLATE_SHARE = 0.25    # docs carrying the boilerplate phrase
CONTAM_SHARE = 0.04         # docs quoting a span of an eval (src19) doc
EMB_NEAR_DUP_SHARE = 0.08   # vectors that are a small perturbation of another
RESUBMIT_SHARE = 0.2        # per ingest batch: exact re-submissions
INGEST_NEAR_SHARE = 0.1     # per ingest batch: near-dups of stored docs


def rand_text(rng, lo=20, hi=100):
    n = int(rng.integers(lo, hi))
    return [VOCAB[i] for i in rng.choice(len(VOCAB), n, p=WEIGHTS)]


def near_copy(rng, toks):
    out = list(toks)
    for _ in range(max(1, len(out) // 40)):
        out[int(rng.integers(0, len(out)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def exact_copy(rng, text):
    # normText lower-cases, trims and collapses whitespace: still an exact dup
    return ("  " + text.upper() + " ") if rng.random() < 0.5 else text.replace(" ", "  ")


def documents(rng, n, first_id=0):
    """n documents with planted exact dups, near-dups, boilerplate and eval
    contamination. Returns (columns, per-kind counts)."""
    texts, srcs = [], []
    kinds = {"exact_dup": 0, "near_dup": 0, "boilerplate": 0, "contaminated": 0}
    evals = []
    for i in range(n):
        src = f"src{int(rng.integers(0, N_SOURCES))}"
        r = rng.random()
        if i > 10 and r < EXACT_DUP_SHARE:
            t = exact_copy(rng, texts[int(rng.integers(0, i))])
            kinds["exact_dup"] += 1
        elif i > 10 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            t = " ".join(near_copy(rng, texts[int(rng.integers(0, i))].split()))
            kinds["near_dup"] += 1
        else:
            toks = rand_text(rng)
            # eval documents carry no site template, so decontamination
            # flags only planted spans and chance overlaps
            if src != EVAL_SOURCE and rng.random() < BOILERPLATE_SHARE:
                p = int(rng.integers(0, len(toks)))
                toks = toks[:p] + BOILERPLATE + toks[p:]
                kinds["boilerplate"] += 1
            if evals and src != EVAL_SOURCE and rng.random() < CONTAM_SHARE:
                e = evals[int(rng.integers(0, len(evals)))].split()
                p = int(rng.integers(0, max(1, len(e) - 10)))
                toks = toks + e[p:p + 10]
                kinds["contaminated"] += 1
            t = " ".join(toks)
        if src == EVAL_SOURCE:
            evals.append(t)
        texts.append(t)
        srcs.append(src)
    cols = {
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[int(j)] for j in rng.integers(0, len(LANGS), n)],
        "source": srcs,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return cols, kinds


def embeddings(rng, n):
    # weak cluster structure: unrelated vectors rarely pass the 0.3 cosine
    # near-dup threshold, so duplicate components stay small
    k = max(1, n // CLUSTER_SIZE)
    cents = rng.normal(size=(k, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    vecs = 0.2 * cents[labels] + rng.normal(size=(n, DIM)) / np.sqrt(DIM)
    near = 0
    for i in range(10, n):
        if rng.random() < EMB_NEAR_DUP_SHARE:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.05 * rng.normal(size=DIM) / np.sqrt(DIM)
            labels[i] = labels[j]
            near += 1
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32), near


def write(table, path):
    pq.write_table(pa.table(table), path)


def generate(seed, workload, out_dir):
    """Write one workload's inputs for `seed` into `out_dir`; returns the
    recorded input properties."""
    sz = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    out = lambda name: os.path.join(out_dir, f"{name}.parquet")

    # --- TPC-H-ish dimension and fact tables ---
    write({"r_regionkey": np.arange(5, dtype=np.int32),
           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}, out("region"))
    write({"n_nationkey": np.arange(25, dtype=np.int32),
           "n_name": [f"NATION{i:02d}" for i in range(25)],
           "n_regionkey": (np.arange(25) % 5).astype(np.int32)}, out("nation"))
    n_cust, n_supp, n_part = 150, 20, 200
    write({"c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
           "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
           "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
           "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
           "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"], n_cust)}, out("customer"))
    write({"s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
           "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
           "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
           "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}, out("supplier"))
    write({"p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
           "p_name": [f"part {i}" for i in range(1, n_part + 1)],
           "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
           "p_type": rng.choice(["STANDARD BRUSHED TIN", "SMALL PLATED COPPER",
                                 "PROMO BURNISHED STEEL", "LARGE ANODIZED BRASS"], n_part),
           "p_size": rng.integers(1, 51, n_part).astype(np.int32),
           "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)}, out("part"))
    n_ord = sz["orders"]
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    odate = day0 + rng.integers(0, 2500, n_ord).astype("timedelta64[D]")
    write({"o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
           "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
           "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
           "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
           "o_orderdate": odate,
           "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"], n_ord)}, out("orders"))
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), per)
    n_li = len(okey)
    write({"l_orderkey": okey,
           "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
           "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
           "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32),
           "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
           "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
           "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
           "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
           "l_returnflag": rng.choice(["A", "N", "R"], n_li),
           "l_linestatus": rng.choice(["F", "O"], n_li),
           "l_shipdate": np.repeat(odate, per) + rng.integers(1, 120, n_li).astype("timedelta64[D]")},
          out("lineitem"))

    # --- vehicle observation feed (events → VehicleFeed.fromEvents) ---
    n_obs, fleet = sz["obs"], sz["vehicles"]
    # bursty arrival with occasional multi-day silences (gap detection)
    gaps = rng.exponential(60.0, n_obs)
    gaps[rng.random(n_obs) < 0.002] += 36 * 3600.0
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        (np.cumsum(gaps) * 1e6).astype(np.int64).astype("timedelta64[us]")
    write({"event_id": np.arange(n_obs, dtype=np.int64),
           "ts": ts,
           "user_id": rng.integers(0, fleet, n_obs).astype(np.int64),
           "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_obs,
                                    p=[0.35, 0.3, 0.2, 0.1, 0.05]),
           "value": np.round(rng.gamma(2.0, 12.0, n_obs), 2),
           "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_obs)]}, out("events"))

    # --- corpus: documents and embeddings (vec_id = doc_id) ---
    docs, kinds = documents(rng, sz["docs"])
    write(docs, out("documents"))
    vecs, labels, emb_near = embeddings(rng, sz["emb"])
    write({"vec_id": np.arange(sz["emb"], dtype=np.int64),
           "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
           "label": labels}, out("embeddings"))

    # high-df shingle skew: the most frequent word 3-gram's document share
    df = {}
    for t in docs["text"]:
        toks = t.lower().split()
        for g in {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}:
            df[g] = df.get(g, 0) + 1
    props = {
        "seed": seed, "workload": workload,
        "fleet_size": fleet, "observations": n_obs,
        "obs_per_vehicle": n_obs / fleet,
        "lineitem_rows": n_li, "documents": sz["docs"], "embeddings": sz["emb"],
        "exact_dup_share": kinds["exact_dup"] / sz["docs"],
        "near_dup_share": kinds["near_dup"] / sz["docs"],
        "boilerplate_share": kinds["boilerplate"] / sz["docs"],
        "top_shingle_df_share": max(df.values()) / sz["docs"],
        "eval_contamination_share": kinds["contaminated"] / sz["docs"],
        "embedding_clusters": max(1, sz["emb"] // CLUSTER_SIZE),
        "embedding_near_dup_share": emb_near / sz["emb"],
    }

    # --- ingest batches: fresh docs, exact re-submissions of stored docs
    # (fresh doc_ids, the re-submission contract), near-dups of stored docs
    if "batches" in sz:
        os.makedirs(os.path.join(out_dir, "ingest"), exist_ok=True)
        stored = docs["text"]
        next_id = 1_000_000
        resub_total = 0
        for b in range(sz["batches"]):
            n = sz["batch_docs"]
            fresh, _ = documents(rng, n, next_id)
            texts = list(fresh["text"])
            # every batch has the same composition, shuffled
            n_resub, n_near = round(RESUBMIT_SHARE * n), round(INGEST_NEAR_SHARE * n)
            kind = list(rng.permutation(["resubmit"] * n_resub + ["near"] * n_near +
                                        ["fresh"] * (n - n_resub - n_near)))
            for i, k in enumerate(kind):
                if k == "resubmit":
                    texts[i] = exact_copy(rng, stored[int(rng.integers(0, len(stored)))])
                elif k == "near":
                    texts[i] = " ".join(near_copy(rng, stored[int(rng.integers(0, len(stored)))].split()))
            resub_total += kind.count("resubmit")
            fresh["text"] = texts
            fresh["n_chars"] = np.array([len(t) for t in texts], dtype=np.int64)
            # an ingest source never carries the eval tag
            fresh["source"] = [s if s != EVAL_SOURCE else "src0" for s in fresh["source"]]
            fresh["kind"] = kind
            write(fresh, os.path.join(out_dir, "ingest", f"batch_{b:03d}.parquet"))
            next_id += n
        props.update(ingest_batches=sz["batches"], ingest_batch_docs=sz["batch_docs"],
                     resubmission_share=resub_total / (sz["batches"] * sz["batch_docs"]),
                     ingest_near_dup_share=INGEST_NEAR_SHARE)
    with open(os.path.join(out_dir, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.workload, a.out)


if __name__ == "__main__":
    main()
