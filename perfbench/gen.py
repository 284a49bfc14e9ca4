#!/usr/bin/env python3
"""Seeded input generator for the benchmark's workloads.

    python3 perfbench/gen.py --workload etl_ingest --seed 7 --scale 1 --out DIR

writes the workload's tables to DIR as parquet files named the way the
engine's `Tables` and the DuckDB oracle read them (`DIR/<table>.parquet`).
The same (workload, seed, scale) always gives byte-identical files; the
seed changes which keys are hot and what the documents say, not the amount
of data or of work. It runs in one process with at most `nproc` threads.

etl_ingest    the graph_etl tables followed by the tx_ingest files below.
graph_etl     customer, supplier, orders, lineitem: a TPC-H-shaped star,
              foreign keys consistent, l_suppkey drawn from a Zipf law
              whose hot suppliers the seed picks. Scale 1 is about an
              sf0.05 fixture (300 k lineitem rows).
corpus_dedup  documents: a base corpus with planted near-duplicates
              (one token appended) and exact copies, replicated through
              per-replica token suffixes (the seed picks the suffixes), so
              near-duplicate pairs grow linearly with the replica count.
              Lengths, labels and duplicates follow a fixed pattern; the
              seed draws the tokens, the suffixes and the doc id order.
tx_ingest     events_files/ (4 files, events assigned to files at random,
              so timestamps are out of order across files) and
              events.parquet (the same rows, for the oracle). user_id is
              Zipf-hot.
"""
import argparse
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("etl_ingest", "corpus_dedup")
PARTS = ("graph_etl", "corpus_dedup", "tx_ingest")  # each draws from its own stream

VOCAB = ("the a batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query key window row table stream merge "
         "data big vector join customer").split()
LANGS = ["en", "de", "es", "fr", "zh"]


def rng_for(part, seed):
    return np.random.default_rng([seed, PARTS.index(part)])


def zipf_ranks(rng, n_keys, size, exponent=1.0):
    """Ranks 0..n_keys-1 with P(rank k) proportional to (k+1)^-exponent."""
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -exponent
    return rng.choice(n_keys, size=size, p=p / p.sum())


def micros(rng, start, days, size):
    base = int(dt.datetime(*start, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return base + rng.integers(0, days * 86_400_000_000, size=size)


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size=size), 2)


def write(table, path, groups=8):
    """One parquet file with about `groups` row groups, so a scan splits
    across cores."""
    rows = max(1, -(-table.num_rows // groups))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def ts_array(values):
    return pa.array(values, type=pa.timestamp("us"))


def graph_etl(seed, scale, out):
    rng = rng_for("graph_etl", seed)
    n_cust, n_supp, n_ord = int(7500 * scale), int(500 * scale), int(75000 * scale)
    cust = np.arange(1, n_cust + 1)
    write(pa.table({
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust),
    }), f"{out}/customer.parquet", groups=2)
    supp = np.arange(1, n_supp + 1)
    write(pa.table({
        "s_suppkey": supp,
        "s_name": [f"Supplier#{k:09d}" for k in supp],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet", groups=1)
    okey = np.arange(1, n_ord + 1)
    write(pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 850.0, 550000.0, n_ord),
        "o_orderdate": ts_array(micros(rng, (1992, 1, 1), 2400, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    hot = rng.permutation(supp)  # the seed picks which suppliers are hot
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(pa.table({
        "l_orderkey": np.repeat(okey, lines),
        "l_partkey": rng.integers(1, int(20000 * scale) + 1, n_line),
        "l_suppkey": hot[zipf_ranks(rng, n_supp, n_line)],
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * money(rng, 9.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts_array(micros(rng, (1992, 1, 2), 2520, n_line)),
    }), f"{out}/lineitem.parquet")


def corpus_dedup(seed, scale, out, replicas=2):
    rng = rng_for("corpus_dedup", seed)
    n_base = int(1500 * scale)
    stop, words = np.array(VOCAB[:2]), np.array(VOCAB[2:])
    # The corpus's shape is fixed and only its tokens and order depend on
    # the seed, so every seed gives the cleaning filters, the exact and
    # near-duplicate detectors and the cluster rounds the same amount of
    # work: document k has 10 + (37 k mod 90) tokens, a tenth of them
    # stop words, and language label LANGS[k mod 5] ...
    texts = []
    for k in range(n_base):
        n = 10 + (37 * k) % 90
        toks = np.concatenate([stop[rng.integers(0, 2, -(-n // 10))],
                               words[rng.integers(0, len(words), n - -(-n // 10))]])
        texts.append(" ".join(rng.permutation(toks)))
    langs = [LANGS[k % 5] for k in range(n_base)]
    # ... every tenth document has a near-duplicate (one token appended:
    # 3-gram Jaccard n/(n+1), far above the 0.8 threshold) and every
    # twentieth, offset by five, an exact copy
    for k in range(0, n_base, 10):
        texts.append(texts[k] + " " + words[rng.integers(0, len(words))])
        langs.append(langs[k])
    for k in range(5, n_base, 20):
        texts.append(texts[k])
        langs.append(langs[k])
    n = len(texts)
    sources = [f"src{k % 5}" for k in range(n)]
    order = rng.permutation(n)  # doc ids carry no trace of the structure
    ids, rows = [], []
    for r in range(replicas):
        # token suffixes map each replica's 3-gram sets one to one, so
        # Jaccard within a replica is unchanged and across replicas is 0
        suffix = "" if r == 0 else "_" + "".join(rng.choice(list("bcdfghjkmnpqrstvwxz"), 3))
        for j in range(n):
            t = texts[order[j]]
            if suffix:
                t = " ".join(w + suffix for w in t.split(" "))
            ids.append(r * 10_000_000 + j)
            rows.append(t)
    write(pa.table({
        "doc_id": np.array(ids, dtype=np.int64),
        "text": rows,
        "lang": [langs[order[j]] for j in range(n)] * replicas,
        "source": [sources[order[j]] for j in range(n)] * replicas,
        "n_chars": np.array([len(t) for t in rows], dtype=np.int64),
    }), f"{out}/documents.parquet")


def tx_ingest(seed, scale, out, files=4):
    rng = rng_for("tx_ingest", seed)
    n_ev, n_users = int(100000 * scale), int(1500 * scale)
    users = rng.permutation(np.arange(1, n_users + 1))  # the seed picks hot users
    ev = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_array(micros(rng, (2024, 1, 1), 30, n_ev)),
        "user_id": users[zipf_ranks(rng, n_users, n_ev)].astype(np.int64),
        "value": money(rng, 0.0, 200.0, n_ev),
    })
    write(ev, f"{out}/events.parquet")
    part = rng.integers(0, files, n_ev)
    os.makedirs(f"{out}/events_files")
    for f in range(files):
        write(ev.filter(pa.array(part == f)), f"{out}/events_files/part-{f:02d}.parquet",
              groups=1)


def etl_ingest(seed, scale, out):
    graph_etl(seed, scale, out)
    tx_ingest(seed, scale, out)


def generate(workload, seed, scale, out):
    """Write the workload's inputs to `out` (replaced if present)."""
    threads = len(os.sched_getaffinity(0))
    pa.set_cpu_count(threads)
    pa.set_io_thread_count(threads)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    globals()[workload](seed, scale, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.scale, a.out)


if __name__ == "__main__":
    main()
