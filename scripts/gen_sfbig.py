"""Generate a driver-SHAPED larger scale factor for local measurement.

The grading driver escalates its measurement scale factor by generating
its own tables (BENCH_r06.json: sf=1.0); that data is not on disk after
a sandbox reboot. This script synthesizes tables with the same schemas
and the empirical sf0.1 distributions (user count, docs, vocabulary,
planted exact/near duplicate rates, unit 64-d embeddings, 30-day event
window) scaled by --mult, so optimizations can be A/B-measured at the
driver's measurement scale. Output goes OUTSIDE /root/testdata (which
is read-only fixture data) and is used only by bench_extra.py runs —
never by tests or the declared queries.

Usage: python scripts/gen_sfbig.py --mult 10 --out /root/sfbig
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "batch", "part", "line", "order", "small", "sort", "query",
    "index", "shuffle", "join", "group", "filter", "scan", "write",
    "read", "cache", "plan", "stage", "task", "row", "key", "hash",
    "agg",
]


def gen_documents(rng: np.random.Generator, n: int):
    words_per = rng.integers(10, 101, size=n)
    texts = [
        " ".join(rng.choice(VOCAB, size=w).tolist()) for w in words_per
    ]
    # planted structure at sf0.1 rates: ~0.2% exact dups, ~1% near dups
    # (randomly perturb a copy of an earlier doc by one word)
    n_exact = max(1, n // 625)
    n_near = max(1, n // 100)
    src = rng.integers(0, n, size=n_exact + n_near)
    dst = rng.integers(0, n, size=n_exact + n_near)
    for i in range(n_exact):
        texts[dst[i]] = texts[src[i]]
    for i in range(n_exact, n_exact + n_near):
        toks = texts[src[i]].split()
        if len(toks) > 4:
            toks[int(rng.integers(0, len(toks)))] = str(
                rng.choice(VOCAB)
            )
        texts[dst[i]] = " ".join(toks)
    langs = rng.choice(
        ["en", "zh", "es", "fr", "de"], size=n, p=[0.41, 0.15, 0.15, 0.15, 0.14]
    )
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(
                [f"src{i % 20}" for i in range(n)], pa.string()
            ),
            "n_chars": pa.array(
                np.array([len(t) for t in texts]), pa.int64()
            ),
        }
    )


def gen_embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    """ISOTROPIC unit vectors (the fixtures' regime per the ann_recall
    docstring — no planted clusters; that is the adversarial case for
    LSH) plus a sparse sprinkle of planted near-duplicates at roughly
    the fixtures' observed pair density."""
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    v = rng.normal(size=(n, dim))
    n_near = max(1, n // 100)
    src = rng.integers(0, n, size=n_near)
    dst = rng.integers(0, n, size=n_near)
    v[dst] = v[src] + rng.normal(size=(n_near, dim)) * 0.01
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                v.astype(np.float32).tolist(),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def gen_events(rng: np.random.Generator, n: int, n_users: int):
    days_us = 30 * 86_400_000_000  # microseconds over 30 days
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + np.sort(rng.integers(0, days_us, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, n_users, size=n), pa.int64()
            ),
            "event_type": pa.array(
                rng.choice(
                    ["view", "click", "purchase", "signup", "error"], size=n
                ),
                pa.string(),
            ),
            "value": pa.array(
                np.round(rng.exponential(50.0, size=n), 2), pa.float64()
            ),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
                pa.string(),
            ),
        }
    )


def gen_tpch(rng: np.random.Generator, out: str, mult: int):
    """TPC-H-ish star tables at sf0.1 shapes x mult."""
    n_part = 20_000 * mult
    n_supp = 1_000 * mult
    n_cust = 15_000 * mult
    n_ord = 150_000 * mult
    n_li = 600_000 * mult
    base = np.datetime64("2023-01-01", "us")
    span = 730 * 86_400_000_000

    pq.write_table(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array([f"region{i}" for i in range(5)]),
    }), f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"nation{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), f"{out}/nation.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"cust{i}" for i in range(n_cust)]),
        "c_nationkey": pa.array(
            rng.integers(0, 25, size=n_cust).astype(np.int32)
        ),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(
            rng.choice(["AUTO", "BUILDING", "FURNITURE", "MACHINERY",
                        "HOUSEHOLD"], size=n_cust)
        ),
    }), f"{out}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"supp{i}" for i in range(n_supp)]),
        "s_nationkey": pa.array(
            rng.integers(0, 25, size=n_supp).astype(np.int32)
        ),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    }), f"{out}/supplier.parquet")
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"part{i}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{i % 25}" for i in range(n_part)]),
        "p_type": pa.array(
            rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                        "PROMO"], size=n_part)
        ),
        "p_size": pa.array(
            rng.integers(1, 51, size=n_part).astype(np.int32)
        ),
        "p_retailprice": pa.array(
            np.round(rng.uniform(900, 2000, n_part), 2)
        ),
    }), f"{out}/part.parquet")
    o_date = base + rng.integers(0, span, size=n_ord)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(850, 55000, n_ord), 2)),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            rng.choice([f"{i}-P" for i in range(1, 6)], size=n_ord)
        ),
    }), f"{out}/orders.parquet")
    li_ord = rng.integers(0, n_ord, size=n_li)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(li_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(
            rng.integers(1, 8, size=n_li).astype(np.int32)
        ),
        "l_quantity": pa.array(
            rng.integers(1, 51, size=n_li).astype(np.float64)
        ),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li)),
        "l_shipdate": pa.array(
            base + rng.integers(0, span, size=n_li), pa.timestamp("us")
        ),
    }), f"{out}/lineitem.parquet")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10, help="x sf0.1")
    ap.add_argument("--out", default="/root/sfbig")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rng = np.random.default_rng(args.seed)
    pq.write_table(
        gen_events(rng, 100_000 * args.mult, 1_500 * args.mult),
        f"{args.out}/events.parquet",
    )
    pq.write_table(
        gen_documents(rng, 5_000 * args.mult), f"{args.out}/documents.parquet"
    )
    pq.write_table(
        gen_embeddings(rng, 2_000 * args.mult),
        f"{args.out}/embeddings.parquet",
    )
    gen_tpch(rng, args.out, args.mult)
    print(f"wrote {args.out} at {args.mult}x sf0.1 shapes")


if __name__ == "__main__":
    main()
