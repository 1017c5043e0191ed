"""Seeded input tables for the benchmark workloads.

Every table is a pure function of (seed, sizes): the same seed writes
byte-identical parquet files. Shapes follow the synthetic fixture
tables described in TESTDATA.md: a 30-day `events` stream with ~67 events
per user, 500-doc text corpus, unit 64-d embeddings and TPC-H-ish star
tables.

`transcripts` is the ingest input. It is the fixture's sparse
shape (conv_id = user, turns spread over 30 days) replicated with
seeded conv_id suffixes and day shifts inside the same 30 days, plus a
few planted long, dense conversations that exercise the salted-fit
skew path.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
SPAN_DAYS = 30
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "batch", "part", "line", "order", "small", "sort", "query",
    "index", "shuffle", "join", "group", "filter", "scan", "write",
    "read", "cache", "plan", "stage", "task", "row", "key", "hash", "agg",
]


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Fixture-shaped events: uniform over 30 days, n/66.7 users."""
    n_users = max(1, n * 15 // 1000)
    ts = BASE_TS + np.sort(rng.integers(0, SPAN_DAYS * DAY_US, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
            pa.string(),
        ),
    })


def _transcripts(conv: np.ndarray, ts: np.ndarray, etype: np.ndarray,
                 text: np.ndarray) -> pa.Table:
    """Transcript rows with turn_idx by (conv, ts) order — the mapping of
    `transcripts_from_events` (role = event type, tool for click/purchase)."""
    order = np.lexsort((np.arange(conv.size), ts, conv))
    conv, ts, etype, text = conv[order], ts[order], etype[order], text[order]
    first = np.ones(conv.size, dtype=bool)
    first[1:] = conv[1:] != conv[:-1]
    starts = np.flatnonzero(first)
    lens = np.diff(np.append(starts, conv.size))
    turn_idx = np.arange(conv.size) - np.repeat(starts, lens)
    tool = np.where(np.isin(etype, ["click", "purchase"]), etype, None)
    return pa.table({
        "conv_id": pa.array(conv.astype(str), pa.string()),
        "turn_idx": pa.array(turn_idx.astype(np.int32), pa.int32()),
        "role": pa.array(etype.astype(str), pa.string()),
        "text": pa.array(text.astype(str), pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us")),
    })


def transcripts_table(
    seed: int,
    base_events: int,
    copies: int,
    dense_convs: int = 3,
    dense_turns: int = 300,
) -> tuple[pa.Table, pa.Table]:
    """(replicated transcripts, unreplicated base transcripts)."""
    rng = np.random.default_rng(seed)
    ev = events_table(rng, base_events)
    user = ev["user_id"].to_numpy()
    ts_us = (ev["ts"].to_numpy() - BASE_TS).astype(np.int64)
    etype = ev["event_type"].to_numpy(zero_copy_only=False).astype(object)
    text = ev["props"].to_numpy(zero_copy_only=False).astype(object)
    base = _transcripts(user.astype(str).astype(object), BASE_TS + ts_us, etype, text)

    convs, tss, types, texts = [], [], [], []
    n_users = int(user.max()) + 1
    for c in range(copies):
        shift = rng.integers(0, SPAN_DAYS, size=n_users) * DAY_US
        convs.append(np.char.add(user.astype(str), f"-{c}").astype(object))
        tss.append((ts_us + shift[user]) % (SPAN_DAYS * DAY_US))
        types.append(etype)
        texts.append(text)
    for d in range(dense_convs):
        # a long conversation packed into two hours: several turns per minute
        start = int(rng.integers(0, SPAN_DAYS - 1)) * DAY_US
        convs.append(np.full(dense_turns, f"dense-{d}", dtype=object))
        tss.append(start + np.sort(rng.integers(0, 2 * 3_600_000_000, size=dense_turns)))
        types.append(rng.choice(EVENT_TYPES, size=dense_turns).astype(object))
        texts.append(np.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=dense_turns)],
            dtype=object,
        ))
    full = _transcripts(
        np.concatenate(convs), BASE_TS + np.concatenate(tss),
        np.concatenate(types), np.concatenate(texts),
    )
    return full, base


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """10-100 word docs with planted exact (~0.2%) and near (~1%) dups."""
    words_per = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=w).tolist()) for w in words_per]
    n_exact, n_near = max(1, n // 625), max(1, n // 100)
    src = rng.integers(0, n, size=n_exact + n_near)
    dst = rng.integers(0, n, size=n_exact + n_near)
    for i in range(n_exact):
        texts[dst[i]] = texts[src[i]]
    for i in range(n_exact, n_exact + n_near):
        toks = texts[src[i]].split()
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
        texts[dst[i]] = " ".join(toks)
    langs = rng.choice(["en", "zh", "es", "fr", "de"], size=n,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Isotropic unit vectors with ~1% planted near-duplicates."""
    v = rng.normal(size=(n, dim))
    n_near = max(1, n // 100)
    src, dst = rng.integers(0, n, size=n_near), rng.integers(0, n, size=n_near)
    v[dst] = v[src] + rng.normal(size=(n_near, dim)) * 0.01
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(v.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32), pa.int32()),
    })


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-ish star tables at the fixture's per-sf row counts."""
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    span = 730 * DAY_US
    base = np.datetime64("2023-01-01", "us")
    o_date = base + rng.integers(0, span, size=n_ord)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array([f"region{i}" for i in range(5)]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"nation{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"cust{i}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTO", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"], size=n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"supp{i}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"part{i}" for i in range(n_part)]),
            "p_brand": pa.array([f"Brand#{i % 25}" for i in range(n_part)]),
            "p_type": pa.array(rng.choice(
                ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], size=n_part)),
            "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(850, 55000, n_ord), 2)),
            "o_orderdate": pa.array(o_date, pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice([f"{i}-P" for i in range(1, 6)], size=n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li)),
            "l_shipdate": pa.array(base + rng.integers(0, span, size=n_li), pa.timestamp("us")),
        }),
    }


def write_driver_tables(seed: int, sf: float, out: str) -> None:
    """All ten driver tables for `__spark_entry__.queries()` at `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": events_table(rng, int(1_000_000 * sf)),
        "documents": documents_table(rng, max(500, int(50_000 * sf))),
        "embeddings": embeddings_table(rng, max(500, int(20_000 * sf))),
    }
    tables.update(tpch_tables(rng, sf))
    for name, table in tables.items():
        pq.write_table(table, f"{out}/{name}.parquet")


def write_transcripts(seed: int, base_events: int, copies: int, out: str) -> dict:
    """Writes transcripts.parquet and base.parquet under `out`."""
    os.makedirs(out, exist_ok=True)
    full, base = transcripts_table(seed, base_events, copies)
    pq.write_table(full, f"{out}/transcripts.parquet")
    pq.write_table(base, f"{out}/base.parquet")
    return {"turns": full.num_rows, "base_turns": base.num_rows}
