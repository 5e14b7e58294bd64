"""Seeded input generation (numpy + pyarrow, no Spark).

Everything the benchmark feeds the engine is written here as parquet
before the Spark session starts, so no metric includes input
generation and the same seed always gives the same bytes.

- ``tables``: the star schema plus ``events`` and ``documents`` that the
  registry queries read, in the layout of the engine's test corpus.
  Generated from a FIXED seed: the ``table_queries`` workload varies
  only the query order with ``--seed``, so its one known failing query
  fails on the same inputs in every run.
- ``event_waves``: waves of click events with Zipf-skewed user keys and
  a share of events that arrive one wave late, plus a user dimension.
- ``doc_waves``: waves of documents with planted near-duplicates, both
  inside a wave and across waves.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101

# table sizes: the engine's sf0.01 test corpus layout
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_EVENTS = 10_000
N_EVENT_USERS = 150
N_DOCUMENTS = 500

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LANGS = np.array(["de", "en", "es", "fr", "zh"])
DOC_WORDS = np.array(
    "key agg row scan slow fast table value part hash a the line sort window "
    "batch spark order data column join small customer query big stream merge "
    "group state event time watermark shuffle stage task file bucket".split()
)

# event waves
WAVE_EVENTS = 100_000
N_USERS = 20_000
ZIPF_S = 1.2
LATE_SHARE = 0.03
DIM_MISSING = 0.1
WAVE_SPAN_S = 3_600  # each wave covers one hour of event time
WINDOW = "10 minutes"
TOPN = 5
EPOCH = dt.datetime(2024, 3, 1)

# doc waves
WAVE_DOCS = 120
VOCAB = 4_000
DOC_WORDS_MIN, DOC_WORDS_MAX = 60, 140
DUP_RATE = 0.15  # share of a wave's docs that are mutated copies
MUTATIONS = (1, 3)  # words substituted in a planted copy, inclusive range


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(DOC_WORDS[rng.integers(0, len(DOC_WORDS), n_words)])


def tables(out: str) -> str:
    """Write the query corpus under ``out``; returns ``out``."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        f"{out}/region.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, N_CUSTOMER)],
            }
        ),
        f"{out}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        f"{out}/supplier.parquet",
    )
    adj = np.array(["small", "red", "blue", "hot", "big", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "nut", "spring"])
    p_price = np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
                "p_name": np.char.add(
                    np.char.add(adj[rng.integers(0, 6, N_PART)], " "),
                    noun[rng.integers(0, 6, N_PART)],
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
                "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                    rng.integers(0, 6, N_PART)
                ],
                "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
                "p_retailprice": p_price,
            }
        ),
        f"{out}/part.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
                "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", 2400),
                "o_orderpriority": PRIORITIES[rng.integers(0, 5, N_ORDERS)],
            }
        ),
        f"{out}/orders.parquet",
    )
    lines_per_order = rng.integers(1, 8, N_ORDERS)
    l_order = np.repeat(np.arange(N_ORDERS), lines_per_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    n_li = len(l_order)
    l_part = rng.integers(0, N_PART, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(l_part, pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
                "l_linenumber": pa.array(l_num, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * p_price[l_part], 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, n_li, "1995-01-02", 2500),
            }
        ),
        f"{out}/lineitem.parquet",
    )
    gaps = rng.uniform(1.0, 2 * 30 * 86400 / N_EVENTS, N_EVENTS)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
                "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
                "user_id": pa.array(rng.integers(0, N_EVENT_USERS, N_EVENTS), pa.int64()),
                "event_type": EVENT_TYPES[rng.integers(0, 5, N_EVENTS)],
                "value": _money(rng, 0.01, 490.0, N_EVENTS),
                "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
            }
        ),
        f"{out}/events.parquet",
    )
    texts = [_doc_text(rng, int(n)) for n in rng.integers(8, 90, N_DOCUMENTS)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
                "text": texts,
                "lang": LANGS[rng.integers(0, 5, N_DOCUMENTS)],
                "source": np.char.add("src", rng.integers(0, 20, N_DOCUMENTS).astype(str)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{out}/documents.parquet",
    )
    return out


def event_waves(out: str, seed: int, n_waves: int) -> list[str]:
    """Write ``n_waves`` event waves and ``users.parquet`` under ``out``.

    Wave ``w`` covers event time [w, w+1) hours after ``EPOCH``; a
    ``LATE_SHARE`` of its events carry a timestamp from wave ``w-1``'s
    hour instead (they arrive one wave late). User keys are
    Zipf(``ZIPF_S``)-skewed over ``N_USERS`` users. Returns the wave
    file paths in order."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    # Zipf over a finite key space: rank r has weight r^-s; ranks are
    # scattered over user ids so the hot keys are not the low ids
    w = np.arange(1, N_USERS + 1, dtype=float) ** -ZIPF_S
    p = w / w.sum()
    perm = rng.permutation(N_USERS)
    # the user dimension misses DIM_MISSING of the users, so the
    # left outer join has unmatched rows
    dim = np.sort(rng.choice(N_USERS, int(N_USERS * (1 - DIM_MISSING)), replace=False))
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array(dim, pa.int64()),
                "segment": SEGMENTS[rng.integers(0, 5, len(dim))],
                "country": pa.array(rng.integers(0, 40, len(dim)), pa.int32()),
            }
        ),
        f"{out}/users.parquet",
    )
    paths = []
    for wave in range(n_waves):
        n = WAVE_EVENTS
        sec = rng.uniform(0, WAVE_SPAN_S, n)
        hour = np.full(n, wave, dtype=np.int64)
        if wave > 0:
            hour[rng.random(n) < LATE_SHARE] -= 1
        users = perm[rng.choice(N_USERS, n, p=p)]
        path = f"{out}/wave_{wave:04d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(wave * WAVE_EVENTS + np.arange(n), pa.int64()),
                    "ts": _ts(EPOCH, hour * WAVE_SPAN_S + sec),
                    "user_id": pa.array(users, pa.int64()),
                    "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
                    "value": _money(rng, 0.01, 500.0, n),
                }
            ),
            path,
        )
        paths.append(path)
    return paths


def _mutate(rng: np.random.Generator, words: list[str]) -> list[str]:
    out = list(words)
    k = int(rng.integers(MUTATIONS[0], MUTATIONS[1] + 1))
    for pos in rng.choice(len(out), size=k, replace=False):
        out[pos] = f"w{int(rng.integers(0, VOCAB))}"
    return out


def doc_waves(out: str, seed: int, n_waves: int) -> tuple[list[str], dict[int, str], list[tuple[int, int]]]:
    """Write ``n_waves`` document waves under ``out``.

    Base documents are ``DOC_WORDS_MIN``..``DOC_WORDS_MAX`` words drawn
    uniformly from a ``VOCAB``-word vocabulary, so unrelated documents
    share almost no word 3-grams. A ``DUP_RATE`` share of each wave are
    planted copies of an earlier document — half from the same wave,
    half from an earlier wave — with ``MUTATIONS`` words substituted.
    Each source document is copied at most once. Returns the wave
    paths, every document's text by id, and the planted (source, copy)
    id pairs."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    texts: dict[int, str] = {}
    planted: list[tuple[int, int]] = []
    copied: set[int] = set()
    earlier: list[int] = []
    paths = []
    next_id = 0
    for wave in range(n_waves):
        n_dup = int(round(WAVE_DOCS * DUP_RATE))
        n_base = WAVE_DOCS - n_dup
        ids, wave_texts, wave_base = [], [], []
        for _ in range(n_base):
            n_words = int(rng.integers(DOC_WORDS_MIN, DOC_WORDS_MAX + 1))
            words = [f"w{int(v)}" for v in rng.integers(0, VOCAB, n_words)]
            texts[next_id] = " ".join(words)
            ids.append(next_id)
            wave_texts.append(texts[next_id])
            wave_base.append(next_id)
            next_id += 1
        for j in range(n_dup):
            pool = earlier if (j % 2 and earlier) else wave_base
            src = int(pool[int(rng.integers(0, len(pool)))])
            while src in copied:
                src = int(pool[int(rng.integers(0, len(pool)))])
            copied.add(src)
            texts[next_id] = " ".join(_mutate(rng, texts[src].split(" ")))
            planted.append((src, next_id))
            ids.append(next_id)
            wave_texts.append(texts[next_id])
            next_id += 1
        order = rng.permutation(len(ids))
        path = f"{out}/wave_{wave:04d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([ids[i] for i in order], pa.int64()),
                    "text": [wave_texts[i] for i in order],
                }
            ),
            path,
        )
        paths.append(path)
        earlier.extend(wave_base)
    return paths, texts, planted
