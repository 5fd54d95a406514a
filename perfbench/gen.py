"""Seeded input generators for the three workloads.

Everything here is numpy/pyarrow/pandas only -- the engine never
generates its own inputs, it only reads the files written here. The
same ``(seed, index)`` always yields byte-identical files; a different
seed gives different rows of the same shape and size.

The distributions follow the repo's sf0.1 testdata (documents: a
30-word vocabulary, 10..100 tokens per doc; events: five event types at
equal shares; embeddings: 64-dim float32), frozen here as constants so a
run needs nothing outside its own checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# --- shared -----------------------------------------------------------------

BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z, the sf0.1 events start
DAY = 86_400
HOUR = 3_600


def _rng(seed: int, *stream: int) -> np.random.Generator:
    # stream ids start at -1 (bootstrap batches); entropy must be >= 0
    return np.random.default_rng([seed, *(s + 1 for s in stream)])


def _write_jsonl(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    df.to_json(tmp, orient="records", lines=True)
    os.replace(tmp, path)


# --- batch_etl --------------------------------------------------------------

# Traffic dimensions (README "batch_etl").
INV_KEYS = 8_000  # fixed inventory key space -> constant table size
INV_WAREHOUSES = 8
INV_ROWS = 4_000  # rows per inventory batch
INV_STEP_HOURS = 3  # batch i's last_updated lies in hours [3(i+1), 3(i+2))
INV_INVALID = 0.02  # half negative stock_level, half missing warehouse_id
POS_ROWS = 4_000  # rows per POS batch
POS_PRODUCTS = 1_000
POS_STORES = 10
POS_DATE_WINDOW = 14  # fixed (product_id, date) KPI key space
POS_DATES_PER_BATCH = 3
POS_INVALID = 0.03  # 2/3 null quantity, 1/3 negative revenue
POS_DUP_ROWS = 0.03  # exact duplicate rows inside a batch

_INV_BOOTSTRAP = -1


def inventory_batch(seed: int, index: int) -> pd.DataFrame:
    """One inventory JSONL batch. ``index == -1`` is the bootstrap
    batch: every key once, all valid, so the table starts at its full,
    fixed size and every later batch is pure updates."""
    rng = _rng(seed, 1, index)
    if index == _INV_BOOTSTRAP:
        ids = np.arange(INV_KEYS, dtype=np.int64)
    else:
        ids = rng.integers(0, INV_KEYS, INV_ROWS, dtype=np.int64)
    n = len(ids)
    # Each batch is newer than the one before, so "the last batch
    # containing a key wins" (the engine's MERGE) and "keep the latest
    # row per key" (the check) agree; keys move to later date
    # partitions as they are updated. Millisecond timestamps make ties
    # inside a batch vanishingly rare; the engine breaks them by
    # product_id, a function of the key.
    step_ms = INV_STEP_HOURS * HOUR * 1000
    ms = (index + 1) * step_ms + rng.integers(0, step_ms, n)
    stock = pd.array(rng.integers(0, 500, n), dtype="Int64")
    restock = pd.array(rng.integers(0, 50, n), dtype="Int64")
    restock[rng.random(n) < 0.1] = pd.NA
    warehouse = pd.array(ids % INV_WAREHOUSES, dtype="Int64")
    if index != _INV_BOOTSTRAP:
        bad = rng.random(n) < INV_INVALID
        neg = bad & (rng.random(n) < 0.5)
        stock[neg] = -rng.integers(1, 50, int(neg.sum()))
        warehouse[bad & ~neg] = pd.NA
    return pd.DataFrame(
        {
            "inventory_id": ids,
            "product_id": ids // INV_WAREHOUSES,
            "warehouse_id": warehouse,
            "stock_level": stock,
            "restock_threshold": restock,
            "last_updated": BASE_EPOCH + ms / 1000.0,
        }
    )


def pos_batch(seed: int, index: int) -> pd.DataFrame:
    """One POS CSV batch touching ``POS_DATES_PER_BATCH`` consecutive
    dates of a fixed window (partition-scoped KPI merge)."""
    rng = _rng(seed, 2, index)
    n_unique = POS_ROWS - int(POS_ROWS * POS_DUP_ROWS)
    first = (index % (POS_DATE_WINDOW - POS_DATES_PER_BATCH + 1)) * DAY
    day = rng.integers(0, POS_DATES_PER_BATCH, n_unique)
    ts = BASE_EPOCH + first + day * DAY + rng.integers(0, DAY * 1000, n_unique) / 1000.0
    qty = pd.array(rng.integers(1, 11, n_unique), dtype="Int64")
    price = rng.integers(100, 20_000, n_unique) / 100.0
    revenue = np.round(qty.to_numpy(dtype=np.int64) * price, 2)
    bad = rng.random(n_unique) < POS_INVALID
    null_q = bad & (rng.random(n_unique) < 2 / 3)
    qty[null_q] = pd.NA
    revenue[bad & ~null_q] = -revenue[bad & ~null_q]
    discount = np.where(rng.random(n_unique) < 0.3, np.round(rng.random(n_unique) * 0.3, 2), np.nan)
    df = pd.DataFrame(
        {
            "transaction_id": [f"s{seed}-b{index}-{j}" for j in range(n_unique)],
            "store_id": rng.integers(0, POS_STORES, n_unique).astype(np.int32),
            "product_id": rng.integers(0, POS_PRODUCTS, n_unique).astype(np.int32),
            "quantity": qty,
            "revenue": revenue,
            "discount_applied": discount,
            "timestamp": ts,
        }
    )
    dups = df.iloc[rng.integers(0, n_unique, POS_ROWS - n_unique)]
    return pd.concat([df, dups], ignore_index=True)


def write_inventory_batch(seed: int, index: int, path: str) -> pd.DataFrame:
    df = inventory_batch(seed, index)
    _write_jsonl(df, path)
    return df


def write_pos_batch(seed: int, index: int, path: str) -> pd.DataFrame:
    df = pos_batch(seed, index)
    tmp = path + ".tmp"
    pacsv.write_csv(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)
    return df


# --- stream_ingest ----------------------------------------------------------

WEB_EVENTS = 27_000  # events per tick (one landed file)
WEB_SESSIONS = 600
WEB_ANON = 0.2  # events without user_id -> deterministic anon id
WEB_LATE = 0.1  # events 1..3 hours behind the tick's hour
WEB_LATE_HOURS = 3
WEB_INVALID = 0.02  # missing page or a non-positive timestamp
CRM_EVENTS = 13_500
CRM_CUSTOMERS = 5_000
CRM_INVALID = 0.02  # customer_id <= 0
RETAIN_HOURS = 6  # landed hour partitions kept, the newest tick's included

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
PAGES = ("/", "/cart", "/checkout", "/product", "/search", "/account")
DEVICES = ("desktop", "mobile", "tablet")
BROWSERS = ("chrome", "firefox", "safari", "edge")
INTERACTIONS = ("call", "email", "chat", "  ", "visit")
CHANNELS = ("phone", "web", "store", "")


def tick_hour(index: int) -> int:
    """Simulated hour (epoch hours) a tick lands in: one hour per tick."""
    return BASE_EPOCH // HOUR + 24 + index


def web_tick(seed: int, index: int) -> pd.DataFrame:
    rng = _rng(seed, 3, index)
    n = WEB_EVENTS
    hour = tick_hour(index)
    lag = np.where(rng.random(n) < WEB_LATE, rng.integers(1, WEB_LATE_HOURS + 1, n), 0)
    ts = (hour - lag) * HOUR + rng.integers(0, HOUR * 1000, n) / 1000.0
    sess = rng.integers(0, WEB_SESSIONS, n)
    user = np.array([f"u{s % 400}" for s in sess], dtype=object)
    user[rng.random(n) < WEB_ANON] = None
    page = np.array(PAGES, dtype=object)[rng.integers(0, len(PAGES), n)]
    bad = rng.random(n) < WEB_INVALID
    no_page = bad & (rng.random(n) < 0.5)
    page[no_page] = None
    ts[bad & ~no_page] = 0.0
    return pd.DataFrame(
        {
            "session_id": [f"s{seed}-{x}" for x in sess],
            "user_id": user,
            "page": page,
            "device_type": np.array(DEVICES, dtype=object)[rng.integers(0, len(DEVICES), n)],
            "browser": np.array(BROWSERS, dtype=object)[rng.integers(0, len(BROWSERS), n)],
            "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)],
            "timestamp": ts,
        }
    )


def crm_tick(seed: int, index: int) -> pd.DataFrame:
    rng = _rng(seed, 4, index)
    n = CRM_EVENTS
    hour = tick_hour(index)
    cust = rng.integers(1, CRM_CUSTOMERS, n).astype(np.int64)
    cust[rng.random(n) < CRM_INVALID] = 0
    rating = pd.array(rng.integers(0, 7, n), dtype="Int64")  # 0 and 6 -> NULL
    rating[rng.random(n) < 0.1] = pd.NA
    return pd.DataFrame(
        {
            "customer_id": cust,
            "interaction_type": np.array(INTERACTIONS, dtype=object)[
                rng.integers(0, len(INTERACTIONS), n)
            ],
            "timestamp": hour * HOUR + rng.integers(0, HOUR * 1000, n) / 1000.0,
            "channel": np.array(CHANNELS, dtype=object)[rng.integers(0, len(CHANNELS), n)],
            "rating": rating,
            "message_excerpt": [f"m{x}" for x in rng.integers(0, 1000, n)],
        }
    )


def crm_ingestion_time(index: int) -> str:
    """The pinned ingestion stamp of tick `index` (UTC, 30 min into
    its hour), so CRM lands under the tick's simulated hour."""
    return pd.Timestamp((tick_hour(index) * HOUR + 1800), unit="s").strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def write_web_tick(seed: int, index: int, paths: list[str]) -> pd.DataFrame:
    df = web_tick(seed, index)
    for p in paths:
        _write_jsonl(df, p)
    return df


def write_crm_tick(seed: int, index: int, path: str) -> pd.DataFrame:
    df = crm_tick(seed, index)
    _write_jsonl(df, path)
    return df


# --- corpus_curation --------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOCS = 200
DOC_TOKENS = (10, 100)  # uniform token count, as in sf0.1
DOC_EXACT_DUP = 0.05  # verbatim copies of another doc
DOC_NEAR_DUP = 0.10  # copies with ~5% of tokens replaced
EMB_ROWS = 800
EMB_DIM = 64
EMB_DUP = 0.05  # exact vector copies under a new id (the e6 shape)


def documents(seed: int) -> pa.Table:
    rng = _rng(seed, 5)
    lo, hi = DOC_TOKENS
    n_exact = int(DOCS * DOC_EXACT_DUP)
    n_near = int(DOCS * DOC_NEAR_DUP)
    n_base = DOCS - n_exact - n_near
    vocab = np.array(VOCAB, dtype=object)
    toks = [vocab[rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1))] for _ in range(n_base)]
    texts = [" ".join(t) for t in toks]
    for src in rng.integers(0, n_base, n_exact):
        texts.append(texts[src])
    for src in rng.integers(0, n_base, n_near):
        t = toks[src].copy()
        edit = rng.random(len(t)) < 0.05
        t[edit] = vocab[rng.integers(0, len(VOCAB), int(edit.sum()))]
        texts.append(" ".join(t))
    order = rng.permutation(DOCS)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], DOCS), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int) -> pa.Table:
    rng = _rng(seed, 6)
    n_dup = int(EMB_ROWS * EMB_DUP)
    base = rng.standard_normal((EMB_ROWS - n_dup, EMB_DIM)).astype(np.float32)
    vecs = np.concatenate([base, base[rng.integers(0, len(base), n_dup)]])
    vecs = vecs[rng.permutation(EMB_ROWS)]
    flat = pa.array(vecs.reshape(-1))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(EMB_ROWS, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, EMB_ROWS * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
            ),
        }
    )


def write_corpus(seed: int, docs_path: str, emb_path: str) -> tuple[pa.Table, pa.Table]:
    docs, emb = documents(seed), embeddings(seed)
    pq.write_table(docs, docs_path)
    pq.write_table(emb, emb_path)
    return docs, emb


def traffic() -> dict:
    """Each workload's traffic dimensions, recorded in every result."""
    return {
        "batch_etl": {
            "inventory_rows_per_batch": INV_ROWS,
            "inventory_keys": INV_KEYS,
            "inventory_update_share": 1.0,
            "inventory_in_batch_dup_keys_share": round(
                1 - INV_KEYS * (1 - np.exp(-INV_ROWS / INV_KEYS)) / INV_ROWS, 3
            ),
            "inventory_invalid_share": INV_INVALID,
            "inventory_hours_per_batch": INV_STEP_HOURS,
            "pos_rows_per_batch": POS_ROWS,
            "pos_dates_per_batch": POS_DATES_PER_BATCH,
            "pos_kpi_keys": POS_PRODUCTS * POS_DATE_WINDOW,
            "pos_invalid_share": POS_INVALID,
            "pos_duplicate_row_share": POS_DUP_ROWS,
        },
        "stream_ingest": {
            "web_events_per_tick": WEB_EVENTS,
            "crm_events_per_tick": CRM_EVENTS,
            "hours_spanned_per_tick": WEB_LATE_HOURS + 1,
            "late_event_share": WEB_LATE,
            "web_invalid_share": WEB_INVALID,
            "crm_invalid_share": CRM_INVALID,
            "anon_share": WEB_ANON,
            "retained_hours": RETAIN_HOURS,
        },
        "corpus_curation": {
            "docs": DOCS,
            "exact_dup_rate": DOC_EXACT_DUP,
            "near_dup_rate": DOC_NEAR_DUP,
            "doc_tokens": list(DOC_TOKENS),
            "embeddings": EMB_ROWS,
            "embedding_dim": EMB_DIM,
            "embedding_dup_rate": EMB_DUP,
        },
    }
