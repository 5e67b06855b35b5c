"""Seeded input generators for the benchmark.

Every input is built here with NumPy and written with PyArrow, so an
engine change can never change what the engine is given: the same seed
and size always produce byte-identical landing files.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Tickers of the engine's 20-entry company map; the rest of the
#: universe is synthetic and falls outside the map (Company → 'Unknown').
MAPPED_TICKERS = (
    "AAPL MSFT GOOGL AMZN NVDA META TSLA JPM V JNJ "
    "WMT PG XOM UNH HD MA BAC DIS KO PFE"
).split()

#: Document vocabulary: the 30 words of the repository's test corpus
#: (TESTDATA.md). 'the' and
#: 'a' are the English markers the language filter looks for.
VOCAB = np.array(
    (
        "spark window merge table column vector stream value data small "
        "join filter big group hash customer sort order slow line part "
        "fast row the agg key query a scan batch"
    ).split()
)

FIRST_DAY = np.datetime64("2010-01-04")
NULL_FRAC = 0.03


def content_hash(paths: list[Path]) -> str:
    """SHA-256 over the bytes of ``paths`` (directories walked in
    sorted order) — the key of the oracle cache."""
    h = hashlib.sha256()
    for p in paths:
        files = sorted(p.rglob("*")) if p.is_dir() else [p]
        for f in files:
            if f.is_file():
                h.update(f.name.encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# finance_etl: OHLCV history + incremental batches
# ---------------------------------------------------------------------------


def tickers(n: int) -> list[str]:
    return MAPPED_TICKERS[: min(n, 20)] + [
        f"TK{i:04d}" for i in range(max(0, n - 20))
    ]


def _ohlcv(rng, ticks: np.ndarray, days: np.ndarray) -> pa.Table:
    """One row per (ticker, day) with a few percent nulls in every
    typed column; keys (Ticker, Date) are never null."""
    n = len(ticks)
    open_ = np.round(rng.uniform(50, 550, n), 2)
    close = np.round(rng.uniform(50, 550, n), 2)
    cols = {
        "Open": open_,
        "High": np.maximum(open_, close),
        "Low": np.minimum(open_, close),
        "Close": close,
        "Volume": rng.integers(0, 10_000_000, n),
        "Dividends": np.where(rng.random(n) < 0.01, 0.25, 0.0),
        "Stock Splits": np.zeros(n),
    }
    arrays = {"Date": pa.array(days.astype("datetime64[D]"))}
    for name, values in cols.items():
        arrays[name] = pa.array(values, mask=rng.random(n) < NULL_FRAC)
    arrays["Ticker"] = pa.array(ticks)
    return pa.table(arrays)


def finance_inputs(
    seed: int, out: Path, n_tickers: int, n_days: int, n_batches: int,
    resend_days: int = 5,
) -> tuple[Path, list[Path]]:
    """Land the history (``n_tickers`` × ``n_days`` weekdays) and
    ``n_batches`` incremental batches. Batch k re-sends every ticker's
    last ``resend_days`` days with revised prices and adds one new day,
    so it carries ``n_tickers`` new keys."""
    rng = np.random.default_rng([seed, n_tickers, n_days])
    ticks = np.array(tickers(n_tickers))
    days = np.busday_offset(FIRST_DAY, np.arange(n_days + n_batches))
    hist = out / "history.parquet"
    _write(
        _ohlcv(rng, np.repeat(ticks, n_days), np.tile(days[:n_days], n_tickers)),
        hist,
    )
    batches = []
    for k in range(n_batches):
        end = n_days + k + 1
        window = days[end - resend_days - 1 : end]
        path = out / f"batch_{k:03d}.parquet"
        _write(
            _ohlcv(
                rng, np.repeat(ticks, len(window)), np.tile(window, n_tickers)
            ),
            path,
        )
        batches.append(path)
    return hist, batches


# ---------------------------------------------------------------------------
# curation / query_mix: documents
# ---------------------------------------------------------------------------

#: The document corpus is fixed; the curation seed only relabels it.
CORPUS_SEED = 20261017


def documents(n_docs: int, seed: int = CORPUS_SEED) -> pa.Table:
    """Corpus shaped like the test tables' ``documents``: 10–100 tokens
    over :data:`VOCAB`, 5% planted near duplicates (an earlier text plus
    ``' dup'``) and 0.4% exact copies, so every near-dup cluster has a
    real tie-break."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.054:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 101))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": rng.choice(
                ["en", "es", "zh", "de", "fr"], n_docs,
                p=[0.4, 0.15, 0.15, 0.15, 0.15],
            ),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def relabelled_documents(seed: int, out: Path, n_docs: int) -> Path:
    """The fixed corpus with a seeded bijective ``doc_id`` relabelling
    and shuffled rows: the survivor count is the same on every seed,
    but which id survives each duplicate cluster is not."""
    docs = documents(n_docs)
    rng = np.random.default_rng([seed, n_docs])
    new_ids = rng.permutation(n_docs).astype(np.int64) * 7 + 1_000
    docs = docs.set_column(0, "doc_id", pa.array(new_ids))
    docs = docs.take(pa.array(rng.permutation(n_docs)))
    path = out / "documents.parquet"
    _write(docs, path)
    return path


# ---------------------------------------------------------------------------
# query_mix: the tables the query mix reads
# ---------------------------------------------------------------------------

def mix_tables(seed: int, out: Path, scale: float) -> Path:
    """Seeded tables for the query mix, sized by ``scale`` (1.0 ≈ the
    sf0.01 test tables of TESTDATA.md): ``supplier``, ``orders``, ``lineitem``,
    ``events``, ``documents`` and ``embeddings``."""
    rng = np.random.default_rng([seed, int(scale * 1000)])
    out.mkdir(parents=True, exist_ok=True)
    n_supp = max(20, int(100 * scale))
    n_orders = int(15_000 * scale)
    n_events = int(10_000 * scale)
    n_docs = int(500 * scale)
    n_vecs = int(1_000 * scale)

    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
        out / "supplier.parquet",
    )

    start = np.datetime64("1995-01-01T00:00:00", "us")
    day_us = np.int64(86_400_000_000)
    o_dates = start + rng.integers(0, 2_000, n_orders) * day_us
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
                "o_custkey": pa.array(rng.integers(1, 1_500, n_orders), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders, p=[0.5, 0.45, 0.05]),
                "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_orders), 2),
                "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_orders,
                ),
            }
        ),
        out / "orders.parquet",
    )

    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(1, n_orders + 1), lines_per)
    n_lines = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    ship = np.repeat(o_dates, lines_per) + rng.integers(1, 122, n_lines) * day_us
    qty = rng.integers(1, 51, n_lines).astype(float)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(1, 2_000, n_lines), pa.int64()),
                "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_lines), pa.int64()),
                "l_linenumber": pa.array(l_linenumber, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n_lines), 2),
                "l_discount": np.round(rng.integers(0, 11, n_lines) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, n_lines) / 100, 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
                "l_linestatus": rng.choice(["F", "O"], n_lines),
                "l_shipdate": pa.array(ship, pa.timestamp("us")),
            }
        ),
        out / "lineitem.parquet",
    )

    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ev_start + np.sort(rng.integers(0, 30 * day_us, n_events))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(50, n_events // 50), n_events), pa.int64()),
                "event_type": rng.choice(
                    ["view", "click", "purchase", "signup", "error"],
                    n_events, p=[0.4, 0.3, 0.15, 0.1, 0.05],
                ),
                "value": np.round(rng.uniform(1, 200, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        out / "events.parquet",
    )

    _write(documents(n_docs, seed=seed), out / "documents.parquet")

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        out / "embeddings.parquet",
    )
    return out
