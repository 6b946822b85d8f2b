"""Seeded input generator for the benchmark.

Every table is built from ``numpy.random.default_rng(seed)`` and written
with pyarrow (no pandas metadata), so the same seed and sizes give the
same bytes. Timestamps are written as UTC-adjusted parquet timestamps:
naive ones read back as ``timestamp_ntz``, which ``quality.validate``
rejects for the lake's ``date``/``ingest_ts`` columns.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC_US = pa.timestamp("us", tz="UTC")
EPOCH_DAY0 = dt.datetime(2021, 1, 4, tzinfo=dt.timezone.utc)  # a Monday
DASHED = "BRK-B"  # the reference universe's dashed symbol


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _us(ts: dt.datetime) -> int:
    return int(ts.timestamp()) * 1_000_000


def trading_days(n: int) -> np.ndarray:
    """``n`` consecutive weekdays from EPOCH_DAY0, as UTC-midnight micros."""
    out, d = [], EPOCH_DAY0
    while len(out) < n:
        if d.weekday() < 5:
            out.append(_us(d))
        d += dt.timedelta(days=1)
    return np.array(out, dtype=np.int64)


def tickers(n: int) -> list[str]:
    names = [f"T{i:03d}" for i in range(n)]
    names[n // 2] = DASHED
    return names


def _bars(rng, syms, day_us, prev_close=None) -> dict[str, np.ndarray]:
    """One OHLCV bar per (ticker, day): a geometric random walk per
    ticker, continuing from ``prev_close`` when given."""
    n_t, n_d = len(syms), len(day_us)
    start = prev_close if prev_close is not None else rng.uniform(20, 400, n_t)
    steps = rng.normal(0.0, 0.02, (n_t, n_d))
    close = start[:, None] * np.exp(np.cumsum(steps, axis=1))
    spread = np.abs(rng.normal(0.0, 0.01, (n_t, n_d))) * close
    open_ = close * (1 + rng.normal(0.0, 0.005, (n_t, n_d)))
    ingest_off = rng.integers(21 * 3600, 23 * 3600, (n_t, n_d)) * 1_000_000
    return {
        "date": np.tile(day_us, n_t),
        "open": open_.ravel(),
        "high": (np.maximum(open_, close) + spread).ravel(),
        "low": (np.minimum(open_, close) - spread).ravel(),
        "close": close.ravel(),
        "volume": rng.integers(10_000, 5_000_000, n_t * n_d),
        "ticker": np.repeat(np.array(syms, dtype=object), n_d),
        "ingest_ts": np.tile(day_us, n_t) + ingest_off.ravel(),
    }


def _bars_table(cols: dict[str, np.ndarray]) -> pa.Table:
    return pa.table(
        {
            "date": pa.array(cols["date"], UTC_US),
            "open": pa.array(cols["open"], pa.float64()),
            "high": pa.array(cols["high"], pa.float64()),
            "low": pa.array(cols["low"], pa.float64()),
            "close": pa.array(cols["close"], pa.float64()),
            "volume": pa.array(cols["volume"], pa.int64()),
            "ticker": pa.array(cols["ticker"], pa.string()),
            "ingest_ts": pa.array(cols["ingest_ts"], UTC_US),
        }
    )


def market(seed: int, out: str, n_tickers: int, n_days: int,
           n_batches: int, batch_tickers: int, redelivered: int) -> dict:
    """Raw-zone bars for the lake workloads.

    Writes ``raw/bars.parquet`` (backfill history), ``batches/bNN.parquet``
    (hourly increments: one new trading day for a seeded subset of
    tickers plus ``redelivered`` revised bars of those tickers for keys
    already in the lake), ``dim/tickers.parquet`` and ``signals/signals.parquet``
    (irregular per-ticker scores for the as-of join).
    """
    rng = np.random.default_rng([seed, 1])
    syms = tickers(n_tickers)
    days = trading_days(n_days + n_batches)
    hist = _bars(rng, syms, days[:n_days])
    _write(_bars_table(hist), f"{out}/raw/bars.parquet")
    last = hist["close"].reshape(n_tickers, n_days)[:, -1].copy()
    new_rows = []
    for b in range(n_batches):
        pick = np.sort(rng.choice(n_tickers, batch_tickers, replace=False))
        fresh = _bars(rng, [syms[i] for i in pick], days[n_days + b : n_days + b + 1],
                      last[pick])
        last[pick] = fresh["close"]
        # revised bars for keys already delivered (same ticker+date), on
        # tickers of this batch so every batch touches batch_tickers series
        flat = rng.choice(batch_tickers * n_days, redelivered, replace=False)
        ri = pick[flat // n_days] * n_days + flat % n_days
        again = {k: v[ri].copy() for k, v in hist.items()}
        again["close"] = again["close"] * (1 + rng.normal(0.0, 0.01, redelivered))
        again["ingest_ts"] = again["ingest_ts"] + 86_400_000_000 * (b + 1)
        cols = {k: np.concatenate([fresh[k], again[k]]) for k in hist}
        _write(_bars_table(cols), f"{out}/batches/b{b:02d}.parquet")
        new_rows.append(len(pick))
    sectors = np.array(["tech", "energy", "health", "finance", "retail"], dtype=object)
    _write(
        pa.table(
            {
                "ticker": pa.array(syms, pa.string()),
                "name": pa.array([f"{s} Corp" for s in syms], pa.string()),
                "sector": pa.array(sectors[rng.integers(0, 5, n_tickers)], pa.string()),
            }
        ),
        f"{out}/dim/tickers.parquet",
    )
    # ~1 signal per 5 trading days per ticker, unique per (ticker, date)
    sig_t, sig_d = [], []
    k = max(1, n_days // 5)
    for s in syms:
        sig_d.append(np.sort(rng.choice(days[:n_days], k, replace=False))
                     + rng.integers(0, 86_400, k) * 1_000_000)
        sig_t.extend([s] * k)
    sig_d = np.concatenate(sig_d)
    _write(
        pa.table(
            {
                "ticker": pa.array(sig_t, pa.string()),
                "date": pa.array(sig_d, UTC_US),
                "score": pa.array(rng.normal(0.0, 1.0, len(sig_d)), pa.float64()),
            }
        ),
        f"{out}/signals/signals.parquet",
    )
    return {
        "tickers": syms,
        "backfill_rows": n_tickers * n_days,
        "batch_rows": [n + redelivered for n in new_rows],
        "batch_new_keys": new_rows,
    }


EVENT_TYPES = np.array(["view", "click", "cart", "buy"], dtype=object)


def events(seed: int, out: str, n_files: int, rows_per_file: int,
           n_users: int) -> dict:
    """Hourly event files ``events/hNN.parquet`` — one file per hour, one
    file per micro-batch when drained with ``maxFilesPerTrigger=1``.
    ``(user_id, ts)`` is unique, so idempotent upserts keep every row."""
    rng = np.random.default_rng([seed, 2])
    hour0 = _us(dt.datetime(2024, 3, 1, 8, tzinfo=dt.timezone.utc))
    eid = 0
    for h in range(n_files):
        off = np.sort(rng.choice(3_600_000, rows_per_file, replace=False)) * 1000
        _write(
            pa.table(
                {
                    "event_id": pa.array(np.arange(eid, eid + rows_per_file), pa.int64()),
                    "ts": pa.array(hour0 + h * 3_600_000_000 + off, UTC_US),
                    "user_id": pa.array(rng.integers(0, n_users, rows_per_file), pa.int64()),
                    "event_type": pa.array(
                        EVENT_TYPES[rng.integers(0, 4, rows_per_file)], pa.string()
                    ),
                    "value": pa.array(np.round(rng.gamma(2.0, 20.0, rows_per_file), 4),
                                      pa.float64()),
                }
            ),
            f"{out}/events/h{h:02d}.parquet",
        )
        eid += rows_per_file
    return {"rows": n_files * rows_per_file, "files": n_files}
