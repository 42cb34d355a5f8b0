"""Seeded market-data generator and engine-independent oracle.

Everything the benchmark feeds the engine comes from here, derived
from one integer seed: a Zipf-weighted symbol universe, trading days
that only move forward, OHLC-valid bars (plus a seeded share of
invalid ones where a workload asks for them) and quotes for the as-of
join. Expected results are computed from the same pandas frames with
pandas or DuckDB, never with Spark, so a wrong engine answer cannot
also be the expected one.

No Spark import here: the fast tests exercise this module alone.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

ASSET_CLASSES = ("equity", "option", "future", "forex", "crypto")
SESSION_OPEN = dt.timedelta(hours=14, minutes=30)  # 09:30 New York, in UTC
SESSION_US = 390 * 60 * 1_000_000  # 6.5 h regular session
_LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a draw to
    one input never shifts another input."""
    return np.random.default_rng([seed, *stream])


class Universe:
    """Symbol universe: ``n`` unique tickers, Zipf(``s``) trade
    weights over a seeded rank order, a base price and an asset class
    per name, and the trading calendar."""

    def __init__(self, seed: int, n: int = 1000, s: float = 1.0) -> None:
        rng = rng_for(seed, 0)
        names: set[str] = set()
        while len(names) < n:
            k = int(rng.integers(3, 5))
            names.add("".join(rng.choice(_LETTERS, k)))
        self.names = np.array(sorted(names), dtype=object)
        rng.shuffle(self.names)  # rank order: names[0] is the hottest
        w = 1.0 / np.arange(1, n + 1) ** s
        self.weights = w / w.sum()
        self.base = np.round(np.exp(rng.normal(np.log(60.0), 0.8, n)), 2)
        self.asset = np.array(ASSET_CLASSES, dtype=object)[
            rng.choice(len(ASSET_CLASSES), n, p=[0.8, 0.05, 0.05, 0.05, 0.05])
        ]
        self.first_day = dt.date(2024, 1, 1) + dt.timedelta(
            days=int(rng.integers(0, 300))
        )

    def trading_days(self, k: int) -> list[dt.date]:
        """The first ``k`` weekdays on or after the universe's start."""
        out, d = [], self.first_day
        while len(out) < k:
            if d.weekday() < 5:
                out.append(d)
            d += dt.timedelta(days=1)
        return out

    def pick(self, rng: np.random.Generator, size: int) -> np.ndarray:
        """Symbol indices drawn by Zipf weight."""
        return rng.choice(len(self.names), size, p=self.weights)


def session_start(day: dt.date) -> pd.Timestamp:
    return pd.Timestamp(day) + SESSION_OPEN


def bars(
    uni: Universe,
    rng: np.random.Generator,
    day: dt.date,
    n: int,
    t0_us: int = 0,
    t1_us: int = SESSION_US,
    symbols: np.ndarray | None = None,
) -> pd.DataFrame:
    """``n`` valid bars in ``[t0_us, t1_us)`` of ``day``'s session,
    timestamps strictly increasing (so every (symbol, timestamp) is
    unique and a sort by timestamp is total). ``symbols`` restricts
    the draw to those universe indices, Zipf-weighted among them."""
    if symbols is None:
        idx = uni.pick(rng, n)
    else:
        p = uni.weights[symbols] / uni.weights[symbols].sum()
        idx = symbols[rng.choice(len(symbols), n, p=p)]
    span = t1_us - t0_us
    if n > span:
        raise ValueError("more bars than microseconds in the interval")
    off = np.sort(rng.integers(0, span - n + 1, n)) + np.arange(n) + t0_us
    ts = (session_start(day) + pd.to_timedelta(off, unit="us")).astype(
        "datetime64[us]"
    )
    mid = uni.base[idx] * np.exp(rng.normal(0.0, 0.01, n))
    opn = np.round(mid * (1 + rng.normal(0.0, 0.002, n)), 4)
    cls = np.round(mid * (1 + rng.normal(0.0, 0.002, n)), 4)
    high = np.round(
        np.maximum(opn, cls) * (1 + np.abs(rng.normal(0.0, 0.001, n))), 4
    )
    low = np.round(
        np.minimum(opn, cls) * (1 - np.abs(rng.normal(0.0, 0.001, n))), 4
    )
    return pd.DataFrame(
        {
            "symbol": uni.names[idx],
            "timestamp": ts,
            "open": opn,
            "high": high,
            "low": low,
            "close": cls,
            "volume": rng.integers(1, 50, n).astype("int64") * 100,
            "asset_class": uni.asset[idx],
        }
    )


def spoil(
    df: pd.DataFrame, rng: np.random.Generator, share: float
) -> np.ndarray:
    """Make a seeded ``share`` of rows invalid in place (high below
    low, or negative volume) and return the boolean mask of spoiled
    rows — the rows the engine's validation must reject."""
    bad = rng.random(len(df)) < share
    swap = bad & (rng.random(len(df)) < 0.5)
    hi = df["high"].to_numpy().copy()
    lo = df["low"].to_numpy().copy()
    hi[swap], lo[swap] = lo[swap], hi[swap]
    df["high"], df["low"] = hi, lo
    vol = df["volume"].to_numpy().copy()
    neg = bad & ~swap
    vol[neg] = -vol[neg]
    df["volume"] = vol
    # a swap of equal high/low would stay valid: count only real ones
    return neg | (swap & (hi < lo))


def quotes(
    uni: Universe,
    rng: np.random.Generator,
    day: dt.date,
    symbols: np.ndarray,
    per_symbol: int,
) -> pd.DataFrame:
    """Quote updates (ts, symbol, bid, ask) for ``symbols`` on
    ``day``, drawn independently of the bars; a quote at a trade's
    exact timestamp is legal and visible to that trade."""
    parts = []
    for i in symbols:
        off = np.sort(rng.choice(SESSION_US, per_symbol, replace=False))
        mid = uni.base[i] * np.exp(rng.normal(0.0, 0.01, per_symbol))
        half = np.round(mid * 0.0005, 4) + 0.0001
        parts.append(
            pd.DataFrame(
                {
                    "ts": (
                        session_start(day) + pd.to_timedelta(off, unit="us")
                    ).astype("datetime64[us]"),
                    "symbol": uni.names[i],
                    "bid": np.round(mid, 4) - half,
                    "ask": np.round(mid, 4) + half,
                }
            )
        )
    return pd.concat(parts, ignore_index=True)


def to_arrow(df: pd.DataFrame):
    """pyarrow Table with UTC-adjusted microsecond timestamps, which
    Spark reads as TIMESTAMP (not TIMESTAMP_NTZ) under a UTC session."""
    import pyarrow as pa

    t = pa.Table.from_pandas(df, preserve_index=False)
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type):
            t = t.set_column(
                i, f.name, t.column(i).cast(pa.timestamp("us", tz="UTC"))
            )
    return t


def write_parquet(df: pd.DataFrame, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(to_arrow(df), path)


# ---------------------------------------------------------------------
# oracle helpers
# ---------------------------------------------------------------------
class SymbolIndex:
    """Rows grouped by symbol and sorted by timestamp: the expected
    answer of a (symbol, [lo, hi]) lookup is one searchsorted slice."""

    def __init__(self, df: pd.DataFrame) -> None:
        df = df.sort_values(["symbol", "timestamp"], kind="stable")
        self.df = df.reset_index(drop=True)
        sym = self.df["symbol"].to_numpy()
        self.ts = self.df["timestamp"].to_numpy()
        starts = np.flatnonzero(np.r_[True, sym[1:] != sym[:-1]])
        ends = np.r_[starts[1:], len(sym)]
        self.span = {sym[s]: (s, e) for s, e in zip(starts, ends)}

    def lookup(self, symbol: str, lo, hi) -> pd.DataFrame:
        s, e = self.span.get(symbol, (0, 0))
        ts = self.ts[s:e]
        a = s + np.searchsorted(ts, np.datetime64(lo), "left")
        b = s + np.searchsorted(ts, np.datetime64(hi), "right")
        return self.df.iloc[a:b]


def rows_equal(got: pd.DataFrame, want: pd.DataFrame, cols) -> bool:
    """Exact comparison of two frames on ``cols`` in row order."""
    if len(got) != len(want):
        return False
    for c in cols:
        a = got[c].to_numpy()
        b = want[c].to_numpy()
        if a.dtype.kind == "M" or b.dtype.kind == "M":
            a = a.astype("datetime64[us]")
            b = b.astype("datetime64[us]")
        if not np.array_equal(a, b):
            return False
    return True


def frames_close(
    got: pd.DataFrame, want: pd.DataFrame, keys, vals, rtol: float = 1e-9
) -> bool:
    """Set comparison keyed by ``keys`` with relative tolerance on
    floating ``vals`` (summation order differs between engines)."""
    if len(got) != len(want):
        return False
    g = got.sort_values(list(keys)).reset_index(drop=True)
    w = want.sort_values(list(keys)).reset_index(drop=True)
    for k in keys:
        a, b = g[k].to_numpy(), w[k].to_numpy()
        if a.dtype.kind == "M" or b.dtype.kind == "M":
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        if list(a) != list(b):
            return False
    for v in vals:
        a = g[v].to_numpy(dtype=float)
        b = w[v].to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=rtol, atol=0.0, equal_nan=True):
            return False
    return True
