"""Seeded input generators and the pandas reference model.

Everything here is numpy/pandas only: the engine never sees the seed,
only the frames and files built from it. The reference model
(`Reference`) is what every answer the engine gives is checked against.

Event times are second-precision ISO-8601-Z strings, the engine's wire
format. They are kept unique per key so "latest record" never needs a
tie-break the reference could not reproduce: the history uses even
seconds, micro-batches use odd ones, and a later batch wins an exact tie
(the engine's ingest-sequence rule).
"""

from __future__ import annotations

import dataclasses
import io
import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GROUP_NAME = "CustomerTransactions"
KEY = "customer_id"
TIME = "event_time"
VALUES = ("purchase_value", "loyalty_score")
FEATURES = (KEY, TIME) + VALUES
DELETED = "is_deleted"
ISO = "%Y-%m-%dT%H:%M:%SZ"
EPOCH = pd.Timestamp("2024-01-01", tz="UTC")


@dataclasses.dataclass(frozen=True)
class Sizes:
    """One workload's input sizes (recorded in BENCHMARK.json's why)."""

    n_events: int = 100_000  # history rows
    n_keys: int = 10_000  # distinct keys in the history
    days: int = 30  # history span
    tombstone_frac: float = 0.01  # history rows that are deletes
    zipf_s: float = 1.2  # request key skew
    absent_frac: float = 0.05  # requests for keys never ingested
    batch_rows: int = 500  # refresh micro-batch
    late_frac: float = 0.05  # micro-batch rows timed inside the history
    batch_tombstone_frac: float = 0.01
    recent_keys_frac: float = 0.1  # "recent" key set the batches favour
    n_labels: int = 2_000  # training-set probes
    window_days: int = 20  # history_between window of the training set
    n_orders: int = 5_000  # registry lineitem: orders
    n_parts: int = 700  # registry lineitem: parts


SIZES = Sizes()


def rng_for(seed: int, *tags: int) -> np.random.Generator:
    """Independent stream per (seed, tags): the inputs of cycle i do not
    depend on how many cycles ran before it."""
    return np.random.default_rng([seed, *tags])


def iso(seconds: np.ndarray) -> np.ndarray:
    return (EPOCH + pd.to_timedelta(seconds, unit="s")).strftime(ISO).to_numpy()


def _values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {
        "purchase_value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "loyalty_score": np.round(rng.random(n), 3),
    }


def _frame(keys, seconds, values, deleted) -> pd.DataFrame:
    df = pd.DataFrame({KEY: keys.astype("int64"), TIME: iso(seconds), **values})
    for c in VALUES:
        df.loc[deleted, c] = np.nan  # a tombstone carries no features
    df[DELETED] = deleted
    return df


def history(seed: int, sizes: Sizes = SIZES) -> pd.DataFrame:
    """The store's initial history: uniform keys, unique even seconds."""
    rng = rng_for(seed, 1)
    n = sizes.n_events
    half_span = sizes.days * 86_400 // 2
    seconds = 2 * rng.choice(half_span, n, replace=False)
    keys = rng.integers(0, sizes.n_keys, n)
    deleted = rng.random(n) < sizes.tombstone_frac
    return _frame(keys, seconds, _values(rng, n), deleted)


def history_end_seconds(sizes: Sizes = SIZES) -> int:
    return sizes.days * 86_400


def micro_batch(seed: int, cycle: int, sizes: Sizes = SIZES) -> pd.DataFrame:
    """Refresh cycle ``cycle``'s batch: recent-favoured keys, mostly
    "now" events (an hour per cycle after the history ends), some late
    events inside the history, a few tombstones."""
    rng = rng_for(seed, 2, cycle)
    n = sizes.batch_rows
    n_recent = max(1, int(sizes.n_keys * sizes.recent_keys_frac))
    recent = rng_for(seed, 3).permutation(sizes.n_keys)[:n_recent]
    keys = np.where(
        rng.random(n) < 0.7,
        recent[rng.integers(0, n_recent, n)],
        rng.integers(0, sizes.n_keys, n),
    )
    now = history_end_seconds(sizes) + cycle * 3_600
    seconds = now + 2 * rng.choice(1_800, n, replace=False) + 1
    late = rng.random(n) < sizes.late_frac
    span = history_end_seconds(sizes) // 2
    seconds[late] = 2 * rng.integers(0, span, int(late.sum())) + 1
    deleted = rng.random(n) < sizes.batch_tombstone_frac
    df = _frame(keys, seconds, _values(rng, n), deleted)
    # late events may repeat a (key, second) inside one batch; the
    # engine would break that tie by row position, so keep one
    return df.drop_duplicates([KEY, TIME], keep="first").reset_index(drop=True)


def zipf_keys(rng: np.random.Generator, n: int, seed: int, sizes: Sizes = SIZES) -> np.ndarray:
    """``n`` request keys: Zipf(s) over a seeded ranking of the stored
    keys, with ``absent_frac`` of them drawn from keys never ingested."""
    ranks = np.arange(1, sizes.n_keys + 1, dtype=np.float64)
    p = ranks ** -sizes.zipf_s
    p /= p.sum()
    order = rng_for(seed, 4).permutation(sizes.n_keys)
    keys = order[rng.choice(sizes.n_keys, n, p=p)]
    absent = rng.random(n) < sizes.absent_frac
    keys[absent] = sizes.n_keys + rng.integers(0, sizes.n_keys, int(absent.sum()))
    return keys.astype("int64")


def labels(seed: int, sizes: Sizes = SIZES) -> pd.DataFrame:
    """Training-set probes: (key, label time inside the window, label);
    some keys are absent, so some probes match nothing."""
    rng = rng_for(seed, 5)
    n = sizes.n_labels
    lo, hi = training_window_seconds(sizes)
    keys = rng.integers(0, int(sizes.n_keys * 1.02), n)
    t = rng.integers(lo, hi, n)
    return pd.DataFrame(
        {KEY: keys.astype("int64"), "label_time": iso(t), "label": np.round(rng.random(n), 4)}
    )


def training_window_seconds(sizes: Sizes = SIZES) -> tuple[int, int]:
    hi = history_end_seconds(sizes) - 86_400
    return hi - sizes.window_days * 86_400, hi


def lineitem(seed: int, sizes: Sizes = SIZES) -> pd.DataFrame:
    """Co-purchase input of the registry BFS: orders of 1-7 items over
    Zipf-popular parts (only the two columns the query reads)."""
    rng = rng_for(seed, 6)
    per_order = rng.integers(1, 8, sizes.n_orders)
    orders = np.repeat(np.arange(1, sizes.n_orders + 1), per_order)
    ranks = np.arange(1, sizes.n_parts + 1, dtype=np.float64)
    p = ranks ** -0.8
    p /= p.sum()
    parts = rng.choice(sizes.n_parts, len(orders), p=p) + 1
    return pd.DataFrame({"l_orderkey": orders.astype("int64"), "l_partkey": parts.astype("int64")})


def parquet_bytes(df: pd.DataFrame) -> int:
    """Size of ``df`` as Snappy parquet: the "user bytes" a store is
    compared against."""
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf, compression="snappy")
    return buf.tell()


def cell(v) -> str:
    """The engine's wire string for one value (functions/casts.row_to_record)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ""
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.floating,)):
        return str(float(v))
    return str(v)


def as_record(row: tuple) -> list[dict[str, str]]:
    return [{"FeatureName": f, "ValueAsString": cell(v)} for f, v in zip(FEATURES, row)]


def record_values(record: list[dict[str, str]]) -> list[str]:
    return [f["ValueAsString"] for f in record]


class Reference:
    """Latest record per key, tombstones included, kept in step with
    every batch the benchmark ingests."""

    def __init__(self, hist: pd.DataFrame):
        last = hist.sort_values([KEY, TIME]).groupby(KEY, sort=False).tail(1)
        self.latest: dict[int, tuple] = {
            int(r[0]): tuple(r[1:])
            for r in last[[KEY, TIME, *VALUES, DELETED]].itertuples(index=False, name=None)
        }

    def apply(self, batch: pd.DataFrame) -> None:
        """Later event time wins; an exact tie goes to the later batch."""
        for r in batch[[KEY, TIME, *VALUES, DELETED]].itertuples(index=False, name=None):
            cur = self.latest.get(int(r[0]))
            if cur is None or r[1] >= cur[0]:
                self.latest[int(r[0])] = tuple(r[1:])

    def record(self, key: int) -> list[dict[str, str]] | None:
        cur = self.latest.get(int(key))
        if cur is None or cur[-1]:
            return None
        return as_record((int(key), *cur[:-1]))

    def live(self) -> dict[int, list[dict[str, str]]]:
        return {k: self.record(k) for k, v in self.latest.items() if not v[-1]}


def training_set(hist: pd.DataFrame, probes: pd.DataFrame, sizes: Sizes = SIZES) -> list[tuple]:
    """Point-in-time join of ``probes`` against the training window of
    ``hist``: each probe gets the key's latest row at or before its
    label time (tombstone rows included, their features null), or
    nulls."""
    lo, hi = (iso(np.array([s]))[0] for s in training_window_seconds(sizes))
    win = hist[(hist[TIME] >= lo) & (hist[TIME] <= hi)][list(FEATURES)]
    left = probes.assign(_t=pd.to_datetime(probes["label_time"]), _i=np.arange(len(probes)))
    right = win.assign(_t=pd.to_datetime(win[TIME])).sort_values("_t")
    out = pd.merge_asof(
        left.sort_values("_t"), right, on="_t", by=KEY, direction="backward"
    ).sort_values("_i")
    cols = [KEY, "label_time", "label", TIME, *VALUES]
    return [tuple(r) for r in out[cols].itertuples(index=False, name=None)]
