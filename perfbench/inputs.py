"""Seeded inputs and answer oracles for the benchmark.

Every input is a pure function of ``--seed``. The numeric feature table is
built with vectorized numpy and each feature value is a deterministic
function of (url id, event day), so answers can be checked exactly:

    f_a = id * 1000 + day                 (exact in float64)
    f_b = ((id * 31 + day * 17) % 1009) / 8

Url ``i`` has ``k_i`` (1..6) events on days ``base_i + j * gap_i``
(strictly increasing in ``j``), at second ``sec(i, j)`` of that day.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
DAY_S = 86_400
MAX_EVENTS = 6
# every event lies in [EPOCH, EPOCH + 90 d); materialization ranges cover it
RANGE_START = "2023-12-01"
RANGE_END = "2024-05-01"
# pushed rows use days past every generated event, so a push always wins
PUSH_FIRST_DAY = 100
ZIPF_A = 1.2


def url_of(ids: np.ndarray) -> np.ndarray:
    return np.char.add("u", np.char.zfill(np.asarray(ids).astype("U8"), 7))


def f_a(ids, days):
    return np.asarray(ids, dtype=np.int64) * 1000.0 + days


def f_b(ids, days):
    return ((np.asarray(ids, dtype=np.int64) * 31 + np.asarray(days) * 17) % 1009) / 8.0


def _sec(ids, j):
    return (np.asarray(ids, dtype=np.int64) * 7919 + j * 104729) % DAY_S


class FeatureTable:
    """The synthetic numeric feature source: ``n_urls`` urls, 1-6 events
    each (about 3.5 rows per url)."""

    def __init__(self, n_urls: int, seed: int, stream: int) -> None:
        rng = np.random.default_rng([seed, stream])
        self.n_urls = n_urls
        self.k = rng.integers(1, MAX_EVENTS + 1, n_urls)
        self.base = rng.integers(0, 30, n_urls)
        self.gap = rng.integers(1, 13, n_urls)  # last day <= 29 + 5 * 12

    def arrow(self) -> pa.Table:
        ids = np.repeat(np.arange(self.n_urls), self.k)
        j = np.arange(ids.size) - np.repeat(np.cumsum(self.k) - self.k, self.k)
        day = self.base[ids] + j * self.gap[ids]
        ts_s = EPOCH_S + day * DAY_S + _sec(ids, j)
        return pa.table(
            {
                "url": url_of(ids),
                "event_ts": pa.array(ts_s * 1_000_000, pa.timestamp("us")),
                "f_a": f_a(ids, day),
                "f_b": f_b(ids, day),
            }
        )

    def last_day(self, ids: np.ndarray) -> np.ndarray:
        return self.base[ids] + (self.k[ids] - 1) * self.gap[ids]

    def asof_day(self, ids: np.ndarray, ts_s: np.ndarray, ttl_s: int) -> np.ndarray:
        """Oracle: the day of the latest event of each probe's url at or
        before ``ts_s`` and no older than ``ttl_s``; -1 when none (unknown
        url, probe before the first event, or every event expired)."""
        known = ids < self.n_urls
        idx = np.where(known, ids, 0)
        best = np.full(ids.shape, -1, dtype=np.int64)
        for j in range(MAX_EVENTS):
            day = self.base[idx] + j * self.gap[idx]
            ev = EPOCH_S + day * DAY_S + _sec(idx, j)
            ok = known & (j < self.k[idx]) & (ev <= ts_s) & (ev >= ts_s - ttl_s)
            best = np.where(ok, day, best)  # events ascend in j: last ok wins
        return best

    def event_ts_s(self, ids: np.ndarray, days: np.ndarray) -> np.ndarray:
        j = (days - self.base[ids]) // self.gap[ids]
        return EPOCH_S + days * DAY_S + _sec(ids, j)


def write_probes(path: str, n: int, n_urls: int, seed: int, stream: int) -> dict:
    """Write an entity dataframe of ``n`` probes: 5 % name urls that do not
    exist, timestamps span the whole event range plus margins on both
    sides (probes before the first event and past every TTL)."""
    rng = np.random.default_rng([seed, stream])
    ids = rng.integers(0, n_urls + n_urls // 20, n)
    ts_s = EPOCH_S + rng.integers(-5 * DAY_S, 100 * DAY_S, n)
    pq.write_table(
        pa.table(
            {
                "probe_id": np.arange(n, dtype=np.int64),
                "url": url_of(ids),
                "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us")),
            }
        ),
        path,
    )
    return {"path": path, "n": n, "ids": ids, "ts_s": ts_s}


class ZipfKeys:
    """Bounded Zipf(1.2) over url ids; rank -> id through a seeded
    permutation so hot keys spread over buckets."""

    def __init__(self, n_urls: int, seed: int) -> None:
        rng = np.random.default_rng([seed, 40])
        p = np.arange(1, n_urls + 1, dtype=np.float64) ** -ZIPF_A
        self.cdf = np.cumsum(p / p.sum())
        self.perm = rng.permutation(n_urls)

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.perm[np.minimum(ranks, self.perm.size - 1)]
