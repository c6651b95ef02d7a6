"""Property-based as-of join tests (SURVEY.md §5.2.2): random probes and
feature rows — duplicate timestamps, TTL edges, empty groups — checked
against an independent pandas reference on every strategy.

Spark jobs are expensive per example, so examples are few but adversarial
(hypothesis shrinks failures to minimal cases)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from feast_spark.operators.asof import STRATEGIES, asof_join

KEYS = ["a", "b", "c"]
T0 = pd.Timestamp("2024-01-01")

# timestamps on a coarse grid → frequent exact ties and TTL boundaries
ts_strategy = st.integers(min_value=0, max_value=20).map(
    lambda h: T0 + pd.Timedelta(hours=h)
)

events_strategy = st.lists(
    st.tuples(st.sampled_from(KEYS), ts_strategy,
              st.integers(min_value=0, max_value=99)),
    min_size=0, max_size=25,
)
probes_strategy = st.lists(
    st.tuples(st.sampled_from(KEYS + ["never"]), ts_strategy),
    min_size=1, max_size=15,
)


def _pandas_reference(probes, events, ttl_s):
    """Independent semantics: latest event at-or-before probe ts within
    ttl; ties on ts → max value is NOT assumed (any tied row is legal
    unless values equal) — so compare on the matched EVENT TS, which is
    uniquely defined, plus hit/miss."""
    out = []
    for url, ts in probes:
        cand = [
            (ets, v) for (k, ets, v) in events
            if k == url and ets <= ts and (ts - ets).total_seconds() <= ttl_s
        ]
        out.append((url, ts, max(c[0] for c in cand) if cand else None))
    return out


@pytest.mark.parametrize("strategy", STRATEGIES)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, probes=probes_strategy,
       ttl_h=st.sampled_from([1, 5, 100]))
def test_asof_matches_reference(spark, strategy, events, probes, ttl_h):
    ttl_s = ttl_h * 3600
    pdf = spark.createDataFrame(
        [(k, t.to_pydatetime()) for k, t in probes], "url string, ts timestamp"
    )
    if events:
        edf = spark.createDataFrame(
            [(k, t.to_pydatetime(), float(v)) for k, t, v in events],
            "url string, warc_ts timestamp, v double",
        )
    else:
        edf = spark.createDataFrame([], "url string, warc_ts timestamp, v double")
    got = asof_join(
        pdf, edf, by="url", left_on="ts", right_on="warc_ts",
        ttl=ttl_s, strategy=strategy, include_event_ts=True,
    ).toPandas()

    want = _pandas_reference(probes, events, ttl_s)
    # multiset compare on (url, ts, matched event_ts)
    got_set = sorted(
        (r["url"], pd.Timestamp(r["ts"]),
         pd.Timestamp(r["event_ts"]) if pd.notna(r["event_ts"]) else None)
        for _, r in got.iterrows()
    )
    want_set = sorted(want)
    assert got_set == want_set

    # zero leakage + ttl properties on every matched row
    hit = got[got["event_ts"].notna()]
    assert (hit["event_ts"] <= hit["ts"]).all()
    assert (
        (hit["ts"] - hit["event_ts"]).dt.total_seconds() <= ttl_s
    ).all()
