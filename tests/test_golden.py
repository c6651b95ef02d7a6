"""End-to-end golden fixture test (SURVEY.md §5.2.4; BASELINE.json
binding: numpy-allclose feature vectors vs the committed fixture, zero
temporal leakage). The fixture was produced by an independent
pandas/numpy pipeline (tests/golden/make_golden.py) sharing no engine
code."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from feast_spark.operators.asof import STRATEGIES, asof_join
from feast_spark.operators.windows import sessionize

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "feature_vectors.parquet")

SEVEN_D = 7 * 86400


def _engine_features(pages_df):
    df = pages_df.select(
        "url",
        F.col("warc_ts").cast("timestamp").alias("warc_ts"),
        F.length("text").cast("long").alias("n_chars"),
    )
    # dedupe (url, warc_ts) keeping max n_chars — golden pipeline step 2
    w0 = Window.partitionBy("url", "warc_ts").orderBy(F.col("n_chars").desc())
    df = df.withColumn("__rn", F.row_number().over(w0)).filter(
        F.col("__rn") == 1
    ).drop("__rn")
    w = Window.partitionBy("url").orderBy("warc_ts")
    wr = (
        Window.partitionBy("url")
        .orderBy(F.col("warc_ts").cast("double"))
        .rangeBetween(-SEVEN_D, 0)
    )
    df = df.select(
        "url",
        "warc_ts",
        "n_chars",
        F.lag("n_chars", 1).over(w).cast("double").alias("lag1_n_chars"),
        F.count(F.lit(1)).over(wr).alias("roll7d_count"),
    )
    return sessionize(df, gap_seconds=SEVEN_D)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_engine_matches_golden_fixture(spark, pages_df, probes_df, strategy):
    feats = _engine_features(pages_df)
    got = asof_join(
        probes_df.select("url", F.col("ts").cast("timestamp").alias("ts")),
        feats,
        by="url",
        left_on="ts",
        right_on="warc_ts",
        ttl=90 * 86400,
        strategy=strategy,
    ).toPandas()

    want = pd.read_parquet(GOLDEN)
    want["ts"] = pd.to_datetime(want["ts"])
    key = ["url", "ts"]
    got = got.sort_values(key + ["n_chars"]).reset_index(drop=True)
    want = want.sort_values(key + ["n_chars"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["url"].values == want["url"].values).all()

    for c in ["n_chars", "lag1_n_chars", "roll7d_count", "sess_id"]:
        g = got[c].astype("float64").to_numpy()
        w = want[c].astype("float64").to_numpy()
        assert (np.isnan(g) == np.isnan(w)).all(), f"{c}: null pattern differs"
        m = ~np.isnan(g)
        assert np.allclose(g[m], w[m], rtol=1e-6), f"{c}: values differ"


def test_zero_leakage_against_raw_pages(spark, pages_df, probes_df):
    """Recompute leakage directly from raw pages: every matched event_ts
    must be at-or-before its probe ts (the binding zero-leakage rule)."""
    out = asof_join(
        probes_df.select("url", F.col("ts").cast("timestamp").alias("ts")),
        pages_df.select(
            "url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "lang"
        ),
        by="url",
        left_on="ts",
        right_on="warc_ts",
        ttl=90 * 86400,
        strategy="union",
        include_event_ts=True,
    )
    leaks = out.filter(F.col("event_ts") > F.col("ts")).count()
    assert leaks == 0
