"""PIT/as-of join correctness (SURVEY.md §5.2.1-2).

Oracles: pandas merge_asof AND DuckDB ASOF LEFT JOIN (independent
implementations). Properties: zero leakage, TTL bound, at-or-before
equality boundary, strategy equivalence J1=J2, permutation invariance.
"""

from __future__ import annotations

from datetime import timedelta

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feast_spark.operators.asof import STRATEGIES, asof_join

TTL = timedelta(days=30)


@pytest.fixture(scope="module")
def feat_df(spark, pages_df):
    # feature table: n_chars of each crawl
    return pages_df.select(
        "url", "warc_ts", F.length("text").cast("double").alias("n_chars")
    )


def _spark_result(spark, probes_df, feat_df, strategy, ttl=TTL):
    out = asof_join(
        probes_df,
        feat_df,
        by="url",
        left_on="ts",
        right_on="warc_ts",
        ttl=ttl,
        strategy=strategy,
        include_event_ts=True,
    )
    pdf = out.toPandas()
    return pdf.sort_values(["url", "ts", "n_chars"]).reset_index(drop=True)


def _pandas_oracle(probes_pdf, feat_pdf, ttl=TTL):
    """Independent merge_asof implementation. Tie rule (same spec as the
    engine: among equal warc_ts pick max xxhash64(payload)) comes in as a
    precomputed ``__tb`` column when present."""
    left = probes_pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
    tie_cols = ["warc_ts"] + (["__tb"] if "__tb" in feat_pdf.columns else ["n_chars"])
    right = feat_pdf.sort_values(tie_cols, kind="mergesort").reset_index(drop=True)
    right = right.drop(columns=[c for c in ["__tb"] if c in right.columns])
    m = pd.merge_asof(
        left,
        right,
        left_on="ts",
        right_on="warc_ts",
        by="url",
        direction="backward",
        allow_exact_matches=True,
        tolerance=pd.Timedelta(ttl) if ttl is not None else None,
    )
    m = m.rename(columns={"warc_ts": "event_ts"})
    return m.sort_values(["url", "ts", "n_chars"]).reset_index(drop=True)


def _assert_frames_close(got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp)
    assert got["url"].tolist() == exp["url"].tolist()
    assert got["ts"].tolist() == exp["ts"].tolist()
    g = got["n_chars"].to_numpy(dtype="float64")
    e = exp["n_chars"].to_numpy(dtype="float64")
    nan_match = np.isnan(g) == np.isnan(e)
    assert nan_match.all(), f"null mismatch at {np.where(~nan_match)[0][:10]}"
    mask = ~np.isnan(g)
    np.testing.assert_allclose(g[mask], e[mask], rtol=1e-6)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_matches_pandas_oracle(spark, probes_df, feat_df, strategy):
    got = _spark_result(spark, probes_df, feat_df, strategy)
    feat_pdf = feat_df.withColumn("__tb", F.xxhash64("n_chars")).toPandas()
    exp = _pandas_oracle(probes_df.toPandas(), feat_pdf)
    _assert_frames_close(got, exp)


def test_asof_matches_duckdb_oracle(spark, data_dir, probes_df, feat_df):
    got = _spark_result(spark, probes_df, feat_df, "union")
    con = duckdb.connect()
    ttl_s = TTL.total_seconds()
    exp = con.execute(
        f"""
        WITH feat AS (
          SELECT url, warc_ts, CAST(length(text) AS DOUBLE) AS n_chars
          FROM read_parquet('{data_dir}/pages.parquet')
        ),
        probes AS (SELECT * FROM read_parquet('{data_dir}/probes.parquet')),
        j AS (
          SELECT p.url, p.ts, f.n_chars, f.warc_ts AS event_ts
          FROM probes p ASOF LEFT JOIN feat f
            ON p.url = f.url AND p.ts >= f.warc_ts
        )
        SELECT url, ts,
               CASE WHEN event_ts >= ts - INTERVAL {int(ttl_s)} SECONDS
                    THEN n_chars END AS n_chars,
               CASE WHEN event_ts >= ts - INTERVAL {int(ttl_s)} SECONDS
                    THEN event_ts END AS event_ts
        FROM j
        """
    ).fetchdf()
    exp = exp.sort_values(["url", "ts", "n_chars"]).reset_index(drop=True)
    # duckdb ASOF picks an arbitrary row among equal warc_ts ties; compare
    # only on rows where ties don't exist — here compare counts + non-tied
    assert len(got) == len(exp)
    assert got["url"].tolist() == exp["url"].tolist()
    g = got["n_chars"].to_numpy(dtype="float64")
    e = exp["n_chars"].to_numpy(dtype="float64")
    assert (np.isnan(g) == np.isnan(e)).all()
    # event_ts must agree exactly (ties share the same event_ts)
    assert got["event_ts"].fillna(pd.Timestamp(0)).tolist() == exp[
        "event_ts"
    ].fillna(pd.Timestamp(0)).tolist()


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_zero_leakage_and_ttl(spark, probes_df, feat_df, strategy):
    got = _spark_result(spark, probes_df, feat_df, strategy)
    hit = got[~got["event_ts"].isna()]
    # zero temporal leakage: matched event at-or-before probe ts
    assert (hit["event_ts"] <= hit["ts"]).all()
    # TTL: matched event within ts - ttl
    assert (hit["event_ts"] >= hit["ts"] - pd.Timedelta(TTL)).all()


def test_strategy_equivalence(spark, probes_df, feat_df):
    results = [
        _spark_result(spark, probes_df, feat_df, s).fillna(-1) for s in STRATEGIES
    ]
    for other in results[1:]:
        pd.testing.assert_frame_equal(
            results[0], other, check_dtype=False, check_exact=False, rtol=1e-9
        )


def test_permutation_invariance(spark, probes_df, feat_df):
    base = _spark_result(spark, probes_df, feat_df, "union")
    shuffled = _spark_result(
        spark, probes_df.orderBy(F.rand(seed=3)), feat_df.orderBy(F.rand(seed=4)), "union"
    )
    pd.testing.assert_frame_equal(
        base, shuffled, check_dtype=False, check_exact=False, rtol=1e-9
    )


def test_no_ttl_means_unbounded_lookback(spark, probes_df, feat_df):
    got = asof_join(
        probes_df, feat_df, by="url", left_on="ts", right_on="warc_ts",
        ttl=None, strategy="union", include_event_ts=True,
    ).toPandas()
    hit = got[~got["event_ts"].isna()]
    assert (hit["event_ts"] <= hit["ts"]).all()
    # unbounded: at least as many hits as the TTL'd version
    ttl_got = _spark_result(spark, probes_df, feat_df, "union")
    assert (~got["event_ts"].isna()).sum() >= (~ttl_got["event_ts"].isna()).sum()


def test_created_ts_tiebreak(spark):
    # two rows at the identical event_ts; created_ts must decide
    feat = spark.createDataFrame(
        [
            ("u", "2024-01-01 00:00:00", "2024-01-01 01:00:00", 1.0),
            ("u", "2024-01-01 00:00:00", "2024-01-02 01:00:00", 2.0),
        ],
        "url string, warc_ts string, created string, v double",
    ).select(
        "url",
        F.col("warc_ts").cast("timestamp").alias("warc_ts"),
        F.col("created").cast("timestamp").alias("created"),
        "v",
    )
    probes = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00")], "url string, ts string"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"))
    for s in STRATEGIES:
        out = asof_join(
            probes, feat, by="url", left_on="ts", right_on="warc_ts",
            created_col="created", strategy=s,
        ).toPandas()
        assert out["v"].tolist() == [2.0], f"strategy {s}"


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_composite_key_asof(spark, strategy):
    """by=[k1, k2]: the tuple is one logical key in every strategy —
    matches never cross (user, type) boundaries and equal the
    concatenated-single-key formulation exactly."""
    from pyspark.sql import Row

    feats = spark.createDataFrame(
        [
            Row(u="a", t="x", ets="2023-01-01 00:00:00", v=1.0),
            Row(u="a", t="y", ets="2023-01-02 00:00:00", v=2.0),
            Row(u="b", t="x", ets="2023-01-03 00:00:00", v=3.0),
            Row(u="a", t="x", ets="2023-01-04 00:00:00", v=4.0),
        ]
    ).withColumn("ets", F.col("ets").cast("timestamp"))
    probes = spark.createDataFrame(
        [
            Row(u="a", t="x", ts="2023-01-05 00:00:00"),
            Row(u="a", t="y", ts="2023-01-05 00:00:00"),
            Row(u="b", t="x", ts="2023-01-05 00:00:00"),
            Row(u="b", t="y", ts="2023-01-05 00:00:00"),  # no features
            Row(u="a", t="x", ts="2023-01-03 00:00:00"),  # before 4.0
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof_join(
        probes, feats, by=["u", "t"], left_on="ts", right_on="ets",
        strategy=strategy,
    ).toPandas().set_index(["u", "t", "ts"])["v"].to_dict()
    want = {
        ("a", "x", pd.Timestamp("2023-01-05")): 4.0,
        ("a", "y", pd.Timestamp("2023-01-05")): 2.0,
        ("b", "x", pd.Timestamp("2023-01-05")): 3.0,
        ("a", "x", pd.Timestamp("2023-01-03")): 1.0,
    }
    for k, v in want.items():
        assert out[k] == v, (strategy, k, out)
    missing = out[("b", "y", pd.Timestamp("2023-01-05"))]
    assert missing is None or pd.isna(missing)


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("by", [["u"], ["u", "t"]], ids=["scalar", "composite"])
def test_null_key_matches_nothing(spark, strategy, by):
    """A NULL in any key column matches no event, as upstream's SQL ``=``
    join: the answer must not depend on which strategy the probe count
    picks. A probe with the same non-NULL key still matches."""
    feats = spark.createDataFrame(
        [(None, "x", "2023-01-01 00:00:00", 1.0),
         ("a", None, "2023-01-01 00:00:00", 2.0),
         ("a", "x", "2023-01-01 00:00:00", 3.0)],
        "u string, t string, ets string, v double",
    ).withColumn("ets", F.col("ets").cast("timestamp"))
    probes = spark.createDataFrame(
        [(None, "x", "2023-01-01 12:00:00"),
         ("a", None, "2023-01-01 12:00:00"),
         ("a", "x", "2023-01-01 12:00:00")],
        "u string, t string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    if by == ["u"]:  # scalar key u: drop the row whose t is NULL
        feats = feats.filter(F.col("t") == "x")
        probes = probes.filter(F.col("t") == "x")
    feats = feats.select(*by, "ets", "v")
    out = asof_join(
        probes.select(*by, "ts"), feats, by=by, left_on="ts", right_on="ets",
        strategy=strategy,
    ).collect()
    got = {tuple(r[k] for k in by): r["v"] for r in out}
    want = {(None,): None, ("a",): 3.0} if by == ["u"] else {
        (None, "x"): None, ("a", None): None, ("a", "x"): 3.0}
    assert got == want, strategy


def test_union_hot_key_under_window_spill(spark):
    """One key holding every event is one window partition: union must
    answer it right when that partition spills. Tiny window-buffer
    thresholds make the hot key's ~22k rows spill many times; the rows
    must still equal the pandas oracle (at-or-before, TTL, NULL before
    the first event)."""
    t0 = int(pd.Timestamp("2023-01-01").timestamp())
    hot = F.lit("https://hot.example/").alias("url")
    feat = spark.range(20_000).select(
        hot,
        (F.lit(t0) + F.col("id") * 600).cast("timestamp").alias("warc_ts"),
        (F.col("id") * 1.5).alias("n_chars"),
    )
    # 6007 s apart, starting 5 probes before the first event: 4 probes
    # land exactly on an event's ts
    probes = spark.range(2_000).select(
        hot, (F.lit(t0) + (F.col("id") - 5) * 6007).cast("timestamp").alias("ts"),
    )
    confs = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "16",
        "spark.sql.windowExec.buffer.spill.threshold": "128",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        got = _spark_result(spark, probes, feat, "union")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    exp = _pandas_oracle(probes.toPandas(), feat.toPandas())
    _assert_frames_close(got, exp)
