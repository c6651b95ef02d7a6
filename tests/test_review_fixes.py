"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import Row, functions as F

from feast_spark.operators.asof import STRATEGIES, asof_join, salted_join
from feast_spark.sources import pages as layout


def test_broadcast_preserves_probe_event_ts_column(spark):
    """Probes carrying their own 'event_ts' column must keep it when
    include_event_ts=False (review finding: drop() deleted both)."""
    probes = spark.createDataFrame(
        [("a", "2024-01-02 00:00:00", "keep-me")],
        "url string, ts string, event_ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    feats = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)], "url string, warc_ts string, v double"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    out = asof_join(
        probes, feats, by="url", left_on="ts", right_on="warc_ts",
        strategy="broadcast",
    )
    row = out.first()
    assert row["event_ts"] == "keep-me"
    assert row["v"] == 1.0


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_null_probe_ts_yields_null_features(spark, strategy):
    """NULL probe ts: every strategy returns the row with NULL features."""
    probes = spark.createDataFrame(
        [("a", "2024-01-02 00:00:00"), ("a", None), ("zz", None)],
        "url string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    feats = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)], "url string, warc_ts string, v double"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    out = asof_join(
        probes, feats, by="url", left_on="ts", right_on="warc_ts",
        strategy=strategy,
    ).toPandas()
    assert len(out) == 3
    nulls = out[out["ts"].isna()]
    assert len(nulls) == 2 and nulls["v"].isna().all()
    hit = out[out["ts"].notna()]
    assert hit["v"].tolist() == [1.0]


def test_salted_join_rejects_outer(spark):
    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(df, df, on="k", how="full")


def test_salted_join_with_a_map_column_equals_plain_join(spark):
    """A map column on the big side is left out of the salt hash
    (xxhash64 rejects maps), not fed to it: the rows equal a plain join."""
    big = spark.range(10).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v"),
        F.create_map(F.lit("a"), F.col("id")).alias("m"),
    )
    small = spark.createDataFrame([(0, "x"), (1, "y")], "k bigint, s string")

    def rows(df):
        return sorted((r["k"], r["v"], sorted(r["m"].items()), r["s"]) for r in df.collect())

    want = rows(big.join(small, "k"))
    assert len(want) == 7
    assert rows(salted_join(big, small, on="k", salt=4)) == want


def test_choose_strategy_large_probes_take_union(spark, probes_df):
    """Above the broadcast bound every auto plan is union, layout-backed
    or not."""
    from feast_spark.plans.retrieval import choose_strategy

    assert choose_strategy(probes_df, probe_count_hint=10**9) == "union"


def test_odfv_with_full_feature_names(spark, data_dir, probes_df):
    from datetime import timedelta

    from feast_spark.registry import (
        Entity, FeatureSpec, FeatureStore, FeatureView, OnDemandFeatureView,
    )

    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="pg",
            entity=Entity("url", "url"),
            source=lambda sp: sp.read.parquet(
                os.path.join(data_dir, "pages.parquet")
            ).withColumn("n_chars", F.length("text").cast("long")),
            features=[FeatureSpec("n_chars", "bigint")],
            ttl=timedelta(days=90),
            timestamp_field="warc_ts",
        )
    )
    store.apply(
        OnDemandFeatureView(
            name="od",
            sources=["pg:n_chars"],
            transform=lambda pdf: pd.DataFrame({"dbl": pdf["n_chars"] * 2}),
            schema=[("dbl", "bigint")],
        )
    )
    out = store.get_historical_features(
        probes_df, ["pg:n_chars", "od:dbl"], full_feature_names=True
    )
    assert "pg__n_chars" in out.columns and "od__dbl" in out.columns
    hit = out.filter(F.col("pg__n_chars").isNotNull())
    assert hit.filter(F.col("od__dbl") != 2 * F.col("pg__n_chars")).count() == 0


def test_stream_batches_with_identical_ts_bounds_all_land(spark, tmp_path_factory):
    """Review finding: micro-batches sharing event-time bounds collided
    on lineage and later batches were skipped (rows silently dropped)."""
    from feast_spark.materialize import read_online
    from feast_spark.streaming import pipeline as sp

    d = str(tmp_path_factory.mktemp("collide") / "pages")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    from datetime import datetime

    ts = datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [(f"a{i}", ts, None, "x", "en") for i in range(5)]
    rows2 = [(f"b{i}", ts, None, "x", "en") for i in range(5)]
    df1 = spark.createDataFrame(rows1, schema)
    df2 = spark.createDataFrame(rows2, schema)
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    df2.coalesce(1).write.mode("append").parquet(d)

    dest = str(tmp_path_factory.mktemp("collide") / "store")
    stream = sp.stream_pages(spark, d, max_files_per_trigger=1)
    q = sp.stream_latest_to_online(
        stream.select("url", "warc_ts", "lang"), dest, n_buckets=2,
        checkpoint=str(tmp_path_factory.mktemp("collide") / "ckpt"),
    )
    q.awaitTermination()
    assert read_online(spark, dest).count() == 10


def test_stream_agg_batches_with_identical_ts_bounds_all_land(
    spark, tmp_path_factory
):
    """The aggregated twin of the test above: each micro-batch appends
    to the history table before it materializes, so its lineage record
    is keyed by its own history snapshot and a second batch with the
    same event-time bounds is not skipped as already materialized."""
    from datetime import datetime, timedelta

    from feast_spark.materialize import read_online
    from feast_spark.registry import (
        Aggregation, Entity, FeatureSpec, FeatureView,
    )
    from feast_spark.streaming import pipeline as sp

    base = tmp_path_factory.mktemp("collide_agg")
    src, dest, hist = (str(base / n) for n in ("src", "store", "hist"))
    schema = "warc_ts timestamp, url string, value double"
    ts = datetime(2024, 1, 1, 12, 0, 0)
    for prefix, v, mode in (("a", 1.0, "overwrite"), ("b", 2.0, "append")):
        spark.createDataFrame(
            [(ts, f"{prefix}{i}", v) for i in range(5)], schema
        ).coalesce(1).write.mode(mode).parquet(src)
    view = FeatureView(
        name="collide_agg",
        entity=Entity("url", "url"),
        source="unused",
        features=[FeatureSpec("sum_value_3600s", "double")],
        timestamp_field="warc_ts",
        aggregations=[Aggregation("value", "sum", timedelta(hours=1))],
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    sp.stream_agg_to_online(
        stream, view, dest, history_root=hist, n_buckets=2,
        checkpoint=str(base / "ckpt"),
    ).awaitTermination()
    got = {r["url"]: r["sum_value_3600s"] for r in read_online(spark, dest).collect()}
    assert got == {f"{p}{i}": v for p, v in (("a", 1.0), ("b", 2.0)) for i in range(5)}
    batches = [r for r in layout.list_lineage(dest) if not r.get("complete")]
    assert [(r["partition_id"], r["input_snapshot"]) for r in batches] == [
        ("b0000-0001", layout.current_snapshot(hist)["snapshot_id"])
    ]


def test_append_ignores_orphan_compact_files(spark, pages_df, tmp_path_factory):
    """Crash-orphaned compact-* files must not be swept into the next
    append snapshot (they would duplicate rows)."""
    root = str(tmp_path_factory.mktemp("orphan") / "t")
    layout.write_table(pages_df.limit(100), root, n_buckets=2, dt_granularity="month")
    n1 = layout.read_table(spark, root).count()
    # simulate a crashed compaction: valid parquet under a compact- name,
    # never committed to any snapshot
    snap = layout.current_snapshot(root)
    src = os.path.join(root, snap["files"][0]["path"])
    orphan = os.path.join(os.path.dirname(src), "compact-999999.parquet")
    import shutil

    shutil.copyfile(src, orphan)

    layout.write_table(
        pages_df.orderBy(F.desc("url")).limit(50), root, n_buckets=2,
        mode="append", dt_granularity="month",
    )
    assert layout.read_table(spark, root).count() == n1 + 50
