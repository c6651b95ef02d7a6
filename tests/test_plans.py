"""Plan-quality assertions (SURVEY.md §4.1, §7.1.4): column pruning,
predicate pushdown, broadcast selection, strategy chooser. These guard
the 100 TB properties that row-count tests can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_excludes_html(spark, pages_df, tmp_path_factory):
    """html:binary is ~99% of table bytes; plans that don't need it must
    never read it from parquet."""
    d = str(tmp_path_factory.mktemp("prune") / "pages")
    pages_df.write.mode("overwrite").parquet(d)
    df = spark.read.parquet(d).select("url", "lang").groupBy("lang").count()
    plan = _formatted(df)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and all("html" not in l for l in scan), scan


def test_filter_pushdown_to_parquet(spark, pages_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("push") / "pages")
    pages_df.write.mode("overwrite").parquet(d)
    df = spark.read.parquet(d).filter(F.col("lang") == "en").select("url")
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_asof_broadcast_strategy_broadcasts(spark, pages_df, probes_df):
    from feast_spark.operators.asof import asof_join

    out = asof_join(
        probes_df.select("url", "ts"),
        pages_df.select("url", "warc_ts", "lang"),
        by="url", left_on="ts", right_on="warc_ts", ttl=86400 * 30,
        strategy="broadcast",
    )
    plan = _formatted(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_asof_union_is_single_window_no_join(spark, pages_df, probes_df):
    """J1's plan shape: no join operator at all — one union, one Window."""
    from feast_spark.operators.asof import asof_join

    out = asof_join(
        probes_df.select("url", "ts"),
        pages_df.select("url", "warc_ts", "lang"),
        by="url", left_on="ts", right_on="warc_ts", ttl=86400 * 30,
        strategy="union",
    )
    plan = _formatted(out)
    assert "Union" in plan
    assert "Join" not in plan, plan
    # exactly one shuffle bringing both sides to url-partitioning
    assert plan.count("Exchange") <= 2


def test_small_dim_join_autobroadcasts(spark, pages_df):
    dims = pages_df.sparkSession.createDataFrame(
        [("en", "english"), ("de", "german")], "lang string, lang_name string"
    )
    j = pages_df.select("url", "lang").join(dims, "lang")
    assert "BroadcastHashJoin" in _formatted(j)


def test_strategy_chooser(spark, probes_df):
    from feast_spark.plans.retrieval import choose_strategy

    assert choose_strategy(probes_df) == "broadcast"  # tiny probe set
    assert choose_strategy(probes_df, probe_count_hint=10**9) == "union"


def test_quality_features_stay_jvm_side(spark, pages_df):
    """No BatchEvalPython / PythonUDF nodes in the quality-feature plan —
    the binding 'no per-row Python' rule."""
    from feast_spark.operators.text import quality_features

    df = quality_features(pages_df.select("url", "text"))
    plan = _formatted(df)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_whole_stage_codegen_covers_filters(spark, pages_df):
    df = (
        pages_df.select("url", "lang", F.length("text").alias("n"))
        .filter(F.col("n") > 10)
        .groupBy("lang")
        .agg(F.avg("n"))
    )
    df.collect()  # AQE finalizes the plan only on execution
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    plan = _formatted(df)
    assert "[codegen id :" in plan, plan
    for op in ("Filter", "Project", "HashAggregate"):
        assert any(
            op in l and "[codegen id :" in l for l in plan.splitlines()
        ), f"{op} not codegen'd"


def test_hot_key_routes_to_union(spark, tmp_path_factory, monkeypatch):
    """A planted ~30%-hot key (detected from manifest stats alone) sends
    the auto plan to union even when the probe count says broadcast,
    whose range join fans out hot rows × that key's probes; without a
    hot key the probe-count plan stands. Rows equal the explicit union
    rows either way."""
    from datetime import timedelta

    from pyspark.sql import Row

    from feast_spark.plans import retrieval
    from feast_spark.plans.retrieval import plan_retrieval
    from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
    from feast_spark.sources import pages as layout

    rows = []
    # hot key: 300 of ~1000 rows on one url
    for i in range(300):
        rows.append(Row(url="https://hot.example/", 
                        warc_ts=f"2023-12-{1 + i % 28:02d} {i % 24:02d}:00:00",
                        n_chars=i))
    for u in range(70):
        for i in range(10):
            rows.append(Row(url=f"https://cold{u}.example/",
                            warc_ts=f"2023-12-{1 + i:02d} 01:00:00",
                            n_chars=u * 10 + i))
    src = spark.createDataFrame(rows).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    ).dropDuplicates(["url", "warc_ts"])
    root = str(tmp_path_factory.mktemp("hot") / "t")
    layout.write_table(src, root, n_buckets=4)

    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="hotv", entity=Entity("url", "url"), source=root,
            features=[FeatureSpec("n_chars", "bigint")],
            ttl=timedelta(days=90), timestamp_field="warc_ts",
        )
    )
    probes = src.select("url").distinct().withColumn(
        "ts", F.lit("2024-01-15 00:00:00").cast("timestamp")
    )
    want = plan_retrieval(store, probes, ["hotv:n_chars"], strategy="union")
    # probe_count_hint: probes here are Arrow-local (no plan-derivable
    # cardinality), and the unhinted planner deliberately runs no
    # counting job (VERDICT r03 next #5) — hint like a real caller would
    cases = (
        (100, 3, "union"),
        (100, None, "union"),
        (10_000, 3, "broadcast"),
        (10_000, None, "union"),
    )
    for min_rows, hint, plan in cases:
        monkeypatch.setattr(retrieval, "HOT_KEY_MIN_ROWS", min_rows)
        decisions: list = []
        got = plan_retrieval(
            store, probes, ["hotv:n_chars"], probe_count_hint=hint,
            decisions=decisions,
        )
        assert [d["strategy"] for d in decisions] == [plan]
        hot = ["https://hot.example/"] if min_rows == 100 else []
        assert decisions[0]["hot_keys"] == hot
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_aggregated_view_shares_one_window_and_two_exchanges(spark):
    """Derived Aggregation plan shape: aggs sharing a time_window
    collapse into ONE Window node (one shuffle+sort on the entity key),
    and union-strategy retrieval adds exactly one more exchange (the
    post-union as-of window) — the feature side is never shuffled a
    third time."""
    import re
    from datetime import timedelta

    from pyspark.sql import functions as F

    from feast_spark.registry import (
        Aggregation, Entity, FeatureSpec, FeatureStore, FeatureView,
    )

    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="evp",
            entity=Entity("user", "user_id"),
            source="/root/testdata/sf0.001/events.parquet",
            features=[
                FeatureSpec("sum_value_3600s", "double"),
                FeatureSpec("count_value_3600s", "bigint"),
            ],
            timestamp_field="ts",
            aggregations=[
                Aggregation("value", "sum", timedelta(hours=1)),
                Aggregation("value", "count", timedelta(hours=1)),
            ],
        )
    )
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    probes = ev.filter(F.col("event_id") % 20 == 0).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = store.get_historical_features(
        probes,
        ["evp:sum_value_3600s", "evp:count_value_3600s"],
        strategy="union",
    )
    plan = _formatted(out)
    # the derived Window node carries BOTH aggregate functions
    derived = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "RangeFrame, -3600" in ln
    ]
    assert len(derived) == 1, derived
    assert "sum(value" in derived[0] and "count(" in derived[0]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
