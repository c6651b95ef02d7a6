"""Zero-job planning (VERDICT r03 next #5): strategy decisions and
sample guards must not run Spark jobs at plan time. Covers
feast_spark.estimate's accuracy tiers, spy-pinned zero-action planning
for retrieval and ANN, and the observe-mode stratified-sample guard."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from feast_spark.estimate import estimate_rows

# every public DataFrame method that triggers a Spark job
_ACTIONS = [
    "count", "collect", "first", "take", "head", "tail", "toPandas",
    "foreach", "foreachPartition", "toLocalIterator", "show",
]


@pytest.fixture()
def no_actions(spark, monkeypatch):
    """Fail the test if ANY DataFrame action runs inside the block."""
    def boom(name):
        def _fail(self, *a, **kw):
            raise AssertionError(f"plan-time DataFrame.{name}() job")
        return _fail

    # the session's concrete DataFrame class (pyspark.sql.classic's in
    # PySpark 4) overrides the actions of the public base class
    for cls in {DataFrame, type(spark.range(0))}:
        for name in _ACTIONS:
            monkeypatch.setattr(cls, name, boom(name))
    yield


def test_estimate_exact_for_parquet_scan(spark, probes_df):
    n = probes_df.count()
    assert estimate_rows(probes_df) == n
    # filtered scan: upper bound, never below the true count
    filt = probes_df.filter(F.col("ts") > "2024-01-10")
    est = estimate_rows(filt)
    assert est == n and est >= filt.count()


def test_estimate_exact_for_plan_bounded_inputs(spark):
    r = spark.range(123_456).select((F.col("id") * 2).alias("x"))
    assert estimate_rows(r) == 123_456
    assert estimate_rows(spark.range(10).limit(3)) == 3


def test_estimate_none_for_fanout_plans(spark, probes_df):
    """r04 review: footer sums bound only LINEAR plans. A join or
    explode can fan one input row out to millions, so the estimator
    must refuse — not report the leaf-file sum as an 'upper bound'
    that routes an unboundedly large probe set to broadcast."""
    joined = probes_df.alias("a").join(probes_df.alias("b"), "url")
    assert estimate_rows(joined) is None
    exploded = probes_df.select(F.explode(F.split("url", "/")).alias("t"))
    assert estimate_rows(exploded) is None
    # linear shapes over the same scan still estimate
    assert estimate_rows(probes_df.select("url")) is not None


def test_estimate_none_for_arrow_local_data(spark):
    """Arrow createDataFrame → LogicalRDD: no maxRows, sentinel stats.
    The estimator must admit ignorance, not hallucinate a cardinality."""
    df = spark.createDataFrame([Row(a=i) for i in range(5)])
    # distinct() on top: Aggregate propagates the child's (absent) bound
    assert estimate_rows(df.distinct()) is None


def test_choose_strategy_zero_jobs(spark, probes_df, no_actions):
    from feast_spark.plans.retrieval import choose_strategy

    # parquet probes: footer estimate, no job
    assert choose_strategy(probes_df) == "broadcast"
    # plan-bounded probes: maxRows, no job
    assert choose_strategy(spark.range(10**9)) == "union"
    # unestimable probes: unbounded-safe strategy, no counting job
    local = spark.createDataFrame([Row(url="u", ts="2024-01-01")])
    assert choose_strategy(local.distinct()) == "union"


def test_retrieval_planning_zero_jobs(spark, data_dir, no_actions):
    """Building a (non-layout) retrieval plan — hinted or parquet-backed
    — runs zero Spark jobs; jobs happen only when the caller acts."""
    import os
    from datetime import timedelta

    from feast_spark.plans.retrieval import plan_retrieval
    from feast_spark.registry import (
        Entity, FeatureSpec, FeatureStore, FeatureView,
    )

    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="pg",
            entity=Entity("url", "url"),
            source=lambda sp: sp.read.parquet(
                os.path.join(data_dir, "pages.parquet")
            ).select("url", "warc_ts", F.length("text").alias("n_chars")),
            features=[FeatureSpec("n_chars", "int")],
            ttl=timedelta(days=90),
            timestamp_field="warc_ts",
        )
    )
    probes = spark.read.parquet(os.path.join(data_dir, "probes.parquet"))
    dec_hint: list = []
    plan_retrieval(
        store, probes, ["pg:n_chars"], probe_count_hint=100,
        decisions=dec_hint,
    )
    assert dec_hint[0]["strategy"] == "broadcast"
    # unhinted, parquet probes: footer estimate decides — still no job
    dec_est: list = []
    plan_retrieval(store, probes, ["pg:n_chars"], decisions=dec_est)
    assert dec_est[0]["strategy"] == "broadcast"


def test_unestimable_probes_are_estimated_once(
    spark, data_dir, monkeypatch, no_actions
):
    """The probes are estimated once per retrieval: an entity_df from a
    list of Rows (RDD-backed, so no plan-time estimate bounds it) over
    two source groups costs one ``estimate_rows`` call, not one more per
    group — and no job. An explicit strategy makes the same one call,
    and the decisions log its result."""
    import os
    from datetime import timedelta

    from feast_spark import estimate
    from feast_spark.plans.retrieval import plan_retrieval
    from feast_spark.registry import (
        Entity, FeatureSpec, FeatureStore, FeatureView,
    )

    path = os.path.join(data_dir, "pages.parquet")
    store = FeatureStore(spark)
    for name, expr in (("chars", F.length("text")), ("words", F.size(F.split("text", " ")))):
        store.apply(
            FeatureView(
                name=name,
                entity=Entity("url", "url"),
                source=lambda sp, expr=expr, name=name: sp.read.parquet(path).select(
                    "url", "warc_ts", expr.alias(name)
                ),
                features=[FeatureSpec(name, "int")],
                ttl=timedelta(days=90),
                timestamp_field="warc_ts",
            )
        )
    entity_df = spark.createDataFrame(
        [Row(url="u0", ts="2024-01-01"), Row(url="u1", ts="2024-02-01")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    calls: list = []
    real = estimate.estimate_rows

    def counted(df):
        calls.append(real(df))
        return calls[-1]

    monkeypatch.setattr(estimate, "estimate_rows", counted)
    decisions: list = []
    plan_retrieval(store, entity_df, ["chars:chars", "words:words"], decisions=decisions)
    assert calls == [None]
    assert [(d["group"], d["strategy"]) for d in decisions] == [(0, "union"), (1, "union")]
    calls.clear()
    decisions.clear()
    plan_retrieval(
        store, entity_df, ["chars:chars", "words:words"], strategy="union",
        decisions=decisions,
    )
    assert calls == [None]
    assert [d["probe_rows"] for d in decisions] == [None, None]


@pytest.fixture(scope="module")
def layout_store(spark, pages_df, tmp_path_factory):
    """A layout-backed view: planning it runs the probe-summary job."""
    from datetime import timedelta

    from feast_spark.registry import (
        Entity, FeatureSpec, FeatureStore, FeatureView,
    )
    from feast_spark.sources import pages as layout

    root = str(tmp_path_factory.mktemp("est_layout") / "t")
    layout.write_table(
        pages_df.select("url", "warc_ts", F.length("text").alias("n_chars")),
        root, n_buckets=4,
    )
    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="lay", entity=Entity("url", "url"), source=root,
            features=[FeatureSpec("n_chars", "int")],
            ttl=timedelta(days=90), timestamp_field="warc_ts",
        )
    )
    return store


def _layout_probes(spark, store):
    """The layout's row count, and probes on three of its urls (taken
    from the manifest's key bounds, so no job) — at most three of its
    four buckets."""
    snap = store.get_view("lay").layout_snapshot()
    urls = sorted({f["min_key"] for f in snap["files"]})[:3]
    probes = spark.createDataFrame(
        [Row(url=u, ts="2024-02-01 00:00:00") for u in urls]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return sum(f["rows"] for f in snap["files"]), urls, probes


def test_probes_as_many_as_layout_rows_skip_the_summary(
    spark, layout_store, request, monkeypatch
):
    """A probe count of at least the layout's rows plans without a
    DataFrame action: the probe summary could skip no more rows than it
    reads, so the group scans its whole snapshot. The answer equals, cell
    for cell, that of the bucket-pruned plan one probe fewer gets."""
    from feast_spark.plans.retrieval import plan_retrieval

    rows, _urls, probes = _layout_probes(spark, layout_store)
    request.getfixturevalue("no_actions")
    decisions: list = []
    got = plan_retrieval(
        layout_store, probes, ["lay:n_chars"], probe_count_hint=rows,
        decisions=decisions,
    )
    monkeypatch.undo()  # actions are allowed again for the comparison
    assert [(d["probe_rows"], d["buckets"]) for d in decisions] == [(rows, None)]
    pruned: list = []
    want = plan_retrieval(
        layout_store, probes, ["lay:n_chars"], probe_count_hint=rows - 1,
        decisions=pruned,
    )
    assert pruned[0]["buckets"] is not None
    assert got.filter(F.col("n_chars").isNotNull()).count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_probes_one_fewer_than_layout_rows_run_the_summary(spark, layout_store):
    """One probe fewer than the layout's rows: the summary runs, and the
    decision names the buckets the probe keys hash to and the count."""
    from feast_spark.plans.retrieval import plan_retrieval
    from feast_spark.sources import pages as layout

    rows, urls, probes = _layout_probes(spark, layout_store)
    decisions: list = []
    plan_retrieval(
        layout_store, probes, ["lay:n_chars"], probe_count_hint=rows - 1,
        decisions=decisions,
    )
    assert [(d["probe_rows"], d["buckets"]) for d in decisions] == [
        (rows - 1, layout.buckets_of_keys(spark, urls, 4))
    ]


def test_unknown_feature_raises_before_any_job(
    spark, probes_df, layout_store, no_actions
):
    """Every ref is validated before the planner's first Spark job."""
    from feast_spark.plans.retrieval import plan_retrieval

    with pytest.raises(ValueError, match="no features"):
        plan_retrieval(layout_store, probes_df, ["lay:n_chars", "lay:nope"])


@pytest.mark.parametrize("strategy", ["cogroup", "sliced", "unoin"])
def test_unknown_strategy_raises_before_any_job(
    spark, probes_df, layout_store, no_actions, strategy
):
    """An explicit strategy the as-of join cannot dispatch (a removed one
    or a typo) is refused before the probe-summary job, naming the valid
    ones."""
    from feast_spark.plans.retrieval import plan_retrieval

    with pytest.raises(ValueError, match="union, broadcast"):
        plan_retrieval(layout_store, probes_df, ["lay:n_chars"], strategy=strategy)


def test_output_name_collision_raises_before_any_job(
    spark, probes_df, layout_store, no_actions
):
    """Two views serving the same bare feature name collide in the
    output: refused before the planner's first Spark job."""
    from datetime import timedelta

    from feast_spark.plans.retrieval import plan_retrieval
    from feast_spark.registry import Entity, FeatureView

    lay = layout_store.get_view("lay")
    layout_store.apply(
        FeatureView(
            name="lay30", entity=Entity("url", "url"), source=lay.source,
            features=lay.features, ttl=timedelta(days=30),
            timestamp_field="warc_ts",
        )
    )
    with pytest.raises(ValueError, match="collision.*n_chars"):
        plan_retrieval(layout_store, probes_df, ["lay:n_chars", "lay30:n_chars"])
    # and a feature named like a probe column
    with pytest.raises(ValueError, match="collision.*n_chars"):
        plan_retrieval(
            layout_store, probes_df.withColumn("n_chars", F.lit(1)),
            ["lay:n_chars"],
        )


def test_lsh_topk_auto_mode_zero_jobs(spark, no_actions):
    from feast_spark.operators.similarity import lsh_topk

    dim = 8

    def vecs(df, id_name):
        return df.select(
            F.col("id").alias(id_name),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.sin(F.col("id") + i).cast("float"),
            ).alias("embedding"),
        )

    # auto-decision from maxRows on both regimes: no count() job
    lsh_topk(vecs(spark.range(100), "vec_id"),
             vecs(spark.range(50), "query_id"), dim=dim, k=3, n_bits=4)
    lsh_topk(vecs(spark.range(100), "vec_id"),
             vecs(spark.range(200_000), "query_id"), dim=dim, k=3, n_bits=4)


def test_observe_guard_matches_window_and_rides_caller_action(spark):
    from feast_spark.operators.sampling import (
        check_sample_guard, stratified_sample,
    )

    rows = [
        Row(grp=g, doc_id=f"{g}-{i}")
        for g, n in (("a", 200), ("b", 50), ("c", 3)) for i in range(n)
    ]
    corpus = spark.createDataFrame(rows)
    w = stratified_sample(corpus, group_col="grp", id_col="doc_id", k=10)
    t = stratified_sample(
        corpus, group_col="grp", id_col="doc_id", k=10,
        strategy="threshold", oversample=8.0, guard="observe",
    )
    got = t.collect()  # the caller's own action populates the metrics
    assert check_sample_guard(t) == len(got)
    assert sorted(r["doc_id"] for r in got) == sorted(
        r["doc_id"] for r in w.collect()
    )


def test_observe_guard_raises_on_undersampling(spark):
    from feast_spark.operators.sampling import (
        check_sample_guard, stratified_sample,
    )

    rows = [
        Row(grp=g, doc_id=f"{g}-{i}")
        for g, n in (("a", 200), ("b", 50), ("c", 3)) for i in range(n)
    ]
    corpus = spark.createDataFrame(rows)
    t = stratified_sample(
        corpus, group_col="grp", id_col="doc_id", k=40,
        strategy="threshold", oversample=0.01, guard="observe",
    )
    t.collect()  # the plan itself runs fine — the GUARD flags the gap
    with pytest.raises(RuntimeError, match="oversample"):
        check_sample_guard(t)


def test_check_sample_guard_rejects_unguarded_frames(spark):
    from feast_spark.operators.sampling import check_sample_guard

    with pytest.raises(ValueError, match="no sample guard"):
        check_sample_guard(spark.range(3))
