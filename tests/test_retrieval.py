"""Retrieval planner over layout-backed views: manifest pruning by probe
bounds + TTL, multi-view chaining, full feature names (SURVEY.md §3.1,
§4.2.3)."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from feast_spark.operators.asof import STRATEGIES
from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
from feast_spark.sources import pages as layout


@pytest.fixture(scope="module")
def lstore(spark, pages_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ret") / "table")
    enriched = pages_df.withColumn("n_chars", F.length("text").cast("long"))
    layout.write_table(enriched, root, n_buckets=4)
    s = FeatureStore(spark)
    s.apply(
        FeatureView(
            name="pg",
            entity=Entity("url", "url"),
            source=root,
            features=[FeatureSpec("n_chars", "bigint"), FeatureSpec("lang", "string")],
            ttl=timedelta(days=90),
            timestamp_field="warc_ts",
        )
    )
    return s, root


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_layout_retrieval_all_strategies(spark, lstore, probes_df, strategy):
    store, _root = lstore
    out = store.get_historical_features(
        probes_df, ["pg:n_chars", "pg:lang"], strategy=strategy
    )
    assert out.count() == probes_df.count()
    assert out.filter(F.col("n_chars").isNotNull()).count() > 0


def test_large_auto_plan_over_a_layout_is_union(spark, lstore, probes_df):
    """Above the broadcast bound the auto plan over a layout-backed view
    is union, and its rows equal every other explicit plan's, cell for
    cell."""
    from feast_spark.plans.retrieval import BROADCAST_PROBE_ROWS, plan_retrieval

    store, _root = lstore
    refs = ["pg:n_chars", "pg:lang"]
    decisions: list = []
    got = plan_retrieval(
        store, probes_df, refs, probe_count_hint=BROADCAST_PROBE_ROWS + 1,
        decisions=decisions,
    )
    assert [d["strategy"] for d in decisions] == ["union"]
    assert got.filter(F.col("n_chars").isNotNull()).count() > 0
    for strategy in (s for s in STRATEGIES if s != "union"):
        want = plan_retrieval(store, probes_df, refs, strategy=strategy)
        assert want.columns == got.columns
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_probe_bounds_prune_the_scan(spark, lstore, probes_df):
    """Narrow probe window ⇒ the manifest prunes most files: results
    must still match the unpruned plan for those probes."""
    store, root = lstore
    narrow = probes_df.filter(
        (F.col("ts") >= "2023-12-01") & (F.col("ts") < "2023-12-08")
    )
    n = narrow.count()
    if n == 0:
        pytest.skip("no probes in window")
    got = store.get_historical_features(narrow, ["pg:n_chars"], strategy="union")
    # equivalent unpruned computation
    full = store.get_historical_features(
        probes_df, ["pg:n_chars"], strategy="union"
    ).join(narrow.select("url", "ts"), ["url", "ts"], "left_semi")
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0
    # and the manifest really prunes: files overlapping the padded range
    # are a strict subset of all files
    snap, pruned = layout.plan_files(
        root, start="2023-09-02", end="2023-12-08"
    )
    assert len(pruned) < len(snap["files"])


def test_small_probe_set_prunes_buckets(spark, lstore, pages_df):
    """Point-lookup-shaped retrieval: few probes ⇒ only their buckets'
    files scanned; results identical to the full-probe plan."""
    from pyspark.sql import Row

    store, root = lstore
    urls = [r["url"] for r in pages_df.select("url").distinct().limit(3).collect()]
    probes = spark.createDataFrame(
        [Row(url=u, ts="2024-02-01 00:00:00") for u in urls]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = store.get_historical_features(probes, ["pg:n_chars"], strategy="broadcast")
    assert out.count() == 3
    assert out.filter(F.col("n_chars").isNotNull()).count() >= 1
    # the bucket set of 3 urls is a strict subset of all buckets (B=4 →
    # almost surely < 4, but at minimum the scan planned fewer files
    # than the table holds when buckets < 4)
    wanted = layout.buckets_of_keys(spark, urls, 4)
    _, files = layout.plan_files(root, buckets=wanted)
    _, all_files = layout.plan_files(root)
    if len(wanted) < 4:
        assert len(files) < len(all_files)


def test_planner_scans_the_probe_keys_buckets(spark, lstore, pages_df):
    """The planner's decision names the buckets it scans: for 3 urls in a
    4-bucket layout, exactly the buckets those urls hash to."""
    from pyspark.sql import Row

    from feast_spark.operators.asof import asof_join
    from feast_spark.plans.retrieval import plan_retrieval

    store, _root = lstore
    urls = [r["url"] for r in pages_df.select("url").distinct().limit(3).collect()]
    probes = spark.createDataFrame(
        [Row(url=u, ts="2024-02-01 00:00:00") for u in urls]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    decisions: list = []
    got = plan_retrieval(
        store, probes, ["pg:n_chars"], strategy="broadcast", decisions=decisions
    )
    assert decisions[0]["buckets"] == layout.buckets_of_keys(spark, urls, 4)
    fv = store.get_view("pg")
    want = asof_join(
        probes, fv.load(spark), by="url", right_on="warc_ts", ttl=fv.ttl,
        feature_cols=["n_chars"],
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_int_probes_prune_a_bigint_layout(spark, tmp_path_factory):
    """Probe keys hash with the TABLE's dtype: an ``int`` probe column
    over a ``bigint``-keyed layout prunes to the bigint key's bucket (an
    int hashes elsewhere) and still finds the feature rows."""
    from pyspark.sql import Row

    from feast_spark.plans.retrieval import plan_retrieval

    n_b = 8
    # a key whose int and bigint hashes land in different buckets, so a
    # probe hashed with the probe's own dtype would miss its rows
    key = next(
        k for k in range(1, 100)
        if layout.buckets_of_keys(spark, [k], n_b, key_type="int")
        != layout.buckets_of_keys(spark, [k], n_b, key_type="bigint")
    )
    src = spark.createDataFrame(
        [Row(uid=k, warc_ts="2024-01-01 00:00:00", v=float(k)) for k in range(1, 41)]
    ).select(
        F.col("uid").cast("bigint"), F.col("warc_ts").cast("timestamp"), "v"
    )
    root = str(tmp_path_factory.mktemp("bigint_layout") / "t")
    layout.write_table(src, root, key_col="uid", n_buckets=n_b)
    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="bv", entity=Entity("user", "uid"), source=root,
            features=[FeatureSpec("v", "double")], ttl=None,
            timestamp_field="warc_ts",
        )
    )
    probes = spark.createDataFrame(
        [(key, "2024-02-01 00:00:00")], "uid int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    decisions: list = []
    out = plan_retrieval(
        store, probes, ["bv:v"], strategy="broadcast", decisions=decisions
    ).collect()
    assert decisions[0]["buckets"] == layout.buckets_of_keys(
        spark, [key], n_b, key_type="bigint"
    )
    assert [r["v"] for r in out] == [float(key)]


def test_retrieval_scans_the_snapshot_it_planned(spark, tmp_path_factory, monkeypatch):
    """An append committed after the planner read the layout's manifest
    does not reach the scan: the retrieval answers from the snapshot the
    plan was made from."""
    from pyspark.sql import Row

    from feast_spark.plans.retrieval import plan_retrieval

    def rows(*events):
        return spark.createDataFrame(
            [Row(url=u, warc_ts=ts, v=v) for u, ts, v in events]
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))

    root = str(tmp_path_factory.mktemp("planned_snap") / "t")
    layout.write_table(
        rows(("a", "2024-01-01 00:00:00", 1.0), ("b", "2024-01-01 00:00:00", 5.0)),
        root, n_buckets=4,
    )
    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="sv", entity=Entity("url", "url"), source=root,
            features=[FeatureSpec("v", "double")], ttl=timedelta(days=90),
            timestamp_field="warc_ts",
        )
    )
    real = FeatureView.layout_snapshot

    def then_append(self):
        snap = real(self)
        layout.write_table(
            rows(("a", "2024-01-20 00:00:00", 2.0)), root, n_buckets=4,
            mode="append",
        )
        return snap

    monkeypatch.setattr(FeatureView, "layout_snapshot", then_append)
    probes = spark.createDataFrame(
        [Row(url="a", ts="2024-02-01 00:00:00")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = plan_retrieval(store, probes, ["sv:v"]).collect()
    assert [r["v"] for r in out] == [1.0]
    monkeypatch.undo()  # a plan made now reads the appended HEAD
    assert [r["v"] for r in plan_retrieval(store, probes, ["sv:v"]).collect()] == [2.0]


def test_materialize_incremental_api(spark, lstore, tmp_path_factory):
    from feast_spark.materialize import (
        last_materialized_end,
        materialize_incremental,
        read_online,
    )

    store, _root = lstore
    view = store.get_view("pg")
    dest = str(tmp_path_factory.mktemp("incr") / "store")

    def transform(df):
        return df.select("url", "warc_ts", "n_chars")

    s1 = materialize_incremental(
        spark, view, dest, "2023-12-15",
        start_default="2023-11-01", bucket_batch=4, transform=transform,
    )
    assert s1["rows"] > 0
    assert last_materialized_end(dest) == "2023-12-15"
    s2 = materialize_incremental(
        spark, view, dest, "2024-03-01", bucket_batch=4, transform=transform,
    )
    assert s2["rows"] > 0
    # caught up → no-op
    s3 = materialize_incremental(
        spark, view, dest, "2024-03-01", bucket_batch=4, transform=transform,
    )
    assert s3.get("caught_up") is True and s3["rows"] == 0
    # equals a single full run
    from feast_spark.materialize import MaterializeJob

    d_full = str(tmp_path_factory.mktemp("incr") / "full")
    MaterializeJob(
        spark, view, d_full, bucket_batch=4, transform=transform
    ).run("2023-11-01", "2024-03-01")
    a = read_online(spark, dest).select("url", "warc_ts")
    b = read_online(spark, d_full).select("url", "warc_ts")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_multi_view_full_feature_names(spark, lstore, probes_df, data_dir):
    import os

    store, _root = lstore
    store.apply(
        FeatureView(
            name="pg2",
            entity=Entity("url", "url"),
            source=lambda sp: sp.read.parquet(
                os.path.join(data_dir, "pages.parquet")
            ).withColumn("n_tokens", F.size(F.split("text", r"\s+")).cast("long")),
            features=[FeatureSpec("n_tokens", "bigint")],
            ttl=timedelta(days=90),
            timestamp_field="warc_ts",
        )
    )
    out = store.get_historical_features(
        probes_df,
        ["pg:n_chars", "pg2:n_tokens"],
        full_feature_names=True,
    )
    assert "pg__n_chars" in out.columns
    assert "pg2__n_tokens" in out.columns
    assert out.count() == probes_df.count()
    # rows that hit in one view hit in the other (same source data)
    mism = out.filter(
        F.col("pg__n_chars").isNotNull() != F.col("pg2__n_tokens").isNotNull()
    ).count()
    assert mism == 0


def test_no_ttl_retrieval_sees_stale_features(spark, tmp_path_factory):
    """ADVICE r01 (high): with ttl=None the as-of lookback is unbounded, so
    manifest pruning must NOT apply a lower time bound — a key whose latest
    feature row predates the earliest probe ts still matches."""
    from pyspark.sql import Row

    root = str(tmp_path_factory.mktemp("nottl") / "table")
    old = spark.createDataFrame(
        [
            Row(url=f"https://a.example/{i}", warc_ts=f"2023-01-0{1 + i % 9} 00:00:00",
                n_chars=100 + i)
            for i in range(40)
        ]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    layout.write_table(old, root, n_buckets=4)
    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="stale",
            entity=Entity("url", "url"),
            source=root,
            features=[FeatureSpec("n_chars", "bigint")],
            ttl=None,
            timestamp_field="warc_ts",
        )
    )
    # probes a year after every feature row: old files must NOT be pruned
    probes = spark.createDataFrame(
        [Row(url=f"https://a.example/{i}", ts="2024-06-01 00:00:00") for i in range(40)]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = store.get_historical_features(probes, ["stale:n_chars"])
    assert out.filter(F.col("n_chars").isNotNull()).count() == 40


def test_composite_entity_view_retrieval(spark, tmp_path_factory):
    """A view referencing two entities joins on BOTH keys (upstream
    multi-entity views); materialization of composite views is refused
    with a clear error."""
    from pyspark.sql import Row

    src = spark.createDataFrame(
        [
            Row(u="a", t="x", warc_ts="2023-01-01 00:00:00", v=1.0),
            Row(u="a", t="y", warc_ts="2023-01-02 00:00:00", v=2.0),
            Row(u="b", t="x", warc_ts="2023-01-03 00:00:00", v=3.0),
        ]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    d = tmp_path_factory.mktemp("comp")
    p = str(d / "src.parquet")
    src.write.parquet(p)
    store = FeatureStore(spark)
    view = FeatureView(
        name="cv",
        entity=[Entity("user", "u"), Entity("etype", "t")],
        source=p,
        features=[FeatureSpec("v", "double")],
        ttl=None,
        timestamp_field="warc_ts",
    )
    store.apply(view)
    probes = spark.createDataFrame(
        [Row(u="a", t="x", ts="2023-02-01 00:00:00"),
         Row(u="a", t="y", ts="2023-02-01 00:00:00"),
         Row(u="b", t="y", ts="2023-02-01 00:00:00")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["u"], r["t"]): r["v"]
        for r in store.get_historical_features(probes, ["cv:v"]).collect()
    }
    assert out[("a", "x")] == 1.0 and out[("a", "y")] == 2.0
    assert out[("b", "y")] is None

    # composite views also MATERIALIZE since r03 (VERDICT r02 next #1):
    # one serving row per (u, t) tuple — details in test_materialize.py
    from feast_spark.materialize import MaterializeJob, read_online

    dest = str(d / "store")
    MaterializeJob(spark, view, dest, n_buckets=4, bucket_batch=4).run(
        "2023-01-01", "2024-01-01"
    )
    served = {
        (r["u"], r["t"]): r["v"] for r in read_online(spark, dest).collect()
    }
    assert served[("a", "x")] == 1.0 and served[("a", "y")] == 2.0


def test_entityless_global_view(spark, tmp_path_factory):
    """Entity-less (global) feature view — upstream DUMMY_ENTITY: every
    probe as-of matches the single global timeline; works through
    retrieval (all strategies) AND materialization (single serving row)."""
    from pyspark.sql import Row

    from feast_spark.materialize import MaterializeJob, read_online
    from feast_spark.operators.asof import asof_join
    from feast_spark.registry import FeatureSpec, FeatureStore, FeatureView

    glob = spark.createDataFrame(
        [Row(gts=f"2023-06-{d:02d} 00:00:00", level=float(d)) for d in (1, 10, 20)]
    ).withColumn("gts", F.col("gts").cast("timestamp"))
    probes = spark.createDataFrame(
        [Row(who="a", ts="2023-06-05 00:00:00"),
         Row(who="b", ts="2023-06-15 00:00:00"),
         Row(who="c", ts="2023-05-01 00:00:00")]  # before any feature
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    for strat in ("union", "broadcast"):
        out = {
            r["who"]: r["level"]
            for r in asof_join(
                probes, glob, by=[], left_on="ts", right_on="gts",
                ttl=None, strategy=strat,
            ).collect()
        }
        assert out == {"a": 1.0, "b": 10.0, "c": None}, (strat, out)

    # registry path
    src_path = str(tmp_path_factory.mktemp("glob") / "g.parquet")
    glob.write.parquet(src_path)
    store = FeatureStore(spark)
    view = FeatureView(
        name="glob",
        entity=[],
        source=src_path,
        features=[FeatureSpec("level", "double")],
        ttl=None,
        timestamp_field="gts",
    )
    store.apply(view)
    out = {
        r["who"]: r["level"]
        for r in store.get_historical_features(probes, ["glob:level"]).collect()
    }
    assert out == {"a": 1.0, "b": 10.0, "c": None}

    # materialization: one serving row (the global latest)
    dest = str(tmp_path_factory.mktemp("glob") / "store")
    MaterializeJob(spark, view, dest, n_buckets=4, bucket_batch=4).run(
        "2023-01-01", "2024-01-01"
    )
    rows = read_online(spark, dest).collect()
    assert len(rows) == 1 and rows[0]["level"] == 20.0


def test_store_materialize_incremental_method(spark, lstore, tmp_path_factory):
    """FeatureStore.materialize_incremental (upstream API parity) is the
    lineage-resuming twin of the module function."""
    store, _root = lstore
    dest = str(tmp_path_factory.mktemp("incrm") / "store")

    def transform(df):
        return df.select("url", "warc_ts", "n_chars")

    s1 = store.materialize_incremental(
        "pg", "2023-12-15", dest,
        start_default="2023-11-01", bucket_batch=4, transform=transform,
    )
    assert s1["rows"] > 0
    s2 = store.materialize_incremental(
        "pg", "2023-12-15", dest, bucket_batch=4, transform=transform,
    )
    assert s2.get("caught_up") is True and s2["rows"] == 0


# ---- one as-of join per source group ----------------------------------
_DAY = 86400


@pytest.fixture(scope="module")
def grouped(spark, tmp_path_factory):
    """Views over ONE layout with a created-ts column: ``vnone`` / ``v30``
    / ``v90`` differ only in TTL, so the planner serves them with one
    join. The layout carries a tag ``rel`` one commit behind HEAD.
    Events are ≤ 40 days apart per url and the probes span a year, so
    all three TTLs cut differently. No two rows share (url, event ts,
    created ts); some created ts and some ``c`` values are NULL."""
    import random
    from datetime import datetime

    rng = random.Random(11)
    t0 = datetime(2023, 1, 1)
    rows = []
    for u in range(16):
        t = rng.randrange(0, 20 * _DAY)
        for i in range(10):
            created = None if rng.random() < 0.15 else t + rng.randrange(1, 3600)
            rows.append((f"u{u}", t, created, rng.random(), rng.randrange(10**6),
                         None if rng.random() < 0.2 else f"s{u}.{i}"))
            if rng.random() < 0.3:  # same event ts, later created ts
                rows.append((f"u{u}", t, (created or t) + 7, rng.random(),
                             rng.randrange(10**6), f"r{u}.{i}"))
            t += rng.randrange(1, 40 * _DAY)
    schema = ("url string, warc_ts timestamp, created timestamp, a double, "
              "b bigint, c string")
    as_rows = [
        (u, t0 + timedelta(seconds=t),
         None if c is None else t0 + timedelta(seconds=c), a, b, s)
        for u, t, c, a, b, s in rows
    ]
    root = str(tmp_path_factory.mktemp("grouped") / "t")
    head, tail = as_rows[:-20], as_rows[-20:]
    layout.write_table(spark.createDataFrame(head, schema), root, n_buckets=4)
    layout.create_tag(root, "rel")
    layout.write_table(
        spark.createDataFrame(tail, schema), root, n_buckets=4, mode="append"
    )
    store = FeatureStore(spark)
    feats = [FeatureSpec("a", "double"), FeatureSpec("b", "bigint"),
             FeatureSpec("c", "string")]
    for name, ttl in (("vnone", None), ("v30", 30), ("v90", 90)):
        store.apply(FeatureView(
            name=name, entity=Entity("url", "url"), source=root,
            features=feats, ttl=ttl and timedelta(days=ttl),
            timestamp_field="warc_ts", created_timestamp_column="created",
        ))
    probes = [
        (i, f"u{rng.randrange(16)}" if i % 9 else f"unseen{i}",
         t0 + timedelta(seconds=rng.randrange(0, 400 * _DAY)))
        for i in range(160)
    ]
    probes.append((160, "u3", None))  # NULL probe ts
    probes_df = spark.createDataFrame(probes, "pid int, url string, ts timestamp")
    return store, root, probes_df


def _by_pid(df) -> dict:
    return {r["pid"]: r.asDict() for r in df.collect()}


def _single_view_rows(store, probes, refs, strategy) -> dict:
    """Each view retrieved alone, joined on probe id, named as a
    full-feature-names call names them."""
    by_view: dict = {}
    for ref in refs:
        view, _, feat = ref.partition(":")
        by_view.setdefault(view, []).append(feat)
    rows: dict = {}
    for view, feats in by_view.items():
        out = store.get_historical_features(
            probes, [f"{view}:{f}" for f in feats],
            full_feature_names=True, strategy=strategy,
        )
        for pid, r in _by_pid(out).items():
            rows.setdefault(pid, {"pid": pid, "url": r["url"], "ts": r["ts"]})
            rows[pid].update({f"{view}__{f}": r[f"{view}__{f}"] for f in feats})
    return rows


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_views_sharing_a_source_equal_single_view_calls(spark, grouped, strategy):
    """One fused join per source group returns, cell for cell, what one
    call per view returns: the group joins at the widest TTL (none) and
    masks v30/v90 by their own TTLs."""
    from feast_spark.plans.retrieval import plan_retrieval

    store, _root, probes = grouped
    refs = ["vnone:a", "v30:a", "v30:b", "v90:a", "v90:c", "vnone:c"]
    want = _single_view_rows(store, probes, refs, strategy)
    decisions: list = []
    fused = plan_retrieval(
        store, probes, refs, full_feature_names=True, strategy=strategy,
        decisions=decisions,
    )
    assert [d["group"] for d in decisions] == [0, 0, 0]
    # columns come out per view, in first-request order
    assert fused.columns == ["pid", "url", "ts", "vnone__a", "vnone__c",
                             "v30__a", "v30__b", "v90__a", "v90__c"]
    got = _by_pid(fused)
    assert got == want
    # the TTLs really cut: some probes hit at 90 d but not 30 d, some
    # with no TTL but not at 90 d
    assert any(r["v90__a"] is not None and r["v30__a"] is None for r in got.values())
    assert any(r["vnone__a"] is not None and r["v90__a"] is None for r in got.values())

    # bare names: one feature per view
    bare = _by_pid(store.get_historical_features(
        probes, ["vnone:a", "v30:b", "v90:c"], strategy=strategy
    ))
    assert bare == {
        pid: {"pid": pid, "url": r["url"], "ts": r["ts"], "a": r["vnone__a"],
              "b": r["v30__b"], "c": r["v90__c"]}
        for pid, r in want.items()
    }


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_group_tie_takes_all_features_from_one_row(spark, tmp_path_factory, strategy):
    """Rows sharing (key, event ts, created ts) exactly: a group's join
    breaks the tie on the hash of the union of the group's requested
    features (in request order), so every feature of the group comes
    from the one row with the largest xxhash64(a, b)."""
    root = str(tmp_path_factory.mktemp(f"tie_{strategy}") / "t")
    layout.write_table(
        spark.createDataFrame(
            [("k", "2024-01-01 00:00:00", float(i), 10 * i) for i in range(1, 6)],
            "url string, warc_ts string, a double, b bigint",
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp")),
        root, n_buckets=2,
    )
    store = FeatureStore(spark)
    feats = [FeatureSpec("a", "double"), FeatureSpec("b", "bigint")]
    for name, ttl in (("ta", None), ("tb", timedelta(days=30))):
        store.apply(FeatureView(
            name=name, entity=Entity("url", "url"), source=root,
            features=feats, ttl=ttl, timestamp_field="warc_ts",
        ))
    best = (
        layout.read_table(spark, root)
        .orderBy(F.xxhash64("a", "b").desc()).select("a", "b").first()
    )
    probes = spark.createDataFrame(
        [("k", "2024-01-05 00:00:00")], "url string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = store.get_historical_features(
        probes, ["ta:a", "tb:b"], strategy=strategy
    ).first()
    assert (got["a"], got["b"]) == (best["a"], best["b"])


@pytest.mark.parametrize(
    "differs", ["ref", "field_mapping", "created_timestamp_column", "aggregations"]
)
def test_views_that_read_differently_get_separate_joins(spark, grouped, differs):
    """Two views over one root that differ in how they read it are NOT
    fused: each gets its own join (two ``group`` values) and the rows
    equal the single-view calls. A third view joins the first's group,
    and the columns still come out in request order."""
    from feast_spark.plans.retrieval import plan_retrieval
    from feast_spark.registry import Aggregation

    store, root, probes = grouped
    kw = dict(
        entity=Entity("url", "url"), source=root, ttl=timedelta(days=90),
        timestamp_field="warc_ts", created_timestamp_column="created",
        features=[FeatureSpec("b", "bigint")],
    )
    if differs == "ref":
        kw["ref"] = "rel"
    elif differs == "field_mapping":
        kw["field_mapping"] = {"b": "b2"}
        kw["features"] = [FeatureSpec("b2", "bigint")]
    elif differs == "created_timestamp_column":
        kw["created_timestamp_column"] = None
    else:
        kw["aggregations"] = [Aggregation("a", "sum", timedelta(days=7))]
        kw["features"] = [FeatureSpec("sum_a_604800s", "double")]
    other = f"other_{differs}"
    store.apply(FeatureView(name=other, **kw))
    other_col = kw["features"][0].name
    refs = ["v90:a", f"{other}:{other_col}", "v30:c"]
    want = _single_view_rows(store, probes, refs, "union")
    decisions: list = []
    out = plan_retrieval(
        store, probes, refs, full_feature_names=True, strategy="union",
        decisions=decisions,
    )
    assert {d["view"]: d["group"] for d in decisions} == {
        "v90": 0, "v30": 0, other: 1
    }
    assert out.columns == [
        "pid", "url", "ts", "v90__a", f"{other}__{other_col}", "v30__c"
    ]
    assert _by_pid(out) == want
