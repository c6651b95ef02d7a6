"""Materialization runner tests (SURVEY.md §3.2, §5.2.5): latest-per-key
correctness, resume-after-failure identity, incremental upsert, lineage
manifests."""

from __future__ import annotations

import warnings
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from feast_spark.materialize import MaterializeJob, read_online
from feast_spark.registry import Entity, FeatureSpec, FeatureView
from feast_spark.sources import pages as layout

B = 4
START, END = "2023-11-01", "2024-03-01"


@pytest.fixture(scope="module")
def table_root(spark, pages_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mat") / "pages_table")
    layout.write_table(pages_df, root, n_buckets=B)
    return root


def _view(root) -> FeatureView:
    return FeatureView(
        name="pages",
        entity=Entity("url", "url"),
        source=root,
        features=[FeatureSpec("n_chars", "bigint")],
        ttl=timedelta(days=90),
        timestamp_field="warc_ts",
    )


def _transform(df):
    return df.select(
        "url", "warc_ts", F.length("text").cast("long").alias("n_chars")
    )


def _expected_latest(pages_df):
    """Oracle: pandas latest-per-url over the raw pages."""
    pdf = (
        pages_df.select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "text")
        .toPandas()
    )
    pdf["n_chars"] = pdf["text"].str.len()
    idx = pdf.groupby("url")["warc_ts"].idxmax()
    return (
        pdf.loc[idx, ["url", "warc_ts", "n_chars"]]
        .sort_values("url")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def table_root8(spark, pages_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mat8") / "pages_table")
    layout.write_table(pages_df, root, n_buckets=8)
    return root


def test_materialize_latest_per_key(
    spark, pages_df, table_root, table_root8, tmp_path_factory, monkeypatch
):
    want = _expected_latest(pages_df)
    plan_files, planned = layout.plan_files, []

    def counted(*a, **kw):
        snap, files = plan_files(*a, **kw)
        planned.extend(files)
        return snap, files

    monkeypatch.setattr(layout, "plan_files", counted)
    # a store that buckets otherwise than its layout (8 buckets) serves
    # every key too. A batch reads the layout buckets congruent to its
    # store buckets modulo gcd(8, n_buckets): 4 store buckets read the
    # layout once over; 16 read it twice, as store buckets s and s + 8
    # share layout bucket s but fall in different batches of 2
    for root, n_buckets, passes in (
        (table_root, None, 1), (table_root8, 4, 1), (table_root8, 16, 2)
    ):
        dest = str(tmp_path_factory.mktemp("mat_out") / "store")
        job = MaterializeJob(
            spark, _view(root), dest,
            n_buckets=n_buckets, bucket_batch=2, transform=_transform,
        )
        planned.clear()
        summary = job.run(START, END)
        n_batches = -(-job.n_buckets // 2)
        assert summary["batches_run"] == n_batches
        layout_files = plan_files(root, start=START, end=END)[1]
        assert len(planned) == passes * len(layout_files), n_buckets
        out = read_online(spark, dest).select("url", "warc_ts", "n_chars")

        got = out.orderBy("url").toPandas()
        assert len(got) == len(want), (n_buckets, len(got))
        assert (got["url"].values == want["url"].values).all()
        # event_ts matches; n_chars may differ only on exact-duplicate
        # (url, warc_ts) rows where the hash tiebreak picks a revision —
        # the timestamps must still agree
        assert (got["warc_ts"].values == want["warc_ts"].values).all()

        # lineage manifests exist, carry metrics; a finished run adds ONE
        # completeness marker on top of the per-batch records
        lineage = layout.list_lineage(dest)
        marks = [l for l in lineage if l.get("complete")]
        batches = [l for l in lineage if not l.get("complete")]
        assert len(batches) == n_batches and len(marks) == 1
        assert all(l["rows_out"] > 0 and l["max_event_ts"] for l in batches)
        assert sum(l["rows_out"] for l in batches) == len(got)


def test_resume_after_failure_identical(spark, table_root, tmp_path_factory):
    base = tmp_path_factory.mktemp("mat_resume")
    d_full = str(base / "full")
    d_part = str(base / "partial")

    MaterializeJob(
        spark, _view(table_root), d_full, bucket_batch=1, transform=_transform
    ).run(START, END)

    # fail after 2 of 4 bucket batches
    with pytest.raises(RuntimeError, match="injected failure"):
        MaterializeJob(
            spark, _view(table_root), d_part, bucket_batch=1,
            transform=_transform, fail_after_batches=2,
        ).run(START, END)
    assert len(layout.list_lineage(d_part)) == 2

    # resume: only the remaining batches run; output identical to the
    # uninterrupted store
    summary = MaterializeJob(
        spark, _view(table_root), d_part, bucket_batch=1, transform=_transform
    ).run(START, END)
    assert summary["batches_skipped"] == 2
    assert summary["batches_run"] == 2

    a = read_online(spark, d_full).select("url", "warc_ts", "n_chars")
    b = read_online(spark, d_part).select("url", "warc_ts", "n_chars")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_incremental_upsert(spark, pages_df, tmp_path_factory):
    """Materializing [t0,t1) then [t1,t2) must equal one [t0,t2) run —
    the per-bucket upsert keeps the latest row across increments."""
    base = tmp_path_factory.mktemp("mat_incr")
    root = str(base / "table")
    layout.write_table(pages_df, root, n_buckets=B)
    mid = "2023-12-20"

    d_two = str(base / "two_step")
    MaterializeJob(
        spark, _view(root), d_two, bucket_batch=2, transform=_transform
    ).run(START, mid)
    MaterializeJob(
        spark, _view(root), d_two, bucket_batch=2, transform=_transform
    ).run(mid, END)

    d_one = str(base / "one_step")
    MaterializeJob(
        spark, _view(root), d_one, bucket_batch=2, transform=_transform
    ).run(START, END)

    a = read_online(spark, d_two).select("url", "warc_ts")
    b = read_online(spark, d_one).select("url", "warc_ts")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_run_reads_one_snapshot_while_head_advances(
    spark, pages_df, tmp_path_factory
):
    """An append committed while a run is under way (here from its first
    batch's transform) reaches no later batch: every served row and every
    lineage ``rows_in`` comes from the snapshot the run records."""
    root = str(tmp_path_factory.mktemp("mat_snap") / "table")
    first = layout.write_table(pages_df, root, n_buckets=B)
    # one newer row per url, inside the range
    newer = pages_df.dropDuplicates(["url"]).withColumn(
        "warc_ts",
        F.lit("2024-02-20").cast(pages_df.schema["warc_ts"].dataType),
    )

    def appending(df):
        if layout.current_snapshot(root)["snapshot_id"] == first:
            layout.write_table(newer, root, n_buckets=B, mode="append")
        return _transform(df)

    dest = str(tmp_path_factory.mktemp("mat_snap") / "store")
    summary = MaterializeJob(
        spark, _view(root), dest, bucket_batch=2, transform=appending
    ).run(START, END)
    assert layout.current_snapshot(root)["snapshot_id"] > first
    assert summary["input_snapshot"] == first

    got = read_online(spark, dest).select("url", "warc_ts")
    got = got.orderBy("url").toPandas()
    want = _expected_latest(pages_df)
    assert (got["url"].values == want["url"].values).all()
    assert (got["warc_ts"].values == want["warc_ts"].values).all()
    batches = [r for r in layout.list_lineage(dest) if "buckets" in r]
    assert len(batches) == B // 2
    assert {r["input_snapshot"] for r in batches} == {first}
    in_range = pages_df.filter(
        (F.col("warc_ts") >= START) & (F.col("warc_ts") < END)
    ).count()
    assert sum(r["rows_in"] for r in batches) == in_range


def test_point_lookup_bucket_pruning(spark, pages_df, table_root, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("mat_kv") / "store")
    MaterializeJob(
        spark, _view(table_root), dest, bucket_batch=B, transform=_transform
    ).run(START, END)
    urls = [r["url"] for r in pages_df.select("url").distinct().limit(3).collect()]
    got = read_online(spark, dest, keys=urls).select("url").distinct().count()
    assert got == len(urls)


def test_plain_parquet_source(
    spark, pages_df, data_dir, table_root, tmp_path_factory
):
    """Non-layout (plain parquet path) sources materialize too — bucket
    filtering happens on the fly instead of via the manifest — and serve
    the same rows as their layout twin, with a field mapping too."""
    import os

    for mapping in ({}, {"url": "u"}):
        key = mapping.get("url", "url")

        def transform(df):
            return df.select(
                key, "warc_ts", F.length("text").cast("long").alias("n_chars")
            )

        served = []
        for source in (os.path.join(data_dir, "pages.parquet"), table_root):
            dest = str(tmp_path_factory.mktemp("mat_plain") / "store")
            view = FeatureView(
                name="pages_plain",
                entity=Entity(key, key),
                source=source,
                features=[FeatureSpec("n_chars", "bigint")],
                timestamp_field="warc_ts",
                field_mapping=mapping,
            )
            summary = MaterializeJob(
                spark, view, dest, n_buckets=B, bucket_batch=2,
                transform=transform,
            ).run(START, END)
            assert summary["rows"] == pages_df.select("url").distinct().count()
            served.append(read_online(spark, dest).select(key, "warc_ts"))
        assert served[0].exceptAll(served[1]).count() == 0
        assert served[1].exceptAll(served[0]).count() == 0


def test_point_lookup_with_unwritten_top_bucket(spark, tmp_path_factory):
    """ADVICE r01 (medium): the store's bucket modulus must come from
    persisted metadata, not 1+max(existing bucket dirs) — when no key
    hashes to the highest bucket, the inferred modulus is wrong and point
    lookups silently miss keys that exist."""
    from pyspark.sql import Row

    # find urls that all hash AWAY from the top bucket for n_buckets=8
    n_b = 8
    urls = [f"https://m.example/{i}" for i in range(200)]
    bdf = spark.createDataFrame([Row(url=u) for u in urls]).withColumn(
        "b", layout.bucket_expr("url", n_b)
    )
    rows = {r["url"]: r["b"] for r in bdf.collect()}
    top = max(rows.values())
    keep = [u for u, b in rows.items() if b != top][:50]
    assert keep, "need urls avoiding the top bucket"

    src = spark.createDataFrame(
        [Row(url=u, warc_ts="2023-12-01 00:00:00", text="x" * 10) for u in keep]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    import os

    d = tmp_path_factory.mktemp("meta_store")
    src_path = str(d / "src.parquet")
    src.write.parquet(src_path)
    dest = str(d / "store")
    view = FeatureView(
        name="m",
        entity=Entity("url", "url"),
        source=src_path,
        features=[FeatureSpec("n_chars", "bigint")],
        timestamp_field="warc_ts",
    )
    MaterializeJob(
        spark, view, dest, n_buckets=n_b, bucket_batch=4, transform=_transform
    ).run(START, END)
    # top bucket dir must be absent for the test to bite
    dirs = os.listdir(os.path.join(dest, layout.DATA_DIR))
    assert f"bucket={top}" not in dirs
    got = read_online(spark, dest, keys=keep).select("url").distinct().count()
    assert got == len(keep)

    # re-materializing with a different modulus is refused
    with pytest.raises(ValueError, match="n_buckets"):
        MaterializeJob(
            spark, view, dest, n_buckets=4, bucket_batch=4, transform=_transform
        ).run(START, END)


# ----------------------------------------------------- composite keys ------


@pytest.fixture(scope="module")
def composite_src(spark, tmp_path_factory):
    """(user, device) composite-key feature rows with several revisions."""
    from pyspark.sql import Row

    rows = []
    for u in range(40):
        for dev in ("ios", "android", "web"):
            for rev in range(3):
                rows.append(
                    Row(
                        user=f"u{u}",
                        device=dev,
                        ts=f"2023-12-{10 + rev:02d} 00:00:00",
                        score=float(u * 10 + rev),
                    )
                )
    path = str(tmp_path_factory.mktemp("comp") / "src.parquet")
    spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(path)
    return path


def _composite_view(path) -> FeatureView:
    return FeatureView(
        name="comp",
        entity=[Entity("user", "user"), Entity("device", "device")],
        source=path,
        features=[FeatureSpec("score", "double")],
        timestamp_field="ts",
    )


def test_materialize_composite_latest(spark, composite_src, tmp_path_factory):
    """VERDICT r02 next #1: multi-entity views materialize — one serving
    row per (user, device) TUPLE, the latest revision of each."""
    dest = str(tmp_path_factory.mktemp("comp_out") / "store")
    MaterializeJob(
        spark, _composite_view(composite_src), dest, n_buckets=4, bucket_batch=2
    ).run(START, END)
    got = read_online(spark, dest).toPandas()
    assert len(got) == 40 * 3  # one row per tuple, not per user
    assert (got["score"] % 10 == 2).all()  # rev 2 = latest everywhere
    # the store's snapshot records the composite key + dtypes
    import json

    from pyspark.sql import types as T

    head = layout.current_snapshot(dest)
    assert head["key_col"] == ["user", "device"]
    schema = T.StructType.fromJson(json.loads(head["schema"]))
    assert [schema[c].dataType.simpleString() for c in head["key_col"]] == [
        "string", "string"
    ]


def test_materialize_composite_resume(spark, composite_src, tmp_path_factory):
    """Kill after 1 of 2 bucket batches; the resumed run skips the done
    batch and the store equals an uninterrupted one."""
    base = tmp_path_factory.mktemp("comp_resume")
    d_full, d_part = str(base / "full"), str(base / "part")
    view = _composite_view(composite_src)
    MaterializeJob(spark, view, d_full, n_buckets=4, bucket_batch=2).run(START, END)
    with pytest.raises(RuntimeError, match="injected failure"):
        MaterializeJob(
            spark, view, d_part, n_buckets=4, bucket_batch=2,
            fail_after_batches=1,
        ).run(START, END)
    summary = MaterializeJob(
        spark, view, d_part, n_buckets=4, bucket_batch=2
    ).run(START, END)
    assert summary["batches_skipped"] == 1
    a = read_online(spark, d_full)
    b = read_online(spark, d_part)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_composite_point_lookup(spark, composite_src, tmp_path_factory):
    """Tuple-key point lookup: bucket pruning via xxhash64(k1,k2) plus a
    broadcast semi-join residual — returns exactly the probed tuples."""
    dest = str(tmp_path_factory.mktemp("comp_pl") / "store")
    MaterializeJob(
        spark, _composite_view(composite_src), dest, n_buckets=8, bucket_batch=8
    ).run(START, END)
    probes = [("u1", "ios"), ("u2", "web"), ("u1", "web"), ("u99", "ios")]
    got = read_online(
        spark, dest, keys=probes, key_cols=["user", "device"]
    ).toPandas()
    assert sorted(zip(got["user"], got["device"])) == sorted(probes[:3])
    # and through the FeatureStore facade
    from feast_spark.registry import FeatureStore

    fs = FeatureStore(spark)
    got2 = fs.get_online_features(
        dest, [("u3", "android")], key_cols=["user", "device"]
    ).toPandas()
    assert len(got2) == 1 and got2["score"][0] == 32.0


def test_read_online_ttl_expiry(spark, tmp_path_factory):
    """Read-side TTL eviction (upstream online stores expire rows older
    than the view ttl): rows whose event time predates now - ttl are
    never served; `now` is explicit so lookups are reproducible."""
    from datetime import datetime, timedelta

    from feast_spark.materialize import MaterializeJob, read_online
    from feast_spark.registry import Entity, FeatureSpec, FeatureView

    fresh = datetime(2024, 1, 10)
    stale = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(stale, "old", 1.0), (fresh, "new", 2.0)],
        "warc_ts timestamp, url string, value double",
    )
    view = FeatureView(
        name="tt", entity=Entity("url", "url"),
        source=lambda s, d=df: d,
        features=[FeatureSpec("value", "double")],
        timestamp_field="warc_ts",
    )
    dest = str(tmp_path_factory.mktemp("ttl") / "store")
    MaterializeJob(spark, view, dest, n_buckets=2).run(
        datetime(2023, 12, 1), datetime(2024, 2, 1)
    )
    now = datetime(2024, 1, 12)
    all_rows = {r["url"] for r in read_online(spark, dest).collect()}
    assert all_rows == {"old", "new"}
    live = {
        r["url"]
        for r in read_online(
            spark, dest, ttl=timedelta(days=7), now=now
        ).collect()
    }
    assert live == {"new"}
    # keyed lookups expire identically
    live_keyed = {
        r["url"]
        for r in read_online(
            spark, dest, ["old", "new"], ttl=timedelta(days=7), now=now
        ).collect()
    }
    assert live_keyed == {"new"}
    import pytest as _pt

    with _pt.raises(ValueError, match="now"):
        read_online(spark, dest, ttl=timedelta(days=7))


def test_get_online_features_logging_and_sql_entity_df(
    spark, tmp_path_factory
):
    """Feature logging (served rows + log_ts appended to a parquet log)
    and the SQL-string entity_df form of get_historical_features."""
    from datetime import datetime

    from feast_spark.materialize import MaterializeJob
    from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView

    df = spark.createDataFrame(
        [(datetime(2024, 1, 5), "a", 1.0), (datetime(2024, 1, 6), "b", 2.0)],
        "warc_ts timestamp, url string, value double",
    )
    view = FeatureView(
        name="lg", entity=Entity("url", "url"),
        source=lambda s, d=df: d,
        features=[FeatureSpec("value", "double")],
        timestamp_field="warc_ts",
    )
    base = tmp_path_factory.mktemp("log")
    dest = str(base / "store")
    MaterializeJob(spark, view, dest, n_buckets=2).run(
        datetime(2024, 1, 1), datetime(2024, 2, 1)
    )
    store = FeatureStore(spark)
    store.apply(view)
    log = str(base / "servelog")
    served = store.get_online_features(
        dest, ["a"], now=datetime(2024, 1, 7), log_to=log
    )
    assert served.count() == 1
    logged = spark.read.parquet(log).collect()
    assert len(logged) == 1 and logged[0]["url"] == "a"
    assert str(logged[0]["log_ts"]) == "2024-01-07 00:00:00"

    # SQL-string entity_df goes through spark.sql
    df.createOrReplaceTempView("probe_src")
    out = store.get_historical_features(
        "SELECT url, warc_ts AS ts FROM probe_src",
        ["lg:value"], strategy="union",
    )
    assert out.count() == 2
    assert {r["value"] for r in out.collect()} == {1.0, 2.0}


# -- the transform runs on each key's latest candidates ----------------
#
# MaterializeJob applies its transform to the rows tied with their key's
# latest (event ts, created ts) only. For a per-row transform that keeps
# the key and time columns, the served rows must equal today's order —
# latest_per_key over the transform of every scanned row — cell for cell,
# exact ties included.

TIE_START, TIE_END = "2024-01-01", "2024-03-01"


@pytest.fixture(scope="module")
def tie_src(spark, tmp_path_factory):
    """Several rows per (user, region); at each key's latest event time:
    exact ties with different payloads, created-ts ties, NULL created-ts
    beside a set one, and both NULL. Rows past TIE_END are out of range;
    the global latest event time is itself an exact tie."""
    from datetime import datetime

    def day(d, h=0):
        return datetime(2024, 1, 1) + timedelta(days=d, hours=h)

    rows = []
    for u in range(30):
        user = f"u{u:02d}"
        for i in range(2 + u % 4):  # older revisions, both regions
            rows.append((user, ("eu", "us")[i % 2], day(i), day(i, 1),
                         float(u * 100 + i), f"old-{u}-{i}"))
        last, case = day(10 + u % 7), u % 6
        created = {
            0: [day(20)],  # a unique latest row
            1: [day(20), day(20)],  # exact tie, payloads differ
            2: [day(20), day(21)],  # created decides
            3: [None, day(20)],  # a set created beats NULL
            4: [None, None],  # both NULL: the hash decides
            5: [day(20), day(20), day(20)],
        }[case]
        for j, c in enumerate(created):
            rows.append((user, "eu", last, c, float(u * 100 + 50 + j),
                         f"latest-{u}-{j}"))
        if u % 5 == 0:  # out of range
            rows.append((user, "eu", day(70), day(70), -1.0, "future"))
    for j in range(2):  # the global latest: an exact tie
        rows.append(("u00", "us", day(40), day(40), 900.0 + j, f"global-{j}"))
    path = str(tmp_path_factory.mktemp("ties") / "src.parquet")
    spark.createDataFrame(
        rows,
        "user string, region string, ts timestamp, created timestamp, "
        "v double, payload string",
    ).write.parquet(path)
    return path


def _derive(df):
    """A per-row feature derivation that keeps every source column."""
    return df.select(
        "*",
        (F.col("v") * 2).alias("v2"),
        F.upper("payload").alias("p"),
    )


def _tie_view(path, entity, aggregations=()) -> FeatureView:
    return FeatureView(
        name="ties",
        entity=entity,
        source=path,
        features=[FeatureSpec("v2", "double"), FeatureSpec("p", "string")],
        timestamp_field="ts",
        created_timestamp_column="created",
        aggregations=list(aggregations),
    )


def _transform_all_rows(job: MaterializeJob, transform, start, end):
    """Today's order: latest_per_key over the transform of every scanned
    row of every bucket."""
    from feast_spark.operators.windows import latest_per_key

    keys = job._key_cols()
    df = transform(job._scan(start, end, list(range(job.n_buckets))))
    if keys == [MaterializeJob.DUMMY_KEY]:
        df = df.withColumn(MaterializeJob.DUMMY_KEY, F.lit(1))
    return latest_per_key(
        df, key=keys, order=job.view.timestamp_field,
        created_col=job.view.created_timestamp_column,
    )


def _assert_served_equal(spark, dest, want, keys):
    import pandas as pd

    got = read_online(spark, dest).select(*want.columns)
    a = got.toPandas().sort_values(keys).reset_index(drop=True)
    b = want.toPandas().sort_values(keys).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize(
    "shape", ["key", "composite", "entityless", "aggregations"]
)
def test_transform_on_latest_candidates_serves_todays_rows(
    spark, tie_src, tmp_path_factory, shape
):
    from feast_spark.registry import Aggregation

    entity = {
        "key": Entity("user", "user"),
        "composite": [Entity("user", "user"), Entity("region", "region")],
        "entityless": [],
        "aggregations": Entity("user", "user"),
    }[shape]
    aggs = (
        [Aggregation("v", "sum", timedelta(days=3)), Aggregation("v", "count")]
        if shape == "aggregations" else []
    )
    dest = str(tmp_path_factory.mktemp(f"ties_{shape}") / "store")
    job = MaterializeJob(
        spark, _tie_view(tie_src, entity, aggs), dest,
        n_buckets=4, bucket_batch=2, transform=_derive,
    )
    job.run(TIE_START, TIE_END)
    want = _transform_all_rows(job, _derive, TIE_START, TIE_END)
    if shape == "entityless":
        want = want.drop(MaterializeJob.DUMMY_KEY)
        assert want.count() == 1
    keys = [k for k in job._key_cols() if k != MaterializeJob.DUMMY_KEY]
    _assert_served_equal(spark, dest, want, keys or ["ts"])


def test_text_kernel_on_latest_candidates_serves_todays_rows(
    spark, tmp_path_factory
):
    """The fused text kernel over generated pages, as the ingest benchmark
    runs it: the served rows equal today's, cell for cell."""
    from feast_spark import datagen
    from feast_spark.operators import text

    base = tmp_path_factory.mktemp("mat_text")
    root = str(base / "pages")
    layout.write_table(
        datagen.generate_pages_distributed(spark, 150, seed=5, n_partitions=2),
        root, n_buckets=B,
    )
    names = ["q_n_chars", "q_n_tokens", "q_punct_ratio", "q_stopword_ratio"]
    view = FeatureView(
        "pages", Entity("url", "url"), root,
        [FeatureSpec(n, "double") for n in names], ttl=timedelta(days=90),
    )

    def kernel(df):
        return text.extract_features_col(
            df.select("url", "warc_ts", "html")
        ).select("url", "warc_ts", *names)

    dest = str(base / "store")
    job = MaterializeJob(spark, view, dest, bucket_batch=2, transform=kernel)
    assert job.run(START, END)["rows"] == 150
    want = _transform_all_rows(job, kernel, START, END)
    _assert_served_equal(spark, dest, want, ["url"])


def _latest_candidate_count(spark, path) -> int:
    """Rows in range at their key's max event ts and, among those, its max
    created ts (a set one beats NULL)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user")
    df = spark.read.parquet(path).filter(
        (F.col("ts") >= TIE_START) & (F.col("ts") < TIE_END)
    )
    df = df.withColumn("mts", F.max("ts").over(w)).filter("ts = mts")
    df = df.withColumn("mc", F.max("created").over(w))
    return df.filter(F.col("created").eqNullSafe(F.col("mc"))).count()


def test_transform_sees_only_latest_candidates_and_lineage_counts_them(
    spark, tie_src, tmp_path_factory
):
    """The transform is handed each key's latest candidates, not every
    scanned row; each batch lineage record counts the scanned rows in
    range (rows_in) and the transform's rows in and out."""
    from pyspark.sql import Observation

    seen: list[Observation] = []

    def counting(df):
        seen.append(Observation())
        return _derive(df.observe(seen[-1], F.count(F.lit(1)).alias("n")))

    dest = str(tmp_path_factory.mktemp("ties_count") / "store")
    MaterializeJob(
        spark, _tie_view(tie_src, Entity("user", "user")), dest,
        n_buckets=4, bucket_batch=2, transform=counting,
    ).run(TIE_START, TIE_END)
    in_range = spark.read.parquet(tie_src).filter(
        (F.col("ts") >= TIE_START) & (F.col("ts") < TIE_END)
    ).count()
    candidates = _latest_candidate_count(spark, tie_src)
    assert len(seen) == 2  # one call per bucket batch
    assert sum(o.get["n"] for o in seen) == candidates < in_range

    batches = [r for r in layout.list_lineage(dest) if "buckets" in r]
    assert sum(r["rows_in"] for r in batches) == in_range
    assert sum(r["transform_rows_in"] for r in batches) == candidates
    assert all(
        r["transform_rows_out"] == r["transform_rows_in"] for r in batches
    )
    assert sum(r["rows_out"] for r in batches) == 30


def test_row_dropping_transform_warns_and_its_keys_are_not_served(
    spark, tie_src, tmp_path_factory
):
    """A transform must derive one row per input row. One that drops rows
    breaks that contract: the job warns, naming the view, and a key whose
    latest rows it dropped is not served (no older row stands in)."""
    dest = str(tmp_path_factory.mktemp("ties_drop") / "store")
    job = MaterializeJob(
        spark, _tie_view(tie_src, Entity("user", "user")), dest,
        n_buckets=4, bucket_batch=4,
        transform=lambda df: _derive(df).filter(F.col("user") != "u01"),
    )
    with pytest.warns(UserWarning, match="view 'ties'.*one row per input row"):
        summary = job.run(TIE_START, TIE_END)
    assert summary["rows"] == 29
    (record,) = [r for r in layout.list_lineage(dest) if "buckets" in r]
    assert record["transform_rows_in"] - record["transform_rows_out"] == 2
    served = {r["user"] for r in read_online(spark, dest).collect()}
    assert "u01" not in served and len(served) == 29

    # a transform that drops every row still finishes, serves nothing and
    # warns for each batch: one found empty while running keeps its
    # counts; one Spark proves empty before running removes them from the
    # plan (rows_in and transform_rows_in unknown, nothing returned)
    for drop_all, counted in (
        (lambda df: df.filter("v < 0"), True),
        (lambda df: df.limit(0), False),
    ):
        dest = str(tmp_path_factory.mktemp("ties_none") / "store")
        with pytest.warns(UserWarning, match="view 'ties' returned 0 rows"):
            summary = MaterializeJob(
                spark, _tie_view(tie_src, Entity("user", "user")), dest,
                n_buckets=4, bucket_batch=2, transform=drop_all,
            ).run(TIE_START, TIE_END)
        assert summary["rows"] == 0
        batches = [r for r in layout.list_lineage(dest) if "buckets" in r]
        assert len(batches) == 2
        for r in batches:
            assert r["transform_rows_out"] == r["rows_out"] == 0
            if counted:
                assert r["rows_in"] > r["transform_rows_in"] > 0
            else:
                assert r["rows_in"] is r["transform_rows_in"] is None


def test_batch_with_no_rows_in_range_counts_zero(
    spark, tie_src, tmp_path_factory
):
    """A batch whose range holds no rows records 0s, not unknown counts,
    and gives no warning."""
    dest = str(tmp_path_factory.mktemp("ties_empty") / "store")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        summary = MaterializeJob(
            spark, _tie_view(tie_src, Entity("user", "user")), dest,
            n_buckets=4, bucket_batch=2, transform=_derive,
        ).run("2025-01-01", "2025-02-01")
    assert summary["rows"] == 0
    batches = [r for r in layout.list_lineage(dest) if "buckets" in r]
    assert len(batches) == 2
    for r in batches:
        assert r["rows_in"] == r["transform_rows_in"] == 0
        assert r["transform_rows_out"] == r["rows_out"] == 0
