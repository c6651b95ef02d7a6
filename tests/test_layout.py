"""Iceberg-style layout tests (SURVEY.md §1.4: S2/S3/S6; sorted files,
hidden partitioning, manifest pruning, snapshots/time travel)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from feast_spark.sources import pages as layout

B = 4


@pytest.fixture(scope="module")
def table_root(spark, pages_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("layout") / "pages_table")
    snap = layout.write_table(
        pages_df, root, key_col="url", ts_col="warc_ts", n_buckets=B
    )
    assert snap == 1
    return root


def test_roundtrip_and_hidden_partitioning(spark, pages_df, table_root):
    df = layout.read_table(spark, table_root)
    # hidden partitioning: only logical columns surface
    assert set(df.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert df.count() == pages_df.count()
    # exact content match (timestamps normalized)
    a = pages_df.select("url", F.col("warc_ts").cast("timestamp"), "text")
    b = df.select("url", F.col("warc_ts").cast("timestamp"), "text")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_files_sorted_within(table_root):
    snap = layout.current_snapshot(table_root)
    f0 = snap["files"][0]
    t = pq.read_table(os.path.join(table_root, f0["path"]), columns=["url", "warc_ts"])
    rows = list(zip(t.column("url").to_pylist(), t.column("warc_ts").to_pylist()))
    assert rows == sorted(rows)


def test_manifest_stats_present(table_root):
    snap = layout.current_snapshot(table_root)
    assert snap["n_buckets"] == B
    assert len(snap["files"]) > 0
    for f in snap["files"]:
        assert f["rows"] > 0
        assert f["min_ts"] is not None and f["max_ts"] <= "2024-03-01"
        assert 0 <= f["bucket"] < B


def test_time_range_pruning(spark, table_root, pages_df):
    snap, all_files = layout.plan_files(table_root)
    _, pruned = layout.plan_files(
        table_root, start="2023-12-01", end="2023-12-08"
    )
    assert 0 < len(pruned) < len(all_files)
    # pruned read + residual filter == full read + filter
    got = (
        layout.read_table(spark, table_root, start="2023-12-01", end="2023-12-08")
        .filter(
            (F.col("warc_ts") >= "2023-12-01") & (F.col("warc_ts") < "2023-12-08")
        )
        .count()
    )
    want = (
        pages_df.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .filter(
            (F.col("warc_ts") >= "2023-12-01") & (F.col("warc_ts") < "2023-12-08")
        )
        .count()
    )
    assert got == want


def test_bucket_pruning_finds_all_rows_of_key(spark, table_root, pages_df):
    url = pages_df.select("url").first()["url"]
    buckets = layout.buckets_of_keys(spark, [url], B)
    assert len(buckets) == 1
    df = layout.read_table(spark, table_root, buckets=buckets)
    want = pages_df.filter(F.col("url") == url).count()
    assert df.filter(F.col("url") == url).count() == want
    # and the pruned scan reads ~1/B of the files
    _, files = layout.plan_files(table_root, buckets=buckets)
    _, all_files = layout.plan_files(table_root)
    assert len(files) < len(all_files)


def test_append_snapshot_and_time_travel(spark, pages_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("layout2") / "t")
    first = pages_df.limit(200)
    layout.write_table(first, root, n_buckets=B)
    n1 = layout.read_table(spark, root).count()

    more = pages_df.orderBy(F.desc("url")).limit(100)
    snap2 = layout.write_table(more, root, n_buckets=B, mode="append")
    assert snap2 == 2
    n2 = layout.read_table(spark, root).count()
    assert n2 == n1 + 100

    # time travel: snapshot 1 still reads the original rows
    assert layout.read_table(spark, root, snapshot=1).count() == n1
    snap = layout.current_snapshot(root)
    assert snap["parent"] == 1


def test_month_granularity_fewer_files(spark, pages_df, tmp_path_factory):
    """Coarser dt transform bounds file count on sparse tables; pruning
    still works because it reads per-file ts stats, not dir names."""
    base = tmp_path_factory.mktemp("gran")
    day_root, month_root = str(base / "day"), str(base / "month")
    layout.write_table(pages_df, day_root, n_buckets=B)
    layout.write_table(pages_df, month_root, n_buckets=B, dt_granularity="month")
    n_day = len(layout.current_snapshot(day_root)["files"])
    n_month = len(layout.current_snapshot(month_root)["files"])
    assert n_month < n_day / 4
    # identical content + pruning still effective
    assert (
        layout.read_table(spark, month_root).count()
        == layout.read_table(spark, day_root).count()
    )
    _, pruned = layout.plan_files(month_root, start="2023-12-01", end="2023-12-08")
    assert 0 < len(pruned) < n_month


def test_compaction(spark, pages_df, tmp_path_factory):
    """Append-created small files compact into one per (dt,bucket);
    content identical; prior snapshots still read the old files."""
    root = str(tmp_path_factory.mktemp("compact") / "t")
    half1 = pages_df.filter(F.col("lang") != "zz")
    half2 = pages_df.filter(F.col("lang") == "zz")
    layout.write_table(half1, root, n_buckets=B, dt_granularity="month")
    layout.write_table(half2, root, n_buckets=B, mode="append", dt_granularity="month")
    before = layout.current_snapshot(root)
    n_before = layout.read_table(spark, root).count()

    snap_id = layout.compact_table(spark, root)
    after = layout.current_snapshot(root)
    assert after["snapshot_id"] == snap_id and after["operation"] == "compact"
    assert len(after["files"]) < len(before["files"])
    # per-cell: at most one file now
    cells = {}
    for f in after["files"]:
        cells.setdefault((f["dt"], f["bucket"]), []).append(f)
    assert all(len(v) == 1 for v in cells.values())
    # content identical; time travel to pre-compaction snapshot works
    assert layout.read_table(spark, root).count() == n_before
    a = layout.read_table(spark, root).select("url", "warc_ts", "lang")
    b = layout.read_table(spark, root, snapshot=before["snapshot_id"]).select(
        "url", "warc_ts", "lang"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # appends after compaction register only genuinely-new files
    layout.write_table(
        half2.limit(10), root, n_buckets=B, mode="append", dt_granularity="month"
    )
    assert layout.read_table(spark, root).count() == n_before + 10


def test_schema_evolution_add_column(spark, pages_df, tmp_path_factory):
    """Appending with a new column evolves the table schema; old files
    read the column as NULL; type changes are rejected."""
    root = str(tmp_path_factory.mktemp("evolve") / "t")
    base = pages_df.select("url", "warc_ts", "lang")
    layout.write_table(base.limit(100), root, n_buckets=B, dt_granularity="month")
    with_score = (
        base.orderBy(F.desc("url")).limit(50)
        .withColumn("score", F.length("lang").cast("double"))
    )
    layout.write_table(
        with_score, root, n_buckets=B, mode="append", dt_granularity="month"
    )
    df = layout.read_table(spark, root)
    assert "score" in df.columns
    assert df.count() == 150
    assert df.filter(F.col("score").isNotNull()).count() == 50
    assert df.filter(F.col("score").isNull()).count() == 100
    # type change on existing column rejected
    bad = base.limit(5).withColumn("lang", F.lit(1))
    with pytest.raises(ValueError, match="changes type"):
        layout.write_table(
            bad, root, n_buckets=B, mode="append", dt_granularity="month"
        )


def test_expire_snapshots(spark, pages_df, tmp_path_factory):
    """Expiry drops old snapshots AND the data files only they
    reference; the surviving snapshot still reads complete data."""
    root = str(tmp_path_factory.mktemp("expire") / "t")
    half1 = pages_df.filter(F.col("lang") != "zz")
    half2 = pages_df.filter(F.col("lang") == "zz")
    layout.write_table(half1, root, n_buckets=B, dt_granularity="month")
    layout.write_table(half2, root, n_buckets=B, mode="append", dt_granularity="month")
    layout.compact_table(spark, root)
    n = layout.read_table(spark, root).count()
    import os

    def count_parquet():
        total = 0
        for dp, _dn, fn in os.walk(os.path.join(root, "data")):
            total += sum(1 for f in fn if f.endswith(".parquet"))
        return total

    files_before = count_parquet()
    res = layout.expire_snapshots(root, keep_last=1)
    assert res["snapshots_removed"] == 2
    # pre-compaction small files are gone from disk
    assert count_parquet() == files_before - res["files_removed"]
    assert res["files_removed"] > 0 and res["bytes_freed"] > 0
    # current snapshot reads everything; time travel to expired id fails
    assert layout.read_table(spark, root).count() == n
    with pytest.raises(FileNotFoundError):
        layout.read_table(spark, root, snapshot=1)
    # further appends still work
    layout.write_table(
        half2.limit(7), root, n_buckets=B, mode="append", dt_granularity="month"
    )
    assert layout.read_table(spark, root).count() == n + 7


def test_empty_prune_returns_empty_with_schema(spark, table_root):
    df = layout.read_table(spark, table_root, start="2030-01-01", end="2031-01-01")
    assert df.count() == 0
    assert "url" in df.columns and "html" in df.columns


def test_compaction_after_schema_evolution(spark, pages_df, tmp_path_factory):
    """ADVICE r01: a (dt,bucket) cell mixing pre- and post-add-column
    files must compact (permissive promotion null-fills the missing
    column) instead of raising ArrowInvalid."""
    root = str(tmp_path_factory.mktemp("compact_evo") / "t")
    base = pages_df.select("url", "warc_ts", "lang")
    layout.write_table(base.limit(100), root, n_buckets=B, dt_granularity="month")
    with_score = base.limit(100).withColumn(
        "score", F.length("lang").cast("double")
    )
    layout.write_table(
        with_score, root, n_buckets=B, mode="append", dt_granularity="month"
    )
    n_before = layout.read_table(spark, root).count()
    nn_before = (
        layout.read_table(spark, root).filter(F.col("score").isNotNull()).count()
    )
    layout.compact_table(spark, root)
    df = layout.read_table(spark, root)
    assert df.count() == n_before == 200
    assert df.filter(F.col("score").isNotNull()).count() == nn_before == 100
    # every compacted cell holds exactly one file
    cells = {}
    for f in layout.current_snapshot(root)["files"]:
        cells.setdefault((f["dt"], f["bucket"]), []).append(f)
    assert all(len(v) == 1 for v in cells.values())


def test_column_stats_pruning(spark, pages_df, tmp_path_factory):
    """Per-column manifest stats (Iceberg column stats): a range filter
    on a NON-key column prunes files, and pruned-scan + residual filter
    equals the unpruned answer."""
    root = str(tmp_path_factory.mktemp("colstats") / "t")
    src = pages_df.select(
        "url", "warc_ts", F.length("text").cast("long").alias("n_chars")
    )
    layout.write_table(src, root, n_buckets=B)
    snap = layout.current_snapshot(root)
    assert all("cols" in f and "n_chars" in f["cols"] for f in snap["files"])

    # pick a range covering ~the top decile of n_chars
    hi = src.agg(F.expr("percentile_approx(n_chars, 0.95)")).first()[0]
    _, all_files = layout.plan_files(root)
    _, pruned = layout.plan_files(root, col_ranges={"n_chars": (hi, None)})
    assert len(pruned) < len(all_files)
    got = (
        layout.read_table(spark, root, col_ranges={"n_chars": (hi, None)})
        .filter(F.col("n_chars") >= hi)
        .count()
    )
    want = src.filter(F.col("n_chars") >= hi).count()
    assert got == want
    # unknown column / no-stats column: prune keeps everything
    _, keep_all = layout.plan_files(root, col_ranges={"nope": (1, 2)})
    assert len(keep_all) == len(all_files)


def test_upsert_copy_on_write(spark, pages_df, tmp_path_factory):
    """Row-level MERGE: rows sharing (key, ts) are replaced, new rows
    append, UNAFFECTED buckets' files carry over untouched, and time
    travel still sees the pre-upsert data."""
    root = str(tmp_path_factory.mktemp("ups") / "t")
    src = pages_df.select(
        "url", "warc_ts", F.length("text").cast("long").alias("n_chars")
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    layout.write_table(src, root, n_buckets=8, dt_granularity="month")
    before = layout.current_snapshot(root)
    n0 = layout.read_table(spark, root).count()

    one_url = src.select("url").first()["url"]
    updates = src.filter(F.col("url") == one_url).withColumn(
        "n_chars", F.col("n_chars") * 10
    )
    n_upd = updates.count()
    assert n_upd > 0
    new_rows = updates.limit(1).select(
        F.lit("https://brand.new/page").alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(7).cast("long").alias("n_chars"),
    )
    sid = layout.upsert_table(spark, root, updates.unionByName(new_rows))
    after = layout.current_snapshot(root)
    assert after["snapshot_id"] == sid and after["operation"] == "upsert"

    df = layout.read_table(spark, root)
    assert df.count() == n0 + 1  # replacements + one new row
    got = df.filter(F.col("url") == one_url).select("n_chars")
    want = src.filter(F.col("url") == one_url).select(
        (F.col("n_chars") * 10).alias("n_chars")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert df.filter(F.col("url") == "https://brand.new/page").count() == 1

    # unaffected buckets: identical file paths carried over
    buckets = layout.buckets_of_keys(spark, [one_url, "https://brand.new/page"], 8)
    keep_before = {f["path"] for f in before["files"] if f["bucket"] not in buckets}
    keep_after = {f["path"] for f in after["files"] if f["bucket"] not in buckets}
    assert keep_before == keep_after and keep_before
    # time travel: pre-upsert snapshot unchanged
    assert layout.read_table(
        spark, root, snapshot=before["snapshot_id"]
    ).count() == n0

    # delete the new row
    layout.upsert_table(spark, root, new_rows, delete=True)
    assert layout.read_table(spark, root).filter(
        F.col("url") == "https://brand.new/page"
    ).count() == 0
    assert layout.read_table(spark, root).count() == n0


def test_partition_spec_evolution(spark, pages_df, tmp_path_factory):
    """Iceberg partition-spec evolution: an append may switch the dt
    transform (day -> month) without rewriting old files — pruning is
    stats-based, so reads spanning both specs stay correct."""
    root = str(tmp_path_factory.mktemp("spec") / "t")
    half1 = pages_df.filter(F.col("lang") != "zz").select("url", "warc_ts", "lang")
    half2 = pages_df.filter(F.col("lang") == "zz").select("url", "warc_ts", "lang")
    layout.write_table(half1, root, n_buckets=B, dt_granularity="day")
    with pytest.raises(ValueError, match="spec_evolution"):
        layout.write_table(
            half2, root, n_buckets=B, mode="append", dt_granularity="month"
        )
    layout.write_table(
        half2, root, n_buckets=B, mode="append", dt_granularity="month",
        allow_spec_evolution=True,
    )
    snap = layout.current_snapshot(root)
    assert snap["dt_granularity"] == "month" and snap["spec_history"] == ["day"]
    n = layout.read_table(spark, root).count()
    assert n == half1.count() + half2.count()
    # time-range pruning still correct across both specs
    _, pruned = layout.plan_files(root, start="2023-12-01", end="2023-12-08")
    _, allf = layout.plan_files(root)
    assert 0 < len(pruned) < len(allf)
    got = (
        layout.read_table(spark, root, start="2023-12-01", end="2023-12-08")
        .filter((F.col("warc_ts") >= "2023-12-01") & (F.col("warc_ts") < "2023-12-08"))
        .count()
    )
    want = (
        pages_df.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .filter((F.col("warc_ts") >= "2023-12-01") & (F.col("warc_ts") < "2023-12-08"))
        .count()
    )
    assert got == want
    # compaction handles mixed-spec cells independently
    layout.compact_table(spark, root)
    assert layout.read_table(spark, root).count() == n


def test_metadata_tables(spark, pages_df, tmp_path_factory):
    """snapshots/files metadata tables reflect commits; files view is
    queryable with plain DataFrame ops (Iceberg metadata tables)."""
    root = str(tmp_path_factory.mktemp("meta") / "t")
    layout.write_table(pages_df.limit(100), root, n_buckets=B,
                       dt_granularity="month")
    layout.write_table(
        pages_df.orderBy(F.desc("url")).limit(40), root, n_buckets=B,
        mode="append", dt_granularity="month",
    )
    hist = layout.table_history(spark, root).orderBy("snapshot_id").collect()
    assert [(h["snapshot_id"], h["operation"]) for h in hist] == [
        (1, "overwrite"), (2, "append"),
    ]
    assert hist[1]["n_rows"] == hist[0]["n_rows"] + 40
    files = layout.table_files(spark, root)
    assert files.count() == len(layout.current_snapshot(root)["files"])
    assert files.filter(F.col("rows") <= 0).count() == 0
    # time-travel view of the files table
    f1 = layout.table_files(spark, root, snapshot=1)
    assert f1.agg(F.sum("rows")).first()[0] == hist[0]["n_rows"]


def test_zorder_compaction_improves_two_dim_skipping(spark, tmp_path_factory):
    """Z-order rewrite: per-file stats stay tight on BOTH clustered
    columns, so col_ranges pruning skips files in either dimension;
    a linear (key,ts) sort gives no skipping on the independent column."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(11)
    rows = [
        Row(url=f"https://z.example/{i}", warc_ts="2023-06-01 00:00:00",
            a=int(rng.integers(0, 10_000)), b=int(rng.integers(0, 10_000)))
        for i in range(4_000)
    ]
    base = tmp_path_factory.mktemp("zorder")

    def build(path, **compact_kw):
        src = spark.createDataFrame(rows).withColumn(
            "warc_ts", F.col("warc_ts").cast("timestamp")
        )
        layout.write_table(src, path, n_buckets=1, dt_granularity="month")
        layout.compact_table(spark, path, **compact_kw)
        return path

    zpath = build(str(base / "z"), zorder=["a", "b"], target_rows=250)
    snap = layout.current_snapshot(zpath)
    assert snap["operation"] == "zorder" and len(snap["files"]) >= 8

    _, allf = layout.plan_files(zpath)
    kept_a = len(layout.plan_files(zpath, col_ranges={"a": (0, 999)})[1])
    kept_b = len(layout.plan_files(zpath, col_ranges={"b": (0, 999)})[1])
    # a 10% slice of either dimension must skip a solid majority of files
    assert kept_a <= len(allf) // 2 and kept_b <= len(allf) // 2

    # correctness: pruned read + residual filter == full answer
    got = (
        layout.read_table(spark, zpath, col_ranges={"a": (0, 999)})
        .filter(F.col("a") <= 999).count()
    )
    want = sum(1 for r in rows if r.a <= 999)
    assert got == want


def test_upsert_randomized_vs_pandas_reference(spark, tmp_path_factory):
    """Randomized MERGE sequences (updates, inserts, deletes over random
    key subsets) must equal a pandas dict reference after every step."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(17)
    root = str(tmp_path_factory.mktemp("upsfuzz") / "t")

    def mk_rows(ids, val_off=0):
        return [
            Row(url=f"https://r.example/{i}",
                warc_ts=f"2023-06-{1 + (i % 28):02d} 00:00:00",
                v=float(i + val_off))
            for i in ids
        ]

    base_ids = list(range(60))
    src = spark.createDataFrame(mk_rows(base_ids)).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    layout.write_table(src, root, key_col="url", ts_col="warc_ts",
                       n_buckets=4, dt_granularity="month")
    ref = {r["url"]: (r["warc_ts"], r["v"]) for r in src.collect()}

    for step in range(4):
        upd_ids = rng.choice(90, size=12, replace=False).tolist()
        upd = spark.createDataFrame(
            mk_rows(upd_ids, val_off=1000 * (step + 1))
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        del_ids = rng.choice(90, size=4, replace=False).tolist()
        dele = spark.createDataFrame(mk_rows(del_ids)).withColumn(
            "warc_ts", F.col("warc_ts").cast("timestamp")
        )
        layout.upsert_table(spark, root, upd)
        for r in upd.collect():
            ref[r["url"]] = (r["warc_ts"], r["v"])
        layout.upsert_table(spark, root, dele, delete=True)
        for r in dele.collect():
            if r["url"] in ref and ref[r["url"]][0] == r["warc_ts"]:
                del ref[r["url"]]
        got = {
            r["url"]: (r["warc_ts"], r["v"])
            for r in layout.read_table(spark, root).collect()
        }
        assert got == ref, f"divergence at step {step}"


def test_upsert_wide_rewrites_every_bucket(spark, tmp_path_factory):
    """An upsert touching every bucket rewrites them all in one
    snapshot; every value updates, no row is lost, and every committed
    file carries its footer stats."""
    from pyspark.sql import Row

    root = str(tmp_path_factory.mktemp("ups_wide") / "tbl")
    src = spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i) for i in range(64)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    layout.write_table(src, root, n_buckets=8)

    updates = spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i + 1000)
         for i in range(64)]
    )
    layout.upsert_table(spark, root, updates)
    got = layout.read_table(spark, root).toPandas().sort_values("url")
    assert (got["v"] >= 1000).all() and len(got) == 64
    # stats present and usable for pruning
    snap = layout.current_snapshot(root)
    assert all(f["min_key"] is not None for f in snap["files"])


def test_user_columns_named_dt_and_bucket_are_data(spark, tmp_path):
    """The writers stage the partition levels as ``__dt``/``__bucket``,
    so user columns named ``dt`` and ``bucket`` read back unchanged
    after an overwrite, an append, an upsert and a compaction, while
    the directories still carry the manifest's partition values."""
    root = str(tmp_path / "t")

    def rows(urls, v):
        return spark.createDataFrame(
            [(u, "2023-06-01 00:00:00", 7, "x", v) for u in urls],
            "url string, warc_ts string, bucket int, dt string, v double",
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))

    def served():
        df = layout.read_table(spark, root).select("url", "bucket", "dt", "v")
        return sorted(tuple(r) for r in df.collect())

    layout.write_table(rows(["a", "b"], 1.0), root, n_buckets=4)
    layout.write_table(rows(["c"], 1.0), root, n_buckets=4, mode="append")
    layout.upsert_table(spark, root, rows(["a", "d"], 2.0))
    want = [("a", 7, "x", 2.0), ("b", 7, "x", 1.0), ("c", 7, "x", 1.0),
            ("d", 7, "x", 2.0)]
    assert served() == want
    layout.compact_table(spark, root, min_files=1)
    assert served() == want
    for f in layout.current_snapshot(root)["files"]:
        parts = f["path"].split(os.sep)
        assert f"dt={f['dt']}" in parts and f"bucket={f['bucket']}" in parts


def test_rollback_to_snapshot(spark, tmp_path_factory):
    """Iceberg rollback: HEAD flips to the older snapshot; reads serve
    the old data; roll-forward works until snapshots expire."""
    from pyspark.sql import Row

    root = str(tmp_path_factory.mktemp("rb") / "tbl")
    df1 = spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i) for i in range(5)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    s1 = layout.write_table(df1, root, n_buckets=2)
    df2 = spark.createDataFrame(
        [Row(url="new", warc_ts="2023-06-02 00:00:00", v=99)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    s2 = layout.write_table(df2, root, n_buckets=2, mode="append")
    assert layout.read_table(spark, root).count() == 6

    out = layout.rollback(root, s1)
    assert out == {"rolled_back_from": s2, "current": s1}
    assert layout.read_table(spark, root).count() == 5
    layout.rollback(root, s2)  # roll forward
    assert layout.read_table(spark, root).count() == 6
    import pytest as _p

    with _p.raises(FileNotFoundError):
        layout.rollback(root, 999)


def test_remove_orphan_files(spark, tmp_path_factory, monkeypatch):
    """Crash leftovers (inert upsert-* files referenced by no snapshot)
    are swept; referenced files survive; dry_run only reports."""
    from pyspark.sql import Row

    from feast_spark.sources import fileio

    root = str(tmp_path_factory.mktemp("orph") / "tbl")
    src = spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i) for i in range(20)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    layout.write_table(src, root, n_buckets=2)

    # crash an upsert mid-move → orphan upsert-* files on disk
    class Crash(fileio.FileIO):
        def __init__(self):
            self.n = 0

        def move(self, s, d):
            self.n += 1
            if self.n == 2:
                raise RuntimeError("boom")
            super().move(s, d)

    prev = fileio.set_io(Crash())
    try:
        import pytest as _p

        ups = spark.createDataFrame(
            [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i + 100)
             for i in range(20)]
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        with _p.raises(RuntimeError, match="boom"):
            layout.upsert_table(spark, root, ups)
    finally:
        fileio.set_io(prev)

    before = layout.read_table(spark, root).count()
    dry = layout.remove_orphan_files(root, dry_run=True, min_age_s=0)
    assert dry["orphans_found"] >= 1 and dry["orphans_removed"] == 0
    swept = layout.remove_orphan_files(root, min_age_s=0)
    assert swept["orphans_removed"] == dry["orphans_found"]
    assert swept["bytes_freed"] > 0
    # table content untouched; a second sweep finds nothing
    assert layout.read_table(spark, root).count() == before
    assert layout.remove_orphan_files(root, min_age_s=0)["orphans_found"] == 0


def test_append_after_rollback_gets_unique_snapshot_id(spark, tmp_path_factory):
    """r03 self-review: a commit after rollback must NOT reuse the
    rolled-back-from snapshot id (prev+1 would overwrite that manifest,
    stranding its data files). New ids continue past the on-disk max."""
    from pyspark.sql import Row

    root = str(tmp_path_factory.mktemp("rbid") / "tbl")

    def mk(urls, v):
        return spark.createDataFrame(
            [Row(url=u, warc_ts="2023-06-01 00:00:00", v=v) for u in urls]
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))

    s1 = layout.write_table(mk(["a", "b"], 1), root, n_buckets=2)
    s2 = layout.write_table(mk(["c"], 2), root, n_buckets=2, mode="append")
    layout.rollback(root, s1)
    s3 = layout.write_table(mk(["d"], 3), root, n_buckets=2, mode="append")
    assert s3 == s2 + 1  # unique, not a reuse of s2
    # s2's manifest intact: roll forward still possible
    snap2 = layout.load_snapshot(root, s2)
    assert {f["path"] for f in snap2["files"]}  # readable, non-empty
    layout.rollback(root, s2)
    assert layout.read_table(spark, root).count() == 3  # a, b, c
    layout.rollback(root, s3)
    got = {r["url"] for r in layout.read_table(spark, root).collect()}
    assert got == {"a", "b", "d"}  # the branch from s1


def test_remove_orphans_keeps_serving_store_files(spark, tmp_path_factory):
    """A serving store is a snapshot table: the sweep removes only a file
    no snapshot lists (a crashed merge's leftover), never a served or
    superseded one. Data whose manifests are gone is refused (r03
    self-review: "everything is an orphan" would delete it all)."""
    import shutil
    from datetime import timedelta

    from feast_spark.materialize import MaterializeJob, push_to_online, read_online
    from feast_spark.registry import Entity, FeatureSpec, FeatureView
    from pyspark.sql import Row

    base = tmp_path_factory.mktemp("orph_guard")
    src = str(base / "src.parquet")
    spark.createDataFrame(
        [Row(url="u", warc_ts="2023-06-01 00:00:00", v=1)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp")).write.parquet(src)
    dest = str(base / "store")
    view = FeatureView(
        name="v", entity=Entity("url", "url"), source=src,
        features=[FeatureSpec("v", "bigint")],
        ttl=timedelta(days=9), timestamp_field="warc_ts",
    )
    MaterializeJob(spark, view, dest, n_buckets=2, bucket_batch=2).run(
        "2023-01-01", "2024-01-01"
    )
    push_to_online(
        spark, dest,
        spark.createDataFrame([Row(url="u", warc_ts="2023-07-01 00:00:00", v=2)]),
        ts_col="warc_ts",
    )
    served = layout.current_snapshot(dest)["files"][0]["path"]
    leftover = os.path.join(os.path.dirname(served), "merge-crashed-0000.parquet")
    shutil.copy(os.path.join(dest, served), os.path.join(dest, leftover))
    out = layout.remove_orphan_files(dest, min_age_s=0)
    assert out["paths"] == [leftover]
    assert [r["v"] for r in read_online(spark, dest).collect()] == [2]
    assert [r["v"] for r in read_online(spark, dest, ["u"]).collect()] == [2]

    for name in os.listdir(os.path.join(dest, layout.META_DIR)):
        if name.startswith("snap-"):
            os.remove(os.path.join(dest, layout.META_DIR, name))
    with pytest.raises(RuntimeError, match="no snapshot manifests"):
        layout.remove_orphan_files(dest)


# ---------------------------------------------------------- named refs -----


def test_tags_pin_snapshots_through_expiry(spark, tmp_path_factory):
    """Iceberg table refs: a tag is an immutable named ref AND a
    retention pin — expire_snapshots(keep_last=1) must keep the tagged
    snapshot readable; drop_tag releases it."""
    import pytest as _pt

    root = str(tmp_path_factory.mktemp("refs") / "t")
    df1 = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)], "url string, ts string, v double"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"), "v")
    df2 = spark.createDataFrame(
        [("b", "2024-01-02 00:00:00", 2.0)], "url string, ts string, v double"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"), "v")
    layout.write_table(df1, root, key_col="url", ts_col="ts", n_buckets=2)
    sid = layout.create_tag(root, "v1")
    assert sid == 1 and layout.list_refs(root)["tags"] == {"v1": 1}
    layout.write_table(
        df2, root, key_col="url", ts_col="ts", n_buckets=2, mode="append"
    )
    # immutability: retargeting refused
    with _pt.raises(ValueError, match="immutable"):
        layout.create_tag(root, "v1")
    stats = layout.expire_snapshots(root, keep_last=1)
    assert stats["snapshots_removed"] == 0  # tag pinned snapshot 1
    got = {r["url"] for r in layout.read_table(spark, root, tag="v1").collect()}
    assert got == {"a"}
    assert {
        r["url"] for r in layout.read_table(spark, root).collect()
    } == {"a", "b"}
    # snapshot= and tag= are mutually exclusive; unknown tags raise
    with _pt.raises(ValueError, match="at most one"):
        layout.read_table(spark, root, snapshot=1, tag="v1")
    with _pt.raises(KeyError, match="no tag"):
        layout.read_table(spark, root, tag="nope")
    # dropping the tag releases the pin: expiry now removes snapshot 1
    layout.drop_tag(root, "v1")
    stats = layout.expire_snapshots(root, keep_last=1)
    assert stats["snapshots_removed"] == 1
    with _pt.raises(FileNotFoundError):
        layout.load_snapshot(root, 1)


def test_tag_of_explicit_snapshot_and_missing_snapshot(
    spark, tmp_path_factory
):
    import pytest as _pt

    root = str(tmp_path_factory.mktemp("refs2") / "t")
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)], "url string, ts string, v double"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"), "v")
    layout.write_table(df, root, key_col="url", ts_col="ts", n_buckets=2)
    with _pt.raises(FileNotFoundError):
        layout.create_tag(root, "ghost", snapshot_id=99)
    assert layout.create_tag(root, "pin1", snapshot_id=1) == 1


def test_write_audit_publish_branch_flow(spark, tmp_path_factory):
    """WAP: stage appends on a branch (invisible to main readers), audit
    the branch read, fast_forward publishes atomically; a diverged main
    refuses the fast-forward."""
    import pytest as _pt

    root = str(tmp_path_factory.mktemp("wap") / "t")
    mk = lambda url, ts, v: spark.createDataFrame(  # noqa: E731
        [(url, ts, v)], "url string, ts string, v double"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"), "v")
    layout.write_table(
        mk("a", "2024-01-01 00:00:00", 1.0), root,
        key_col="url", ts_col="ts", n_buckets=2,
    )
    # stage two appends on the audit branch
    layout.write_table(
        mk("b", "2024-01-02 00:00:00", 2.0), root,
        key_col="url", ts_col="ts", n_buckets=2, mode="append",
        branch="audit",
    )
    layout.write_table(
        mk("c", "2024-01-03 00:00:00", 3.0), root,
        key_col="url", ts_col="ts", n_buckets=2, mode="append",
        branch="audit",
    )
    # main readers see none of it; branch readers see all of it
    assert {r["url"] for r in layout.read_table(spark, root).collect()} == {"a"}
    staged = layout.read_table(spark, root, branch="audit")
    assert {r["url"] for r in staged.collect()} == {"a", "b", "c"}
    # audit step: validate the STAGED state before publishing
    from feast_spark.validation import expect

    expect(staged, [{"kind": "unique", "columns": ["url"]},
                    {"kind": "row_count_min", "value": 3}])
    # publish
    new_head = layout.fast_forward(root, "audit")
    assert layout.current_snapshot(root)["snapshot_id"] == new_head
    assert {
        r["url"] for r in layout.read_table(spark, root).collect()
    } == {"a", "b", "c"}
    layout.drop_branch(root, "audit")
    assert layout.list_branches(root) == {}

    # diverged main: fork a branch, commit to MAIN, fast-forward refuses
    layout.write_table(
        mk("d", "2024-01-04 00:00:00", 4.0), root,
        key_col="url", ts_col="ts", n_buckets=2, mode="append",
        branch="audit2",
    )
    layout.write_table(
        mk("e", "2024-01-05 00:00:00", 5.0), root,
        key_col="url", ts_col="ts", n_buckets=2, mode="append",
    )
    with _pt.raises(layout.CommitConflict, match="not an ancestor"):
        layout.fast_forward(root, "audit2")
    # branch heads pin expiry like tags
    stats = layout.expire_snapshots(root, keep_last=1)
    assert layout.branch_head(root, "audit2") is not None
    assert {
        r["url"]
        for r in layout.read_table(spark, root, branch="audit2").collect()
    } == {"a", "b", "c", "d"}


def test_expire_during_wap_staging_pins_head(spark, tmp_path_factory):
    """r04 review: unpublished branch commits are NEWER than HEAD, so
    keep_last=1 alone would expire HEAD itself — retention during a WAP
    staging window must pin HEAD like a tag, not crash."""
    root = str(tmp_path_factory.mktemp("wap_expire") / "t")
    mk = lambda url, ts, v: spark.createDataFrame(  # noqa: E731
        [(url, ts, v)], "url string, ts string, v double"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"), "v")
    layout.write_table(
        mk("a", "2024-01-01 00:00:00", 1.0), root,
        key_col="url", ts_col="ts", n_buckets=2,
    )
    head = layout.current_snapshot(root)["snapshot_id"]
    layout.write_table(
        mk("b", "2024-01-02 00:00:00", 2.0), root,
        key_col="url", ts_col="ts", n_buckets=2, mode="append",
        branch="audit",
    )
    stats = layout.expire_snapshots(root, keep_last=1)
    assert stats["snapshots_removed"] == 0  # HEAD + branch head both pinned
    assert layout.current_snapshot(root)["snapshot_id"] == head
    assert {r["url"] for r in layout.read_table(spark, root).collect()} == {"a"}
    assert {
        r["url"]
        for r in layout.read_table(spark, root, branch="audit").collect()
    } == {"a", "b"}


def test_snapshot_summary_properties_roundtrip(spark, tmp_path_factory):
    """write_table(properties=...) lands in the snapshot summary (atomic
    with the commit) and snapshot_with_summary finds it by key/value."""
    root = str(tmp_path_factory.mktemp("summary") / "t")
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00")], "url string, ts string"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"))
    layout.write_table(df, root, key_col="url", ts_col="ts", n_buckets=2)
    layout.write_table(
        df, root, key_col="url", ts_col="ts", n_buckets=2, mode="append",
        properties={"stream_batch": "7", "stream_fp": "1:42"},
    )
    assert layout.current_snapshot(root)["summary"]["stream_batch"] == "7"
    hit = layout.snapshot_with_summary(root, "stream_batch", "7")
    assert hit is not None and hit["summary"]["stream_fp"] == "1:42"
    assert layout.snapshot_with_summary(root, "stream_batch", "8") is None


def test_orphan_sweep_spares_young_files_by_default(
    spark, pages_df, tmp_path_factory
):
    """r04 review batch 2: appends are multi-writer, so a fresh
    unreferenced file may be a concurrent appender's moved-but-not-yet-
    committed data — the default min_age_s must spare it; min_age_s=0
    opts into the stop-the-world sweep."""
    import os

    root = str(tmp_path_factory.mktemp("orphan_age") / "t")
    layout.write_table(pages_df, root, n_buckets=2)
    orphan = os.path.join(
        root, layout.DATA_DIR, "dt=2023-11", "bucket=0",
        "append-deadbeef-0000.parquet",
    )
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"PAR1 not really parquet")
    out = layout.remove_orphan_files(root)  # default 3-day threshold
    assert out["orphans_found"] == 0 and os.path.exists(orphan)
    out = layout.remove_orphan_files(root, min_age_s=0)
    assert out["orphans_found"] == 1 and not os.path.exists(orphan)
