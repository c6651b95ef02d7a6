"""An overwrite of a layout table is one more snapshot (Iceberg's
overwrite): it has no parent, lists only its own files, takes the next
snapshot id, and deletes nothing, so earlier snapshots, lineage keyed by
snapshot id and reads planned before it all keep working."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from feast_spark.materialize import MaterializeJob, materialize_delta, read_online
from feast_spark.registry import Entity, FeatureSpec, FeatureView
from feast_spark.sources import pages as layout

START, END = datetime(2023, 12, 1), datetime(2024, 6, 1)


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "url string, ts string, v double"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"), "v")


def write(spark, root, rows, mode="overwrite"):
    return layout.write_table(
        mk(spark, rows), root, key_col="url", ts_col="ts", n_buckets=2,
        mode=mode,
    )


def view(root):
    return FeatureView(
        name="pv", entity=Entity("u", "url"), source=root,
        features=[FeatureSpec("v", "double")], timestamp_field="ts",
    )


def served(spark, dest):
    return {r["url"]: r["v"] for r in read_online(spark, dest).collect()}


def test_rematerialize_after_overwrite_serves_new_rows(spark, tmp_path):
    """Lineage records the input snapshot id: an overwrite that reused
    id 1 made the re-run skip every batch and keep serving old rows."""
    root, dest = str(tmp_path / "t"), str(tmp_path / "o")
    write(spark, root, [("a", "2024-01-01 00:00:00", 1.0)])
    MaterializeJob(spark, view(root), dest, n_buckets=2).run(START, END)
    write(spark, root, [
        ("a", "2024-01-01 00:00:00", 2.0), ("z", "2024-01-01 00:00:00", 7.0),
    ])
    out = MaterializeJob(spark, view(root), dest, n_buckets=2).run(START, END)
    assert out["batches_run"] == 1 and out["batches_skipped"] == 0
    assert served(spark, dest) == {"a": 2.0, "z": 7.0}


def test_materialize_delta_across_overwrite_raises(spark, tmp_path):
    """An overwrite is not an append: the delta from the store's last
    snapshot cannot be read, so the delta refuses instead of reporting
    the store caught up while it misses the new rows."""
    root, dest = str(tmp_path / "t"), str(tmp_path / "o")
    write(spark, root, [("a", "2024-01-01 00:00:00", 1.0)])
    for i in range(3):
        write(spark, root, [(f"b{i}", "2024-01-02 00:00:00", 1.0)], "append")
    MaterializeJob(spark, view(root), dest, n_buckets=2).run(START, END)
    assert layout.current_snapshot(root)["snapshot_id"] == 4
    write(spark, root, [("n", "2024-02-01 00:00:00", 5.0)])
    with pytest.raises(ValueError, match="not an ancestor"):
        materialize_delta(spark, view(root), dest)


def test_read_planned_before_overwrite_collects_old_rows(spark, tmp_path):
    """The overwrite leaves the files a planned read holds in place."""
    root = str(tmp_path / "t")
    write(spark, root, [("a", "2024-01-01 00:00:00", 1.0),
                        ("b", "2024-01-01 00:00:00", 2.0)])
    planned = layout.read_table(spark, root)
    write(spark, root, [("c", "2024-01-01 00:00:00", 3.0)])
    assert sorted(r["url"] for r in planned.collect()) == ["a", "b"]
    assert [r["url"] for r in layout.read_table(spark, root).collect()] == ["c"]


def test_overwrite_ids_rise_and_time_travel_survives_until_expire(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    s1 = write(spark, root, [("a", "2024-01-01 00:00:00", 1.0)])
    s2 = write(spark, root, [("b", "2024-01-01 00:00:00", 2.0)], "append")
    s3 = write(spark, root, [("c", "2024-01-01 00:00:00", 3.0)])
    s4 = write(spark, root, [("d", "2024-01-01 00:00:00", 4.0)], "append")
    assert s1 < s2 < s3 < s4
    head = layout.current_snapshot(root)
    assert layout.load_snapshot(root, s3)["operation"] == "overwrite"
    assert layout.load_snapshot(root, s3)["parent"] is None
    assert [s["snapshot_id"] for s in layout.iter_snapshots(root)] == [s4, s3]
    assert head["snapshot_id"] == s4 and head["parent"] == s3

    def urls(**kw):
        return sorted(r["url"] for r in layout.read_table(spark, root, **kw).collect())

    assert urls() == ["c", "d"]
    assert urls(snapshot=s2) == ["a", "b"]  # before the overwrite
    assert urls(snapshot=s1) == ["a"]
    out = layout.expire_snapshots(root, keep_last=1)
    assert out["snapshots_removed"] == 3 and out["files_removed"] == 2
    with pytest.raises(FileNotFoundError):
        layout.read_table(spark, root, snapshot=s2)
    assert urls() == ["c", "d"]


@pytest.mark.parametrize("index", ["minhash", "ann", "ivf"])
def test_index_rebuild_retires_the_build_it_replaced(spark, tmp_path, index):
    """An index rebuild rewrites its config beside the table, so the
    builds it replaced cannot be served any more: their files go, and
    two rebuilds on one root do not keep both copies on disk."""
    import os

    import numpy as np

    from feast_spark.operators.dedupe import build_minhash_index
    from feast_spark.operators.similarity import build_ann_index, build_ivf_index

    root = str(tmp_path / "idx")
    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i} shares these words with doc {i % 5}") for i in range(20)],
        "doc_id long, text string",
    )
    build = {
        "minhash": lambda: build_minhash_index(docs, root, n_buckets=4),
        "ann": lambda: build_ann_index(
            vecs, root, dim=8, n_bits=3, n_tables=2, n_buckets=4
        ),
        "ivf": lambda: build_ivf_index(
            vecs, root, dim=8, n_buckets=4,
            centroids=rng.normal(size=(4, 8)),
        ),
    }[index]
    first = build()
    second = build()
    assert second > first
    on_disk = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(os.path.join(root, layout.DATA_DIR))
        for f in fs
    }
    head = layout.current_snapshot(root)
    assert on_disk == {f["path"] for f in head["files"]} and on_disk
    assert [s["snapshot_id"] for s in layout.iter_snapshots(root)] == [second]
    assert [
        n for n in os.listdir(os.path.join(root, layout.META_DIR))
        if n.startswith("snap-")
    ] == [f"snap-{second:06d}.json"]
