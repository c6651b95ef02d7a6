"""Regression tests for the round-2 ADVICE findings (judge advisor):

1. pages._file_stats: decimal/bytes parquet stats must not reach the
   json.dump'd snapshot (commit crash for tables with such columns).
2. pages.write_table overwrite: a crash before the commit leaves the
   old HEAD serving the old rows, and a later append registers only its
   own files, never a crashed write's.
3. MaterializeJob.run records the key columns and their dtype in the
   store's snapshot (read_online then never reads a parquet footer on
   the serving hot path).
4. registry._deserialize_transform validates the src BEFORE exec: write
   access to registry.json is not arbitrary code execution.
"""

from __future__ import annotations

import decimal
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feast_spark.sources import pages as layout


def test_file_stats_json_unsafe_bounds_dropped(tmp_path):
    """decimal.Decimal / bytes min-max pairs are dropped from the
    manifest (json cannot serialize them); key/ts stats survive."""
    p = str(tmp_path / "f.parquet")
    t = pa.table(
        {
            "k": ["a", "b"],
            "ts": pd.to_datetime(["2023-01-01", "2023-01-02"]),
            "price": pa.array(
                [decimal.Decimal("1.25"), decimal.Decimal("9.50")],
                type=pa.decimal128(10, 2),
            ),
            "blob": pa.array([b"xx", b"yy"], type=pa.binary()),
        }
    )
    pq.write_table(t, p)
    st = layout._file_stats(p, "f.parquet", "k", "ts")
    assert "price" not in st["cols"]
    assert "blob" not in st["cols"]
    assert st["min_key"] == "a" and st["max_key"] == "b"
    json.dumps(st)  # the actual r02 crash


def test_write_table_decimal_column_commits(spark, tmp_path):
    """End to end: a table with a decimal column commits a loadable
    snapshot (the r02 advisory crash was json.dump at commit time)."""
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00") for i in range(4)]
    ).withColumn("price", F.lit("12.34").cast("decimal(10,2)"))
    snap_id = layout.write_table(df, root, n_buckets=2)
    snap = layout.current_snapshot(root)
    assert snap["snapshot_id"] == snap_id
    assert layout.read_table(spark, root).count() == 4


def _mk_table(spark, root, n=6):
    df = spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i) for i in range(n)]
    )
    layout.write_table(df, root, n_buckets=2)


def _crash_at_commit(monkeypatch):
    def crash(*a, **kw):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(layout, "_commit_snapshot", crash)


def test_append_after_crashed_overwrite_commits_own_rows(
    spark, tmp_path, monkeypatch
):
    """A first overwrite that crashes before its commit leaves data
    files and no HEAD; an append then registers exactly the files it
    wrote, never the crashed write's."""
    root = str(tmp_path / "tbl")
    _crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        _mk_table(spark, root)
    monkeypatch.undo()
    assert layout.current_snapshot(root) is None
    assert os.listdir(os.path.join(root, layout.DATA_DIR))  # orphans
    df = spark.createDataFrame([Row(url="x", warc_ts="2023-06-02 00:00:00", v=9)])
    layout.write_table(df, root, n_buckets=2, mode="append")
    assert [r["url"] for r in layout.read_table(spark, root).collect()] == ["x"]


def test_overwrite_crash_before_commit_keeps_old_head(
    spark, tmp_path, monkeypatch
):
    """A crash after the overwrite moved its files but before its commit
    leaves the old HEAD serving the old rows; a re-run heals."""
    root = str(tmp_path / "tbl")
    _mk_table(spark, root)
    df = spark.createDataFrame([Row(url="x", warc_ts="2023-06-02 00:00:00", v=9)])
    _crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        layout.write_table(df, root, n_buckets=2, mode="overwrite")
    monkeypatch.undo()
    assert layout.current_snapshot(root)["snapshot_id"] == 1
    assert layout.read_table(spark, root).count() == 6
    assert layout.write_table(df, root, n_buckets=2, mode="overwrite") == 2
    assert [r["url"] for r in layout.read_table(spark, root).collect()] == ["x"]


def test_store_meta_records_key_type(spark, tmp_path):
    from datetime import timedelta

    from feast_spark.materialize import MaterializeJob
    from feast_spark.registry import Entity, FeatureSpec, FeatureView

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [Row(user_id=i, ts="2023-06-01 00:00:00", v=float(i)) for i in range(8)]
    ).write.parquet(src)
    dest = str(tmp_path / "store")
    view = FeatureView(
        name="v",
        entity=Entity("user", "user_id"),
        source=src,
        features=[FeatureSpec("v", "double")],
        ttl=timedelta(days=30),
        timestamp_field="ts",
    )
    MaterializeJob(spark, view, dest, n_buckets=4, bucket_batch=4).run(
        "2023-01-01", "2024-01-01"
    )
    head = layout.current_snapshot(dest)
    assert head["key_col"] == ["user_id"]
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(head["schema"]))
    assert schema["user_id"].dataType.simpleString() == "bigint"


def test_registry_load_rejects_tampered_src():
    from feast_spark.registry import _deserialize_transform

    # structure violation: extra top-level statement
    with pytest.raises(ValueError, match="single undecorated def"):
        _deserialize_transform(
            {"src": "import os\ndef f(pdf):\n    return pdf\n", "fn": "f"}
        )
    # escape-hatch builtins are banned even though they ARE builtins
    with pytest.raises(ValueError, match="disallowed globals"):
        _deserialize_transform(
            {
                "src": (
                    "def f(pdf):\n"
                    "    __import__('os').system('true')\n"
                    "    return pdf\n"
                ),
                "fn": "f",
            }
        )
    # a benign numpy/pandas transform still loads and runs
    fn = _deserialize_transform(
        {
            "src": (
                "def f(pdf):\n"
                "    out = pd.DataFrame()\n"
                "    out['y'] = pdf['x'] * 2\n"
                "    return out\n"
            ),
            "fn": "f",
        }
    )
    assert list(fn(pd.DataFrame({"x": [1, 2]}))["y"]) == [2, 4]
