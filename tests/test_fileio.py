"""FileIO commit-seam tests (VERDICT r02 next #2): every commit-path
mutation goes through sources.fileio, and a crash injected at any point
between data-file placement and manifest commit leaves NO torn state —
readers keep serving the previous snapshot and a retry heals."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feast_spark.sources import fileio
from feast_spark.sources import pages as layout


class CrashingIO(fileio.FileIO):
    """Raises on the Nth call of a chosen op (1-based)."""

    def __init__(self, op: str, at_call: int):
        self.op, self.at_call, self.calls = op, at_call, 0

    def _maybe_crash(self, name):
        if name == self.op:
            self.calls += 1
            if self.calls == self.at_call:
                raise RuntimeError(f"injected crash at {name} #{self.calls}")

    def write_atomic(self, path, text):
        self._maybe_crash("write_atomic")
        super().write_atomic(path, text)

    def move(self, src, dst):
        self._maybe_crash("move")
        super().move(src, dst)

    def write_conditional(self, path, text, expected):
        self._maybe_crash("write_conditional")
        return super().write_conditional(path, text, expected)


@pytest.fixture()
def io_guard():
    """Restore the default FileIO after each test."""
    prev = fileio.get_io()
    yield
    fileio.set_io(prev)


def _mk(spark, root, n=40):
    df = spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i) for i in range(n)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    layout.write_table(df, root, n_buckets=4)


def _updates(spark, n=40):
    return spark.createDataFrame(
        [Row(url=f"u{i}", warc_ts="2023-06-01 00:00:00", v=i + 1000)
         for i in range(n)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))


def test_upsert_crash_between_moves_and_commit(spark, tmp_path, io_guard):
    """Crash after SOME staged files moved but before the snapshot
    commits: the table still serves the old snapshot (orphan upsert-*
    files are never swept into a manifest), and a retry converges."""
    root = str(tmp_path / "tbl")
    _mk(spark, root)
    before = layout.read_table(spark, root).toPandas().sort_values("url")

    fileio.set_io(CrashingIO("move", at_call=2))
    with pytest.raises(RuntimeError, match="injected crash at move"):
        layout.upsert_table(spark, root, _updates(spark))

    fileio.set_io(fileio.FileIO())
    # no torn state: same snapshot, same rows
    after = layout.read_table(spark, root).toPandas().sort_values("url")
    assert (after["v"].values == before["v"].values).all()
    # an unrelated append does NOT resurrect the orphans
    extra = spark.createDataFrame(
        [Row(url="zz", warc_ts="2023-06-02 00:00:00", v=7)]
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    layout.write_table(extra, root, n_buckets=4, mode="append")
    assert layout.read_table(spark, root).count() == len(before) + 1
    # retry heals: the upsert applies exactly once
    layout.upsert_table(spark, root, _updates(spark))
    got = layout.read_table(spark, root)
    assert got.filter(F.col("url") != "zz").filter(F.col("v") < 1000).count() == 0
    assert got.count() == len(before) + 1


def test_upsert_crash_at_snapshot_commit(spark, tmp_path, io_guard):
    """Crash at the snap-file publication itself (all data files already
    moved): HEAD still points at the old snapshot; reads unaffected."""
    root = str(tmp_path / "tbl")
    _mk(spark, root)
    old_snap = layout.current_snapshot(root)["snapshot_id"]

    fileio.set_io(CrashingIO("write_atomic", at_call=1))
    with pytest.raises(RuntimeError, match="injected crash at write_atomic"):
        layout.upsert_table(spark, root, _updates(spark))

    fileio.set_io(fileio.FileIO())
    assert layout.current_snapshot(root)["snapshot_id"] == old_snap
    assert (
        layout.read_table(spark, root).filter(F.col("v") >= 1000).count() == 0
    )
    layout.upsert_table(spark, root, _updates(spark))
    assert (
        layout.read_table(spark, root).filter(F.col("v") < 1000).count() == 0
    )


def test_materialize_crash_mid_swap_resumes(spark, tmp_path, io_guard):
    """Crash inside the serving store's compare-and-swap commit of the
    second bucket batch — after its first file moved into data/, and
    between claiming its snapshot and flipping HEAD: that batch's
    lineage was never written, so the resumed run rewrites it; the final
    store equals an uninterrupted one."""
    from feast_spark.materialize import MaterializeJob, read_online
    from feast_spark.registry import Entity, FeatureSpec, FeatureView

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [Row(user_id=i, ts="2023-06-01 00:00:00", v=float(i)) for i in range(40)]
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
    view = FeatureView(
        name="v",
        entity=Entity("u", "user_id"),
        source=src,
        features=[FeatureSpec("v", "double")],
        timestamp_field="ts",
    )
    d_full = str(tmp_path / "full")
    MaterializeJob(spark, view, d_full, n_buckets=4, bucket_batch=2).run(
        "2023-01-01", "2024-01-01"
    )
    full = read_online(spark, d_full)

    # batch 1 moves 2 files and makes 2 CAS writes (snapshot, HEAD)
    for op, at_call in (("move", 3), ("write_conditional", 4)):
        d_part = str(tmp_path / f"part-{op}")
        fileio.set_io(CrashingIO(op, at_call=at_call))
        with pytest.raises(RuntimeError, match=f"injected crash at {op}"):
            MaterializeJob(spark, view, d_part, n_buckets=4, bucket_batch=2).run(
                "2023-01-01", "2024-01-01"
            )
        fileio.set_io(fileio.FileIO())
        summary = MaterializeJob(
            spark, view, d_part, n_buckets=4, bucket_batch=2
        ).run("2023-01-01", "2024-01-01")
        assert summary["batches_skipped"] == 1  # the batch that finished
        part = read_online(spark, d_part)
        assert full.exceptAll(part).count() == 0
        assert part.exceptAll(full).count() == 0


def test_default_io_roundtrip(tmp_path):
    io = fileio.FileIO()
    p = str(tmp_path / "a" / "b.json")
    io.write_atomic(p, "x")
    io.write_atomic(p, "y")  # overwrite is atomic too
    assert open(p).read() == "y"
    src, dst = str(tmp_path / "f1"), str(tmp_path / "sub" / "f2")
    open(src, "w").write("data")
    io.move(src, dst)
    assert open(dst).read() == "data"
    io.remove(dst)
    io.remove(dst)  # idempotent
