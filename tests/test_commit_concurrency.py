"""Optimistic multi-writer commit (VERDICT r03 next #3 / what's-missing
#2): the HEAD flip is a compare-and-swap through the FileIO seam, the
snapshot id is claimed create-if-absent, and appends retry with
revalidation after losing a race. A competing commit is injected
DETERMINISTICALLY at the loser's HEAD flip via a FileIO subclass, so the
test exercises the exact interleaving instead of hoping a thread race
lands."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import Row

from feast_spark.sources import fileio
from feast_spark.sources import pages as layout


@pytest.fixture()
def io_guard():
    prev = fileio.get_io()
    yield
    fileio.set_io(prev)


def _rows(tag: str, n: int, day: int):
    return [
        Row(
            url=f"https://x.test/{tag}{i}",
            warc_ts=f"2023-06-{day:02d} 00:00:00",
            v=tag,
        )
        for i in range(n)
    ]


class TestWriteConditional:
    def test_create_if_absent(self, tmp_path):
        io = fileio.FileIO()
        p = str(tmp_path / "HEAD")
        assert io.write_conditional(p, "a", None) is True
        assert io.read_text(p) == "a"
        assert io.write_conditional(p, "b", None) is False  # already exists
        assert io.read_text(p) == "a"

    def test_cas_expected_content(self, tmp_path):
        io = fileio.FileIO()
        p = str(tmp_path / "HEAD")
        io.write_conditional(p, "v1", None)
        assert io.write_conditional(p, "v2", "v0") is False
        assert io.write_conditional(p, "v2", "v1") is True
        assert io.read_text(p) == "v2"

    def test_threaded_cas_exactly_one_winner(self, tmp_path):
        """16 threads CAS from the same expected value; the flock
        serializes the read-compare-publish so exactly one wins."""
        io = fileio.FileIO()
        p = str(tmp_path / "HEAD")
        io.write_conditional(p, "v0", None)
        results = [None] * 16
        barrier = threading.Barrier(16)

        def worker(i):
            barrier.wait()
            results[i] = io.write_conditional(p, f"w{i}", "v0")

        ts = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert sum(results) == 1
        winner = results.index(True)
        assert io.read_text(p) == f"w{winner}"

    def test_lock_serializes_read_modify_write(self, tmp_path):
        """``FileIO.lock`` (the serving store's write lock): 8 threads
        increment one counter file under it; a lost update would leave
        the count short."""
        io = fileio.FileIO()
        p = str(tmp_path / "n")
        io.write_atomic(p, "0")

        def worker():
            for _ in range(50):
                with io.lock(str(tmp_path)):
                    io.write_atomic(p, str(int(io.read_text(p)) + 1))

        prev = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            ts = [threading.Thread(target=worker) for _ in range(8)]
            [t.start() for t in ts]
            [t.join(timeout=60) for t in ts]
        finally:
            sys.setswitchinterval(prev)
        assert not any(t.is_alive() for t in ts)
        assert io.read_text(p) == "400"


class RaceOnHeadIO(fileio.FileIO):
    """Runs ``inject()`` once, immediately BEFORE the victim's HEAD
    CAS — the canonical lost-race interleaving (victim read its parent,
    competitor commits, victim's flip must fail and revalidate)."""

    def __init__(self, inject):
        self._inject, self._armed = inject, True

    def write_conditional(self, path, text, expected):
        if self._armed and os.path.basename(path) == "HEAD":
            self._armed = False
            self._inject()
        return super().write_conditional(path, text, expected)


class TestConcurrentAppend:
    def test_both_snapshots_land(self, spark, tmp_path, io_guard):
        root = str(tmp_path / "tbl")
        base = spark.createDataFrame(_rows("base", 6, 1))
        layout.write_table(base, root, n_buckets=2, mode="overwrite")
        s1 = layout.current_snapshot(root)["snapshot_id"]

        b_df = spark.createDataFrame(_rows("b", 4, 2))
        a_df = spark.createDataFrame(_rows("a", 5, 3))

        def competitor():
            # runs with the injecting IO installed but disarmed — a
            # plain append that wins the race
            layout.write_table(b_df, root, n_buckets=2, mode="append")

        fileio.set_io(RaceOnHeadIO(competitor))
        a_snap = layout.write_table(a_df, root, n_buckets=2, mode="append")

        head = layout.current_snapshot(root)
        assert head["snapshot_id"] == a_snap
        # BOTH commits landed: A's parent is B's snapshot, not s1
        b_snap = head["parent"]
        assert b_snap != s1
        assert layout.load_snapshot(root, b_snap)["parent"] == s1
        # no rows lost: base + b + a all readable at HEAD
        got = layout.read_table(spark, root).select("url").toPandas()
        assert len(got) == 15
        assert got.url.str.contains(r"/a\d").sum() == 5
        assert got.url.str.contains(r"/b\d").sum() == 4
        # the loser's first-claimed snapshot id was unclaimed on conflict
        meta = os.path.join(root, "metadata")
        snaps = sorted(
            n for n in os.listdir(meta)
            if n.startswith("snap-") and n.endswith(".json")
        )
        assert len(snaps) == 3  # base, B, A-after-retry

    def test_lost_race_against_incompatible_change(
        self, spark, tmp_path, io_guard
    ):
        """Revalidation after a lost race must re-run the parent checks:
        the competitor evolves dt granularity, so the victim's retry
        (without allow_spec_evolution) raises instead of committing a
        mixed-spec snapshot."""
        root = str(tmp_path / "tbl")
        layout.write_table(
            spark.createDataFrame(_rows("base", 4, 1)),
            root,
            n_buckets=2,
            mode="overwrite",
        )
        comp = spark.createDataFrame(_rows("b", 3, 2))
        vic = spark.createDataFrame(_rows("a", 3, 3))

        def competitor():
            layout.write_table(
                comp,
                root,
                n_buckets=2,
                mode="append",
                dt_granularity="month",
                allow_spec_evolution=True,
            )

        fileio.set_io(RaceOnHeadIO(competitor))
        with pytest.raises(ValueError, match="dt_granularity"):
            layout.write_table(vic, root, n_buckets=2, mode="append")
        # competitor's commit is intact
        assert layout.current_snapshot(root)["dt_granularity"] == "month"

    def test_compact_surfaces_conflict(self, spark, tmp_path, io_guard):
        """Rewrite ops must NOT auto-retry (their inputs went stale):
        a compaction losing the race raises CommitConflict and leaves
        the competitor's snapshot as HEAD."""
        root = str(tmp_path / "tbl")
        layout.write_table(
            spark.createDataFrame(_rows("base", 8, 1)),
            root,
            n_buckets=2,
            mode="overwrite",
        )
        extra = spark.createDataFrame(_rows("b", 3, 2))

        def competitor():
            layout.write_table(extra, root, n_buckets=2, mode="append")

        fileio.set_io(RaceOnHeadIO(competitor))
        with pytest.raises(fileio.CommitConflict):
            layout.compact_table(spark, root)
        head = layout.current_snapshot(root)
        assert head["operation"] == "append"
        # nothing torn: all 11 rows still served
        assert layout.read_table(spark, root).count() == 11


class TestCrashedAppendOrphans:
    def test_crashed_append_files_stay_inert(self, spark, tmp_path, io_guard):
        """A crash between the staged-file moves and the commit leaves
        append-* orphans that no snapshot lists and remove_orphan_files
        can sweep."""

        class CrashBeforeCommit(fileio.FileIO):
            def write_conditional(self, path, text, expected):
                if os.path.basename(path).startswith("snap-"):
                    raise RuntimeError("injected crash before commit")
                return super().write_conditional(path, text, expected)

        root = str(tmp_path / "tbl")
        layout.write_table(
            spark.createDataFrame(_rows("base", 4, 1)),
            root,
            n_buckets=2,
            mode="overwrite",
        )
        fileio.set_io(CrashBeforeCommit())
        with pytest.raises(RuntimeError, match="injected crash"):
            layout.write_table(
                spark.createDataFrame(_rows("x", 4, 2)),
                root,
                n_buckets=2,
                mode="append",
            )
        fileio.set_io(fileio.FileIO())
        # reader still serves the previous snapshot only
        assert layout.read_table(spark, root).count() == 4
        swept = layout.remove_orphan_files(root, min_age_s=0)
        assert swept["orphans_found"] > 0
        assert all("append-" in p for p in swept["paths"])
        # and a healthy retry lands normally
        layout.write_table(
            spark.createDataFrame(_rows("x", 4, 2)),
            root,
            n_buckets=2,
            mode="append",
        )
        assert layout.read_table(spark, root).count() == 8


def test_append_racing_completed_overwrite_retries(spark, tmp_path, monkeypatch):
    """An append that loses its commit race to a COMPLETED overwrite
    retries on top of it: the overwrite deleted no file, so the retried
    snapshot holds the overwrite's rows plus the append's, and every
    file it lists exists."""
    root = str(tmp_path / "t")
    df = lambda tag, n: spark.createDataFrame(  # noqa: E731
        _rows(tag, n, 1), "url string, warc_ts string, v string"
    ).selectExpr("url", "CAST(warc_ts AS TIMESTAMP) warc_ts", "v")
    layout.write_table(df("base", 3), root, n_buckets=2)

    real_commit = layout._commit_snapshot
    fired = {"done": False}

    def racing_commit(root_, snapshot, **kw):
        if not fired["done"]:
            fired["done"] = True
            # the competing overwrite completes BEFORE our flip lands
            monkeypatch.setattr(layout, "_commit_snapshot", real_commit)
            layout.write_table(df("over", 2), root, n_buckets=2)
            raise layout.CommitConflict("injected: lost the HEAD race")
        return real_commit(root_, snapshot, **kw)

    monkeypatch.setattr(layout, "_commit_snapshot", racing_commit)
    layout.write_table(df("app", 2), root, n_buckets=2, mode="append")
    head = layout.current_snapshot(root)
    assert head["operation"] == "append"
    assert layout.load_snapshot(root, head["parent"])["operation"] == "overwrite"
    got = sorted(r["url"] for r in layout.read_table(spark, root).collect())
    assert got == sorted(
        [f"https://x.test/over{i}" for i in range(2)]
        + [f"https://x.test/app{i}" for i in range(2)]
    )
    assert all(
        os.path.exists(os.path.join(root, f["path"])) for f in head["files"]
    )
