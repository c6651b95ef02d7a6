"""Materialization runner (SURVEY.md §3.2; upstream
``feature_store.materialize → pull_latest_from_table_or_query →
online_write_batch``, re-expressed Spark-first).

For a time range ``[start, end)``: scan the feature source, compute the
**latest feature row per entity key** (A1: event_ts DESC, created_ts
DESC, deterministic hash), and upsert it into a url-hash-bucketed serving
store — one row per key, in the key's bucket.

**One source read.** A job reads the view's rows as retrieval does,
through ``FeatureView.load``: field mapping, timestamp casts, derived
aggregates and the history their windows need below ``start``. A run
reads ONE layout snapshot — the one ``FeatureView.layout_snapshot``
names when it starts — in every batch, however HEAD moves meanwhile;
lineage records that snapshot. Layout files are pruned by time, and by
bucket when the store keys on the layout's one key column (under its
mapped name): a batch reads the layout buckets congruent to its store
buckets modulo the gcd of the two ``n_buckets``, and keeps its store
buckets' rows with a filter.

**The transform contract.** A job's ``transform`` is a per-row feature
derivation: it returns one row per input row and keeps the view's key,
event-ts and created-ts columns. It runs on each key's latest source
rows only (upstream's order: ``pull_latest_from_table_or_query`` picks
the latest rows, then features are derived from them), i.e. on the rows
tied with their key's maximum (event_ts, created_ts) —
``windows.latest_candidates``, exact ties included — and the hash
tie-break of ``latest_per_key`` then picks among the transformed rows,
so the served rows equal those of transforming every scanned row. A
transform that drops rows breaks the contract: a key whose latest rows
it drops is not served (no older row stands in), and the job warns.

**Checkpoint grain = bucket** (the url-hash partition of the north
rule): each bucket batch is one Spark action whose completion commits a
per-partition lineage manifest ``{input_snapshot, start, end, buckets,
rows_in, rows_out, max_event_ts, wall_ms}`` via atomic rename —
``rows_in`` counts the scanned rows in range, and with a transform
``transform_rows_in`` / ``transform_rows_out`` count the rows it was
given and returned; every count rides the write, no extra Spark job.
A batch with no rows in range records 0s. Only a transform Spark proves
empty before running (``limit(0)``, a false filter) removes the counts
from the plan: ``rows_in`` and ``transform_rows_in`` are then None,
``transform_rows_out`` is 0 and the job warns.
A re-run skips buckets whose lineage already matches the same
(input snapshot, range) — kill the job after k buckets and the next run
resumes at bucket k+1 with byte-identical output (tests/test_materialize).

Scale shape: B buckets → ceil(B / bucket_batch) driver-sequential Spark
jobs, each fully parallel across that batch's files/partitions. At 100 TB
with B=1024, bucket_batch=64 gives 16 jobs of ~6 % of the data each —
bounded failure blast radius and bounded shuffle state per job, while
keeping executors saturated. Incremental upsert merges the existing
serving rows for JUST the touched buckets (read-modify-write per bucket,
never a full-store rewrite).

**One write path.** The serving store is a ``sources/pages.py`` snapshot
table without the ``dt=`` level: ``data/bucket=<b>/*.parquet`` files
listed by ``metadata/snap-*.json`` snapshots, which also record the
store's ``n_buckets``, key columns, ``ts_col`` and schema.
Materialization, ``push_to_online`` and the stream sink
``streaming.pipeline.stream_latest_to_online`` all land rows through
``_merge_into_store``. Under the store's writer lock (``FileIO.lock`` on
``<dest>``) it hands its merge rule — latest row per key, incoming over
served — to ``pages._rewrite_buckets``, the copy-on-write step that
``pages.upsert_table`` shares: the incoming keys take the store's key
dtypes, the touched buckets' files of the HEAD snapshot are read and
merged, the merged buckets are written as new uniquely named files, and
one snapshot commits the parent's files, minus the touched buckets',
plus the new ones. Writers serialize; superseded files stay on disk
until ``pages.expire_snapshots``, so a reader that planned an older
snapshot still finds every file it planned.
"""

from __future__ import annotations

import json
import math
import time
import warnings
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark.operators.windows import latest_candidates, latest_per_key
from feast_spark.sources import fileio
from feast_spark.sources import pages as layout


class MaterializeJob:
    """Materialize ``view`` over a time range into the serving store at
    ``dest``, one bucket batch per Spark write (module docstring). It is
    the batch writer: a push and a stream micro-batch merge into their
    keys' buckets through ``_merge_into_store`` without it. A run reads
    one layout snapshot in every batch, through ``FeatureView.load``;
    layout files are bucket-pruned when the key column is the layout's,
    by the gcd of the two ``n_buckets``.

    ``transform`` is a per-row feature derivation that keeps the view's
    key, event-ts and created-ts columns. It is applied to each key's
    latest source rows — the ones tied with the key's maximum (event_ts,
    created_ts) — not to every scanned row, so it must return one row per
    input row: a key whose latest rows it drops is not served, and the
    job warns naming the view."""

    def __init__(
        self,
        spark: SparkSession,
        view,
        dest: str,
        *,
        n_buckets: int | None = None,
        bucket_batch: int = 8,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        fail_after_batches: int | None = None,
    ) -> None:
        self.spark = spark
        self.view = view
        self.dest = dest
        self.bucket_batch = bucket_batch
        self.transform = transform
        self.fail_after_batches = fail_after_batches  # test hook (resume)

        if n_buckets is None:
            snap = view.layout_snapshot()
            n_buckets = snap["n_buckets"] if snap else layout.DEFAULT_BUCKETS
        self.n_buckets = n_buckets

    #: constant key column injected for entity-less (global) views —
    #: upstream's DUMMY_ENTITY; the whole view serves one latest row
    DUMMY_KEY = "__feast_dummy_entity__"

    def _key_cols(self) -> list[str]:
        # a one-element entity LIST is a legal view shape; dereference
        # via join_keys so it doesn't crash on .join_key (round-2 review).
        # A multi-element list = composite entity key: the store buckets
        # on xxhash64(k1, k2, …) and serves one row per key TUPLE. An
        # EMPTY list = entity-less view, keyed by an injected constant.
        keys = getattr(self.view, "join_keys", None)
        if keys is not None and len(keys) == 0:
            return [self.DUMMY_KEY]
        return list(keys) if keys else [self.view.entity.join_key]

    # -- source ----------------------------------------------------------
    def _coverage_complete(self, snap: dict | None, start, end) -> bool | None:
        """Is the store latest-per-key COMPLETE as of the layout snapshot
        ``snap`` after a run over [start, end)? True when the range covers
        the snapshot's whole event-time span (footer stats, no Spark job),
        or — the incremental induction — when a prior lineage record is
        complete at an ancestor snapshot and this range covers every file
        APPENDED since it. Recorded in lineage; ``materialize_delta``
        refuses a baseline without a complete record, because a
        time-bounded run records input_snapshot=HEAD while leaving
        out-of-range rows unmaterialized (r04 review: those rows were
        silently unservable forever). None = non-layout source (coverage
        unknowable)."""
        if snap is None:
            return None
        snap_id = snap["snapshot_id"]

        def _span(files) -> tuple | None:
            mins = [f.get("min_ts") for f in files]
            maxs = [f.get("max_ts") for f in files]
            if any(m is None for m in mins) or any(m is None for m in maxs):
                return None  # footer ts stats missing: unverifiable
            return (layout.naive_utc(min(mins)), layout.naive_utc(max(maxs)))

        s, e = layout.naive_utc(start), layout.naive_utc(end)
        files = snap["files"]
        if not files:
            return True
        span = _span(files)
        if span is not None and s <= span[0] and e > span[1]:
            return True
        priors = sorted(
            (
                r for r in layout.list_lineage(self.dest)
                if r.get("complete") and r.get("input_snapshot") is not None
                and r["input_snapshot"] < snap_id
                # mirror materialize_delta's guard: a "buckets" key marks a
                # legacy PER-BATCH record, whose complete flag could
                # survive a crashed multi-batch run — only run-level/delta
                # markers may seed the induction (ADVICE r04)
                and "buckets" not in r
            ),
            key=lambda r: -r["input_snapshot"],
        )
        for r in priors:
            try:
                _, added = layout.added_files(
                    self.view.layout_root, r["input_snapshot"], snap_id
                )
            except Exception:
                continue  # not an ancestor (rollback/branch history)
            if not added:
                return True
            aspan = _span(added)
            if aspan is not None and s <= aspan[0] and e > aspan[1]:
                return True
        return False

    def _scan(
        self, start, end, buckets: list[int], snap: dict | None = None
    ) -> DataFrame:
        """The view's rows in [start, end) whose keys hash to ``buckets``
        of the store, read through ``FeatureView.load`` at the layout
        snapshot ``snap`` (None: the one the view reads now). Layout
        files are pruned by time, and by bucket when the store keys on
        the layout's one key column under its mapped name: layout bucket
        ``l`` can hold store bucket ``s`` only if ``l ≡ s (mod
        gcd(B_layout, B_store))``, so equal moduli read one layout bucket
        per store bucket and coprime ones read them all. The bucket
        filter below keeps the batch's rows."""
        ts = self.view.timestamp_field
        keys = self._key_cols()
        kw: dict = {}
        if snap is not None:
            kw["snapshot"] = snap["snapshot_id"]
            kcol = snap["key_col"]  # a list when the source is a store
            if isinstance(kcol, str) and keys == [
                self.view.field_mapping.get(kcol, kcol)
            ]:
                # a key's layout and store buckets are one hash modulo
                # each n_buckets, so they agree modulo their gcd
                g = math.gcd(snap["n_buckets"], self.n_buckets)
                wanted = {b % g for b in buckets}
                kw["buckets"] = {
                    b for b in range(snap["n_buckets"]) if b % g in wanted
                }
        # aggregates are derived BEFORE the range filter: bucket pruning
        # keeps whole keys, and load widens the scan by the windows
        df = self.view.load(self.spark, start=start, end=end, **kw)
        df = df.filter(
            (F.col(ts) >= F.lit(start).cast("timestamp"))
            & (F.col(ts) < F.lit(end).cast("timestamp"))
        )
        b = layout.bucket_expr(keys, self.n_buckets)
        # bucket membership is a pure filter here; the write recomputes the
        # bucket id (cheap hash) AFTER the user transform, which may
        # project columns freely
        if keys == [self.DUMMY_KEY]:
            # entity-less view: inject the constant key just for the
            # filter (all rows share one bucket), keep the user schema
            return (
                df.withColumn(self.DUMMY_KEY, F.lit(1))
                .filter(b.isin(buckets))
                .drop(self.DUMMY_KEY)
            )
        return df.filter(b.isin(buckets))

    # -- one bucket batch ------------------------------------------------
    def _run_batch(
        self, start, end, buckets: list[int], snap: dict | None
    ) -> dict:
        ts = self.view.timestamp_field
        keys = self._key_cols()
        created = self.view.created_timestamp_column
        dummy = keys == [self.DUMMY_KEY]
        t0 = time.monotonic()

        # every count rides the store write below: no extra Spark job
        scanned, given, returned, obs = (Observation() for _ in range(4))
        df = self._scan(start, end, buckets, snap).observe(scanned, _n_rows())
        if self.transform is not None:
            # the transform sees only each key's latest candidates, in the
            # source schema; the store merge's latest_per_key hash
            # tie-break picks among them. An entity-less view ranks all
            # rows as one key.
            df = latest_candidates(
                df, key=[] if dummy else keys, order=ts, created_col=created
            )
            df = self.transform(df.observe(given, _n_rows()))
            df = df.observe(returned, _n_rows())
        if dummy:
            df = df.withColumn(self.DUMMY_KEY, F.lit(1))
        _merge_into_store(
            self.spark, self.dest, df, buckets,
            key_cols=keys, ts_col=ts, created_col=created,
            n_buckets=self.n_buckets,
            on_merged=lambda merged: merged.observe(
                obs,
                F.count(F.lit(1)).alias("rows_out"),
                F.max(F.col(ts)).alias("max_event_ts"),
            ),
        )
        metrics = obs.get
        wall_ms = int((time.monotonic() - t0) * 1000)
        max_ts = metrics["max_event_ts"]
        record = {
            "input_snapshot": snap["snapshot_id"] if snap else None,
            "start": str(start),
            "end": str(end),
            "buckets": buckets,
            "rows_in": _observed_rows(scanned),
            "rows_out": metrics["rows_out"],
            "max_event_ts": max_ts.isoformat() if max_ts else None,
            "wall_ms": wall_ms,
        }
        if self.transform is not None:
            n_in, n_out = _observed_rows(given), _observed_rows(returned)
            if n_out is None:
                # Spark proved the transform's output empty before running
                # it (``limit(0)``, a false filter) and removed the counts
                # from the plan: it returns nothing, whatever it is given
                n_out = 0
            record["transform_rows_in"] = n_in
            record["transform_rows_out"] = n_out
            if n_in != n_out:
                warnings.warn(
                    f"the materialization transform of view "
                    f"{self.view.name!r} returned {n_out} rows for "
                    f"{'its input' if n_in is None else n_in} "
                    f"(buckets {buckets[0]}-{buckets[-1]}): a transform "
                    "must derive one row per input row; a key whose "
                    "latest rows it drops is not served",
                    stacklevel=3,
                )
        return record

    # -- driver loop -----------------------------------------------------
    def run(self, start, end) -> dict:
        """Materialize [start, end). Returns summary metrics. Resumable:
        bucket batches with matching lineage are skipped. Every batch
        reads the one layout snapshot the view reads when the run starts,
        however HEAD moves meanwhile."""
        snap = self.view.layout_snapshot()
        snap_id = snap["snapshot_id"] if snap else None
        complete = self._coverage_complete(snap, start, end)
        _check_store(
            self.dest, layout.current_snapshot(self.dest), self.n_buckets,
            self._key_cols(), self.view.timestamp_field,
        )
        batches = [
            list(range(b, min(b + self.bucket_batch, self.n_buckets)))
            for b in range(0, self.n_buckets, self.bucket_batch)
        ]
        done = skipped = 0
        total_rows = 0
        t0 = time.monotonic()
        for i, buckets in enumerate(batches):
            pid = f"b{buckets[0]:04d}-{buckets[-1]:04d}"
            prior = layout.read_lineage(self.dest, pid)
            if (
                prior
                and prior.get("input_snapshot") == snap_id
                and prior.get("start") == str(start)
                and prior.get("end") == str(end)
            ):
                skipped += 1
                total_rows += prior["rows_out"]
                continue
            if (
                self.fail_after_batches is not None
                and done >= self.fail_after_batches
            ):
                raise RuntimeError(f"injected failure before batch {pid}")
            record = self._run_batch(start, end, buckets, snap)
            layout.write_lineage(self.dest, pid, record)
            done += 1
            total_rows += record["rows_out"]
        if complete and snap_id is not None:
            # the completeness marker is written ONLY after every bucket
            # batch has committed (r04 review batch 3: a per-batch flag
            # let a crashed multi-batch run pass materialize_delta's
            # baseline check with half its buckets unmaterialized), and
            # ONLY when True — a later bounded run at the same snapshot
            # must not clobber a verified marker with False
            layout.write_lineage(
                self.dest,
                f"complete-{snap_id:06d}",
                {
                    "input_snapshot": snap_id,
                    "start": str(start),
                    "end": str(end),
                    "rows_out": total_rows,
                    "complete": True,
                },
            )
        wall_s = time.monotonic() - t0
        return {
            "batches_run": done,
            "batches_skipped": skipped,
            "rows": total_rows,
            "wall_s": round(wall_s, 3),
            "rows_per_sec": round(total_rows / max(wall_s, 1e-9), 1),
            "input_snapshot": snap_id,
        }


def _n_rows():
    return F.count(F.lit(1)).alias("rows")


def _observed_rows(obs: Observation) -> int | None:
    """The ``_n_rows`` count ``obs`` took, or None when the optimizer
    pruned the observed node from the plan it ran: a transform Spark
    proves empty before running (``limit(0)``, a false filter) takes the
    batch's counts with it. An empty batch is counted, as 0."""
    try:
        return obs.get["rows"]
    except Py4JJavaError:
        return None


def _check_store(
    dest: str, head: dict | None, n_buckets: int, key_cols: list[str],
    ts_col: str,
) -> None:
    """Refuse to write into the store at ``dest`` (``head``: its current
    snapshot, None for a new store) with another bucket modulus or other
    key columns, where probe keys would hash to buckets that do not hold
    them, or with another event-time column, where the merge would rank
    served rows by one column and new rows by another."""
    if head is None:
        return
    if head["n_buckets"] != n_buckets:
        raise ValueError(
            f"store {dest} was written with n_buckets={head['n_buckets']}, "
            f"cannot re-materialize with {n_buckets}"
        )
    if head["key_col"] != key_cols:
        raise ValueError(
            f"store {dest} is keyed on {head['key_col']}, cannot "
            f"re-materialize keyed on {key_cols}"
        )
    if head["ts_col"] != ts_col:
        raise ValueError(
            f"store {dest} is timed on {head['ts_col']!r}, cannot write "
            f"rows timed on {ts_col!r}"
        )


def last_materialized_end(dest: str) -> str | None:
    """The latest ``end`` across lineage records — where the next
    incremental run resumes (upstream: the registry's materialized-range
    tracking in materialize_incremental)."""
    records = layout.list_lineage(dest)
    ends = [r["end"] for r in records if r.get("end")]
    return max(ends) if ends else None


def materialize_incremental(
    spark: SparkSession, view, dest: str, end, *, start_default=None, **kw
) -> dict:
    """Upstream ``materialize_incremental``: resume from the last
    materialized end (or ``start_default`` on first run) up to ``end``.
    No-ops when the store is already caught up."""
    start = last_materialized_end(dest) or start_default
    if start is None:
        raise ValueError("first incremental run needs start_default")
    if str(start) >= str(end):
        return {"batches_run": 0, "batches_skipped": 0, "rows": 0,
                "wall_s": 0.0, "rows_per_sec": 0.0, "caught_up": True}
    return MaterializeJob(spark, view, dest, **kw).run(start, end)


def last_input_snapshot(dest: str) -> int | None:
    """Highest layout snapshot any lineage record of this store has
    consumed — the resume point for snapshot-delta materialization."""
    snaps = [
        r.get("input_snapshot")
        for r in layout.list_lineage(dest)
        if r.get("input_snapshot") is not None
    ]
    return max(snaps) if snaps else None


def materialize_delta(
    spark: SparkSession, view, dest: str, *, to_snapshot: int | None = None
) -> dict:
    """Snapshot-delta materialization: read ONLY the layout files
    appended since the store's last consumed snapshot (the incremental
    append scan) and merge their latest rows into the serving buckets
    via the push path. Where ``materialize_incremental`` resumes by
    TIME (rescanning the resumed window), this resumes by SNAPSHOT —
    the scan is proportional to the delta however wide its event-time
    spread, the daily-delta shape that never rescans 100 TB. Correct
    because the store already holds latest-per-key as of the previous
    snapshot and the source is append-only between snapshots (enforced
    by ``added_files``): latest(store ∪ delta) = latest(all).

    Requires a layout-backed view without windowed aggregations
    (those need history beneath each anchor — use the time-based path)
    and a prior full materialization (the first lineage record pins
    the baseline snapshot). No-ops when caught up. Records its own
    lineage (`delta-{snapshot}`), so runs chain and crash-retries
    resume."""
    root = view.layout_root
    if root is None:
        raise ValueError("materialize_delta needs a layout-backed view")
    if getattr(view, "aggregations", None):
        raise ValueError(
            "views with windowed aggregations need event-time history; "
            "use materialize_incremental"
        )
    last = last_input_snapshot(dest)
    if last is None:
        raise ValueError(
            f"no lineage at {dest}: run a full MaterializeJob first "
            "(it pins the baseline snapshot)"
        )
    # the baseline must be latest-per-key COMPLETE as of `last`: a
    # time-bounded run also records input_snapshot=HEAD but leaves
    # out-of-range rows unmaterialized — resuming by snapshot from it
    # would make those rows silently unservable forever (r04 review)
    # only RUN-LEVEL markers count ("buckets" identifies a legacy
    # per-batch record, whose complete flag could survive a crashed
    # multi-batch run — r04 review batch 4)
    if not any(
        r.get("complete") and "buckets" not in r
        for r in layout.list_lineage(dest)
        if r.get("input_snapshot") == last
    ):
        raise ValueError(
            f"store at {dest} is not verifiably complete as of snapshot "
            f"{last}: its lineage there is time-bounded (or predates "
            "completeness tracking) — run a MaterializeJob whose range "
            "covers the table's full event-time span first"
        )
    # a ref-pinned view delta-materializes only up to its pin — the same
    # reproducible-release contract every read through FeatureView.load
    # honors; an explicit to_snapshot past the pin is a caller error, not
    # a silent unpin (ADVICE r04)
    ref = getattr(view, "ref", None)
    read = view.layout_snapshot()["snapshot_id"]
    pin = read if ref else None
    head = to_snapshot if to_snapshot is not None else read
    if pin is not None and head > pin:
        raise ValueError(
            f"view is pinned to ref {ref!r} (snapshot {pin}) but "
            f"to_snapshot={head} exceeds it — unpin the view or lower "
            "to_snapshot"
        )
    if head <= last:
        return {"rows_pushed": 0, "buckets_touched": [],
                "from_snapshot": last, "to_snapshot": head,
                "caught_up": True}
    delta = layout.read_table_incremental(spark, root, last, head)
    for src, dst in (view.field_mapping or {}).items():
        delta = delta.withColumnRenamed(src, dst)
    cols = list(
        dict.fromkeys(
            view.join_keys
            + [view.timestamp_field]
            + ([view.created_timestamp_column]
               if view.created_timestamp_column else [])
            + [s.name for s in view.features]
        )
    )
    delta = delta.select(*cols)
    stats = push_to_online(
        spark, dest, delta,
        ts_col=view.timestamp_field,
        created_col=view.created_timestamp_column,
    )
    layout.write_lineage(
        dest,
        f"delta-{head:06d}",
        {
            "input_snapshot": head,
            "from_snapshot": last,
            "rows_out": stats["rows_pushed"],
            "end": None,
            # complete by induction: baseline verified above, and the
            # delta merged every row appended since it
            "complete": True,
        },
    )
    return {**stats, "from_snapshot": last, "to_snapshot": head,
            "caught_up": False}


def push_to_online(
    spark: SparkSession,
    dest: str,
    df: DataFrame,
    *,
    ts_col: str,
    created_col: str | None = None,
) -> dict:
    """Upstream PushSource write path: merge fresh feature rows straight
    into the serving store (stream ingestion's terminal step), no batch
    materialization pass.

    Scale shape: latest-per-key on the pushed batch (small), then a
    read-modify-write of ONLY the buckets containing pushed keys — the
    touched-bucket set is bounded by the store modulus, and unaffected
    buckets are never opened; the write is ``_merge_into_store``'s.
    Keys are hashed with the store's key dtypes, whatever the pushed
    frame's. Returns {rows_pushed, buckets_touched}."""
    head = layout.current_snapshot(dest)
    if head is None:
        raise FileNotFoundError(f"no serving store at {dest}")
    key_cols = head["key_col"]

    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if key_cols == [MaterializeJob.DUMMY_KEY] and (
        MaterializeJob.DUMMY_KEY not in df.columns
    ):
        # entity-less store: inject the constant key like materialize
        df = df.withColumn(MaterializeJob.DUMMY_KEY, F.lit(1))
    # observe the deduped PUSHED batch, not the merged buckets: rows_pushed
    # is the batch size (ADVICE r03). It rides the store write.
    obs = Observation()
    touched = _merge_into_store(
        spark, dest, df, None,
        key_cols=key_cols, ts_col=ts_col, created_col=created_col,
        n_buckets=head["n_buckets"],
        on_latest=lambda latest: latest.observe(
            obs, F.count(F.lit(1)).alias("rows")
        ),
    )
    if not touched:  # empty push batch: nothing merged or committed
        return {"rows_pushed": 0, "buckets_touched": []}
    return {"rows_pushed": obs.get["rows"], "buckets_touched": touched}


def _merge_into_store(
    spark: SparkSession,
    dest: str,
    fresh: DataFrame,
    buckets: list[int] | None,
    *,
    key_cols: list[str],
    ts_col: str,
    created_col: str | None,
    n_buckets: int,
    on_latest: Callable[[DataFrame], DataFrame] | None = None,
    on_merged: Callable[[DataFrame], DataFrame] | None = None,
) -> list[int]:
    """The serving store's one write path (module docstring): merge the
    latest row per key of ``fresh`` into ``buckets`` (None: the buckets
    of ``fresh``'s keys), new wins, through ``layout._rewrite_buckets``;
    returns the touched buckets. The writer lock is on ``dest``, not on
    ``metadata/``, whose lock the snapshot commit takes itself
    (``FileIO.lock`` is not re-entrant): no caller may hold it. Rows
    whose columns differ from the served ones raise ``ValueError``
    before anything is written. ``on_latest`` wraps ``fresh``'s latest
    rows and ``on_merged`` the merged ones (a caller's observation rides
    the write)."""

    def new_wins(fresh: DataFrame, served: DataFrame | None) -> DataFrame:
        latest = latest_per_key(
            fresh, key=key_cols, order=ts_col, created_col=created_col
        )
        if on_latest is not None:
            latest = on_latest(latest)
        if served is None:
            return latest
        # incoming rows outrank served rows at equal (key, ts, created):
        # re-materialization is a CORRECTION (late-event aggregate fixes,
        # transform changes) and must overwrite
        return latest_per_key(
            latest.withColumn("__fresh", F.lit(1)).unionByName(
                served.withColumn("__fresh", F.lit(0))
            ),
            key=key_cols, order=ts_col, created_col=created_col,
            precedence_col="__fresh",
        ).drop("__fresh")

    with fileio.get_io().lock(dest):
        parent = layout.current_snapshot(dest)
        _check_store(dest, parent, n_buckets, key_cols, ts_col)
        if parent is not None:
            served = set(
                T.StructType.fromJson(json.loads(parent["schema"])).names
            )
            cols = set(fresh.columns)
            if served != cols:
                raise ValueError(
                    f"rows for the serving store at {dest} must carry its "
                    f"columns: missing {sorted(served - cols)}, unknown "
                    f"{sorted(cols - served)}"
                )
        # when the merged rows are empty, AQE prunes the empty stage below
        # the in-task sort and would drop observations inside it; one
        # between the shuffle and the sort keeps them
        return layout._rewrite_buckets(
            spark, dest, parent, fresh, new_wins,
            {"operation": "merge", "key_col": key_cols, "ts_col": ts_col,
             "n_buckets": n_buckets},
            buckets=buckets, on_shuffled=on_merged,
        )[1]


def infer_store_ts_col(dest: str) -> str | None:
    """Event-time column of the serving store at ``dest``, as its current
    snapshot records it; None when ``dest`` holds no store. One shared
    reader for the Python API and the HTTP server (r05 review batch 2 —
    the server's copy ran over the post-ODFV schema, so derived timestamp
    columns changed the answer)."""
    head = layout.current_snapshot(dest)
    return head["ts_col"] if head else None


def read_online(
    spark: SparkSession,
    dest: str,
    keys: list | None = None,
    *,
    key_col: str = "url",
    key_cols: list[str] | None = None,
    ttl=None,
    now=None,
):
    """Read the serving store (one row per entity key) at its current
    snapshot. With ``keys``, prunes to just those keys' buckets before
    scanning — a KV point-lookup's batch equivalent. The store's recorded
    key columns decide; ``key_col`` only names the key for callers.

    Composite-key stores: pass ``key_cols=[k1, k2, …]`` and ``keys`` as a
    list of tuples; pruning hashes the tuples with the writer's
    transform, and the residual filter is a broadcast semi-join against
    the (tiny) probe set.

    ``ttl`` (a timedelta) + ``now``: online-store TTL expiry (upstream
    online stores evict rows older than the view's ttl) — rows whose
    event time predates ``now - ttl`` are filtered out, the read-side
    equivalent of eviction. ``now`` is EXPLICIT (no wall-clock read
    here) so lookups are reproducible; the event-time column is the one
    the store's snapshot records."""
    import datetime as _dt

    head = layout.current_snapshot(dest)
    if head is None:
        raise FileNotFoundError(f"no serving store at {dest}")
    key_cols = key_cols or head["key_col"]
    ts_col = head["ts_col"]
    if ttl is not None:
        if now is None:
            raise ValueError("ttl expiry needs an explicit `now`")
        if ts_col is None:
            raise ValueError(
                f"the serving store at {dest} records no event-time "
                "column, so ttl expiry cannot apply"
            )
        if isinstance(now, str):
            now = _dt.datetime.fromisoformat(now)

    snap = head["snapshot_id"]
    if keys is None:
        out = layout.read_table(spark, dest, snapshot=snap)
    else:
        # hash probe keys with the STORE's key dtypes (int vs bigint vs
        # string all hash differently under xxhash64 — r02 review)
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        key_types = [schema[c].dataType.simpleString() for c in key_cols]
        wanted = layout.buckets_of_keys(
            spark, keys, head["n_buckets"],
            key_type=key_types[0] if len(key_cols) == 1 else key_types,
        )
        out = layout.read_table(spark, dest, snapshot=snap, buckets=wanted)
        if len(key_cols) == 1:
            out = out.filter(F.col(key_cols[0]).isin(keys))
        else:
            probe = spark.createDataFrame(
                [tuple(k) for k in keys],
                ", ".join(f"{c} {t}" for c, t in zip(key_cols, key_types)),
            ).distinct()
            out = out.join(F.broadcast(probe), on=key_cols, how="left_semi")
    if ttl is not None:
        out = out.filter(F.col(ts_col).cast("timestamp") > F.lit(now - ttl))
    return out
