"""Iceberg-style table layout over partitioned Parquet (SURVEY.md §1.4).

North rule requires "sort-merge over warc_ts-sorted, url-hash-partitioned
Iceberg partitions" with per-partition lineage; no Iceberg runtime is
available in this sandbox (no jars, no network — SURVEY.md §0.3), so this
module implements the needed subset of the public Iceberg table spec from
scratch:

- **Hidden partitioning** — layout ``data/dt=<days(ts)>/bucket=<pmod(
  xxhash64(key), B)>/<op>-<token>-NNNN.parquet``; writers compute both
  transforms (Iceberg's ``days()`` + ``bucket()``) as staging columns
  ``__dt``/``__bucket``, so user columns named ``dt`` or ``bucket`` are
  data like any other; readers get file lists and never see partition
  columns.
- **Sorted files** — every file is (key, ts)-sorted, which keeps its
  Parquet min/max zone maps on key and ts tight.
- **Snapshots & manifests** — ``metadata/snap-<n>.json`` lists files with
  per-file stats ``{path, dt, bucket, rows, min/max ts, min/max key}``;
  ``metadata/HEAD`` is the last-committed pointer, flipped by
  compare-and-swap so concurrent writers commit one at a time (Iceberg's
  optimistic snapshot commit). Append snapshots chain via ``parent``; an
  overwrite is a snapshot without one, and no write deletes a file.
- **Pruned reads** — the reader intersects query predicates (time range,
  bucket set) against the manifest before handing an explicit file list
  to ``spark.read.parquet(*files)``; Catalyst then adds row-group
  skipping on top.

A serving store (``materialize``) is a table of this layout without the
``dt=`` level: ``data/bucket=<b>/`` files, one row per key, committed by
``_commit_snapshot`` and retired by ``expire_snapshots`` like any other.
Its snapshots record the key columns as a list in ``key_col``. A
row-level change of either kind of table (``upsert_table``, the store's
merge) is one copy-on-write step, ``_rewrite_buckets``.

Scale note: file stats are read from Parquet *footers only* (metadata
pages, ~KB per file), in a driver loop.
"""

from __future__ import annotations

import datetime
import json
import os
import time
from typing import Callable

from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark.sources.fileio import CommitConflict, get_io

DATA_DIR = "data"
META_DIR = "metadata"
LINEAGE_DIR = "lineage"

DEFAULT_BUCKETS = 16


def bucket_expr(key_col: str | Column | list, n_buckets: int) -> Column:
    """Iceberg ``bucket(B, key)`` transform — the one spelling of the
    bucket hash: the layout, the serving store and the retrieval
    planner's bucket pruning all call it, so the planner's probe buckets
    match the files'. A key is a column name or a Column; a
    list = composite key, hashed as ``xxhash64(k1, k2, …)``."""
    cols = list(key_col) if isinstance(key_col, (list, tuple)) else [key_col]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets))


_DT_PATTERNS = {"day": "yyyy-MM-dd", "week": "yyyy-ww", "month": "yyyy-MM"}


def dt_expr(ts_col: str, granularity: str = "day") -> Column:
    """Iceberg ``days()/months()`` time transform as sortable strings.
    Coarser granularities avoid the small-files problem on low-volume
    tables (file pruning is driven by per-file min/max ts stats, not the
    directory value, so readers are granularity-agnostic)."""
    return F.date_format(
        F.col(ts_col).cast("timestamp"), _DT_PATTERNS[granularity]
    )


# ------------------------------------------------------------------ write


def write_table(
    df: DataFrame,
    root: str,
    *,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
    dt_granularity: str = "day",
    allow_spec_evolution: bool = False,
    branch: str | None = None,
    properties: dict | None = None,
) -> int:
    """Write ``df`` into the layout at ``root``; returns the committed
    snapshot id.

    ``properties`` (Iceberg's snapshot ``summary`` map): arbitrary
    string-keyed metadata stored INSIDE the committed snapshot — atomic
    with the commit itself. Streaming ingests use it to record their
    micro-batch marker so a crash between the table commit and any
    side-channel ledger write cannot lose the exactly-once evidence
    (``snapshot_with_summary`` finds it on replay).

    ``mode="append"`` adds files and chains a new snapshot onto the
    current one. ``"overwrite"`` commits a snapshot with no parent that
    lists only ``df``'s files, as Iceberg does: the files it replaces
    stay on disk until ``expire_snapshots``, so ``read_table(snapshot=)``
    still reads any earlier snapshot and a read planned before the
    overwrite still finds its files. Snapshot ids keep rising across it.
    The physical plan is one shuffle (repartition on the partition
    transforms) + an in-task sort, yielding exactly one (key, ts)-sorted
    file per (dt, bucket) slice of the incoming data.

    ``branch`` (append-only): commit onto a named BRANCH instead of
    HEAD — Iceberg's write-audit-publish staging. A new branch forks
    from the current HEAD; readers of the main table never see branch
    commits until ``fast_forward`` publishes them. Branch commits use
    the same CAS primitive on the branch's own ref file, so concurrent
    writers to one branch retry exactly like HEAD appends.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if branch is not None:
        if mode != "append":
            raise ValueError("branch writes are append-only (WAP staging)")
        _check_ref_name(branch)

    def read_ref() -> tuple[dict | None, dict | None]:
        """(the ref's current snapshot, the snapshot this write chains onto)"""
        if branch is not None:
            bh = branch_head(root, branch)
            return bh, bh or current_snapshot(root)
        head = current_snapshot(root)
        return head, head if mode == "append" else None

    head, prev = read_ref()
    _validate_against_parent(prev, n_buckets, dt_granularity, allow_spec_evolution)
    stats = _collect_stats_local(root, _stage_and_publish(
        *_partitioned(df, key_col, ts_col, n_buckets, dt_granularity),
        root, mode,
    ), key_col, ts_col)

    # Optimistic-concurrency commit loop: build parent-dependent
    # metadata, CAS the ref from the snapshot it was read at, and on
    # conflict re-read the ref, re-validate, and retry. This writer's
    # data files and their stats are conflict-free by construction
    # (unique names, own stats); only the metadata merge re-runs.
    for _ in range(5):
        spec_history = list(prev.get("spec_history", [])) if prev else []
        if prev and prev.get("dt_granularity", "day") != dt_granularity:
            spec_history.append(prev.get("dt_granularity", "day"))

        # schema evolution (append): union of previous and incoming
        # fields — Iceberg's add-column; readers null-fill the column in
        # files written before it existed (spark.read.schema()
        # semantics). Type changes on an existing column are rejected
        # (no implicit promotion).
        schema_json = df.schema.json()
        if prev:
            prev_schema = T.StructType.fromJson(json.loads(prev["schema"]))
            merged = list(prev_schema.fields)
            have = {f.name: f for f in merged}
            for f in df.schema.fields:
                if f.name not in have:
                    merged.append(f)
                elif have[f.name].dataType != f.dataType:
                    raise ValueError(
                        f"append changes type of {f.name!r}: "
                        f"{have[f.name].dataType.simpleString()} -> "
                        f"{f.dataType.simpleString()}"
                    )
            schema_json = T.StructType(merged).json()

        snap_id = next_snapshot_id(root, prev)
        snapshot = {
            "snapshot_id": snap_id,
            "parent": prev["snapshot_id"] if prev else None,
            "committed_at": time.time(),
            "operation": mode,
            "key_col": key_col,
            "ts_col": ts_col,
            "n_buckets": n_buckets,
            "dt_granularity": dt_granularity,
            "spec_history": spec_history,
            "schema": schema_json,
            "summary": dict(properties) if properties else {},
            "files": (prev["files"] if prev else []) + stats,
        }
        try:
            _commit_snapshot(
                root, snapshot,
                ref_name="HEAD" if branch is None else _branch_ref(branch),
                ref_expected=(
                    f"snap-{head['snapshot_id']:06d}.json" if head else None
                ),
            )
            return snap_id
        except CommitConflict:
            head, prev = read_ref()
            _validate_against_parent(
                prev, n_buckets, dt_granularity, allow_spec_evolution
            )
    raise CommitConflict(
        f"{mode} to {root} lost 5 consecutive commit races; giving up"
    )


def _partitioned(
    df: DataFrame, key_col: str | list[str], ts_col: str, n_buckets: int,
    dt_granularity: str | None, on_shuffled: Callable | None = None,
) -> tuple[DataFrame, list[str]]:
    """``df`` with the hidden staging columns ``__dt`` (none without
    ``dt_granularity``: a serving store) and ``__bucket``, shuffled on
    them, wrapped by ``on_shuffled`` and sorted within tasks: one
    (key, ts)-sorted file per (dt, bucket). Returns it and its levels."""
    keys = key_col if isinstance(key_col, list) else [key_col]
    levels = ["__dt", "__bucket"] if dt_granularity else ["__bucket"]
    if dt_granularity:
        df = df.withColumn("__dt", dt_expr(ts_col, dt_granularity))
    df = df.withColumn("__bucket", bucket_expr(keys, n_buckets))
    df = df.repartition(*levels)
    if on_shuffled is not None:
        df = on_shuffled(df)
    # partition cols lead the sort so each task emits one run per dir
    return df.sortWithinPartitions(*levels, *keys, ts_col), levels


def _validate_against_parent(
    prev: dict | None,
    n_buckets: int,
    dt_granularity: str,
    allow_spec_evolution: bool,
) -> None:
    """Append-compatibility checks against the (possibly re-read) parent
    snapshot — run before the write AND after every lost commit race."""
    if prev and prev.get("n_buckets") != n_buckets:
        raise ValueError(
            f"append changes n_buckets ({prev.get('n_buckets')} -> "
            f"{n_buckets}); the bucket modulus is fixed at table creation "
            "(old files would hash under a different transform)"
        )
    if prev and prev.get("dt_granularity", "day") != dt_granularity:
        # Iceberg partition-spec evolution: readers prune by per-file ts
        # STATS, never by directory names, so old files keep their old
        # dt dirs and new files use the new transform — no rewrite.
        if not allow_spec_evolution:
            raise ValueError(
                "append changes dt_granularity "
                f"({prev.get('dt_granularity', 'day')!r} -> "
                f"{dt_granularity!r}); pass allow_spec_evolution=True "
                "for Iceberg-style partition-spec evolution"
            )


def _partition_of(rel_path: str) -> tuple[str, int]:
    dt, bucket = None, None
    for part in rel_path.split(os.sep):
        if part.startswith("dt="):
            dt = part[3:]
        elif part.startswith("bucket="):
            bucket = int(part[7:])
    return dt, bucket


_STAT_STR_CAP = 64  # drop string stats longer than this (manifest bloat)


def _file_stats(abs_path: str, rel_path: str, key_col: str, ts_col: str) -> dict:
    """Footer-only stats for one file (no data pages touched). Besides
    the key/ts bounds the planner always uses, records per-column
    min/max for EVERY leaf column with parquet statistics (Iceberg's
    column-stats manifest) so reads can prune on arbitrary predicates
    (``plan_files(col_ranges=...)``). Binary columns and long strings
    are skipped — they bloat the manifest without pruning value."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    schema = md.schema.to_arrow_schema()
    names = [schema.field(i).name for i in range(len(schema.names))]
    mins: dict[str, list] = {}
    maxs: dict[str, list] = {}
    # a column's stats are usable only if EVERY row group contributed:
    # skipping one row group (no stats, or a capped long string) while
    # keeping others would record bounds that exclude real values and
    # make col_ranges pruning drop files that contain matching rows
    dropped: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = names[ci] if ci < len(names) else col.path_in_schema
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    dropped.add(name)
                    continue
                lo, hi = st.min, st.max
            except Exception:
                # pyarrow raises ArrowNotImplementedError casting stats of
                # some logical types (e.g. Spark's FIXED_LEN_BYTE_ARRAY
                # decimals) — treat as no stats
                dropped.add(name)
                continue
            # key/ts always keep full stats (planner + hot-key detection
            # depend on exact values); other columns respect the cap
            if name not in (key_col, ts_col) and (
                isinstance(lo, bytes)
                or (
                    isinstance(lo, str) and (
                        len(lo) > _STAT_STR_CAP or len(str(hi)) > _STAT_STR_CAP
                    )
                )
            ):
                dropped.add(name)
                continue
            mins.setdefault(name, []).append(lo)
            maxs.setdefault(name, []).append(hi)
    dt, bucket = _partition_of(rel_path)

    def _iso(v):
        return v.isoformat() if hasattr(v, "isoformat") else v

    def _json_safe(v):
        # snapshots are json.dump'd: parquet stats of decimal columns come
        # back as decimal.Decimal and binary columns as bytes — neither is
        # serializable, so a stat pair is kept only when both bounds are
        # plain json scalars (ADVICE r02). The column just loses manifest
        # pruning; the data is untouched.
        return v is None or isinstance(v, (bool, int, float, str))

    cols = {}
    for name in mins:
        if name in dropped:
            continue
        lo, hi = _iso(min(mins[name])), _iso(max(maxs[name]))
        if _json_safe(lo) and _json_safe(hi):
            cols[name] = [lo, hi]
    if ts_col not in cols and ts_col in names:
        # INT96 timestamps (Spark's default output type) have no footer
        # min/max: read the column, so pruning works under any session
        mm = pc.min_max(pq.read_table(abs_path, columns=[ts_col])[ts_col])
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is not None:
            cols[ts_col] = [_iso(lo), _iso(hi)]
    return {
        "path": rel_path,
        "dt": dt,
        "bucket": bucket,
        "rows": md.num_rows,
        "min_ts": cols.get(ts_col, [None, None])[0],
        "max_ts": cols.get(ts_col, [None, None])[1],
        "min_key": cols.get(key_col, [None, None])[0],
        "max_key": cols.get(key_col, [None, None])[1],
        "cols": cols,
        "bytes": os.path.getsize(abs_path),
    }


def _collect_stats_local(
    root: str, rel_paths: list[str], key_col: str, ts_col: str
) -> list[dict]:
    return [
        _file_stats(os.path.join(root, p), p, key_col, ts_col)
        for p in rel_paths
    ]


def _stage_and_publish(
    df: DataFrame, partition_cols: list[str], root: str, op: str
) -> list[str]:
    """The data-file half of every Spark-written commit: write ``df``
    partitioned by ``partition_cols`` (``_partitioned``'s levels) under
    ``_staging/``, move each file to a unique
    ``data/<partition dirs>/<op>-<token>-NNNN.parquet`` name (each
    ``__<level>=`` staging directory lands as ``<level>=``), remove the
    stage, and return the new files' paths relative to ``root``; the
    caller reads their footer stats. The files are inert
    until the caller commits a snapshot listing them: a crash before
    that leaves orphans for ``remove_orphan_files``, never rows."""
    import uuid

    io = get_io()
    token = uuid.uuid4().hex[:12]
    stage = os.path.join(root, "_staging", f"{op}-{token}")
    rel_paths: list[str] = []
    try:
        df.write.partitionBy(*partition_cols).parquet(stage)
        for dirpath, dirs, files in os.walk(stage):
            dirs[:] = sorted(d for d in dirs if "=" in d)  # partition levels
            rel_dir = os.path.join(*(
                p[2:] if p.startswith("__") else p
                for p in os.path.relpath(dirpath, stage).split(os.sep)
            ))
            for f in sorted(files):
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                rel = os.path.normpath(os.path.join(
                    DATA_DIR, rel_dir, f"{op}-{token}-{len(rel_paths):04d}.parquet"
                ))
                io.move(os.path.join(dirpath, f), os.path.join(root, rel))
                rel_paths.append(rel)
    finally:
        io.rmtree(stage)
    return rel_paths


def next_snapshot_id(root: str, prev: dict | None) -> int:
    """1 + the highest snapshot id ON DISK (not ``prev + 1``): after a
    ``rollback`` HEAD points at an older snapshot, and a prev+1 commit
    would silently overwrite the rolled-back-from manifest (r03
    self-review). Unique ids keep every snapshot roll-forward-able until
    ``expire_snapshots``."""
    meta = os.path.join(root, META_DIR)
    highest = prev["snapshot_id"] if prev else 0
    if os.path.isdir(meta):
        for name in os.listdir(meta):
            if name.startswith("snap-") and name.endswith(".json"):
                highest = max(highest, int(name[5:-5]))
    return highest + 1


_REF_FROM_PARENT = object()  # sentinel: derive HEAD expectation from parent


def _commit_snapshot(
    root: str,
    snapshot: dict,
    *,
    ref_name: str = "HEAD",
    ref_expected=_REF_FROM_PARENT,
) -> None:
    """Optimistic multi-writer commit (VERDICT r03 next #3), Iceberg's
    two-step reduced to the FileIO CAS primitive:

    1. CLAIM the snapshot id: create ``snap-NNNNNN.json`` only if absent
       (If-None-Match). A concurrent writer that computed the same id
       loses here — before anything is visible — instead of silently
       overwriting the winner's manifest.
    2. FLIP HEAD conditionally: expected content is the PARENT's snap
       name (None for a new table). A mismatch means someone committed
       since this writer read its parent; the claimed snap file is
       removed (it was never referenced) and CommitConflict tells the
       caller to revalidate.

    Both failure modes raise CommitConflict; write_table retries with
    revalidation, rewrite ops (compact/upsert/zorder) surface it to the
    caller for a re-run against the new state.

    ``ref_name``/``ref_expected``: the ref file to flip and its expected
    prior content (None = the ref must not exist yet). write_table passes
    both: a branch ref for write-audit-publish staging, and for an
    overwrite, which has no parent, the HEAD it read. The default
    sentinel keeps HEAD's parent-derived expectation."""
    io = get_io()
    meta = os.path.join(root, META_DIR)
    snap_name = f"snap-{snapshot['snapshot_id']:06d}.json"
    if not io.write_conditional(
        os.path.join(meta, snap_name), json.dumps(snapshot), None
    ):
        raise CommitConflict(
            f"snapshot id {snapshot['snapshot_id']} at {root} already "
            "claimed by a concurrent writer"
        )
    if ref_expected is _REF_FROM_PARENT:
        parent = snapshot.get("parent")
        expected = f"snap-{parent:06d}.json" if parent is not None else None
    else:
        expected = ref_expected
    if not io.write_conditional(
        os.path.join(meta, ref_name), snap_name, expected
    ):
        io.remove(os.path.join(meta, snap_name))  # never became visible
        raise CommitConflict(
            f"concurrent commit at {root}: ref {ref_name!r} moved past "
            f"{expected!r}; revalidate against the current snapshot"
        )


def _zorder_indices(tbl, cols: list[str]):
    """Sort permutation by Morton (z-order) code over ``cols``: each
    column is rank-normalized (pandas rank — robust to nulls and mixed
    dtypes) and quantized to 16 bits, then the bit patterns interleave.
    Rows close in EVERY dimension land close in the file, so per-file
    min/max stay tight on all zorder columns at once (the point of
    Iceberg's rewrite_data_files zorder)."""
    import numpy as np
    import pandas as pd

    n = len(tbl)
    k = len(cols)
    # interleaved code must fit 64 bits: cap per-column precision at
    # floor(64/k) (uint64 shifts >= 64 silently produce 0 in numpy,
    # which would drop the HIGH-order bits and destroy clustering —
    # r02 review)
    bits = min(16, 64 // k)
    top = (1 << bits) - 1
    codes = []
    for c in cols:
        s = pd.Series(tbl.column(c).to_pandas())
        rank = s.rank(method="first", na_option="top").to_numpy()
        q = ((rank - 1) * top / max(n - 1, 1)).astype(np.uint64)
        codes.append(q)
    z = np.zeros(n, dtype=np.uint64)
    for bit in range(bits):
        for i, q in enumerate(codes):
            z |= ((q >> np.uint64(bit)) & np.uint64(1)) << np.uint64(bit * k + i)
    return np.argsort(z, kind="mergesort")


def _compact_cell(
    root: str,
    dt: str,
    bucket: int,
    rel_paths: list[str],
    key_col: str,
    ts_col: str,
    new_snap_id: int,
    zorder: list[str] | None = None,
    target_rows: int | None = None,
) -> list[dict]:
    """Rewrite one (dt, bucket) cell. Default: one (key, ts)-sorted file.
    With ``zorder``, rows are clustered by Morton code over the given
    columns and split into ``target_rows`` chunks so per-file column
    stats stay tight in every zorder dimension. Runs on an executor
    (shared FS assumed, as on any real cluster). Files written before an
    add-column schema evolution are read with permissive promotion
    (missing columns null-filled) — ADVICE r01."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tabs = [pq.read_table(os.path.join(root, p)) for p in rel_paths]
    tbl = pa.concat_tables(tabs, promote_options="permissive")
    if zorder:
        tbl = tbl.take(pa.array(_zorder_indices(tbl, zorder)))
    else:
        order = pa.compute.sort_indices(
            tbl, sort_keys=[(key_col, "ascending"), (ts_col, "ascending")]
        )
        tbl = tbl.take(order)
    chunk = target_rows if (zorder and target_rows) else len(tbl) or 1
    stats = []
    for i, start in enumerate(range(0, max(len(tbl), 1), chunk)):
        part = tbl.slice(start, chunk)
        rel = os.path.join(
            DATA_DIR, f"dt={dt}", f"bucket={bucket}",
            f"compact-{new_snap_id:06d}-{i:04d}.parquet",
        )
        out_path = os.path.join(root, rel)
        # Spark may have written TZ timestamps as INT96, which pyarrow
        # reads as ns; writing ns back produces TIMESTAMP(NANOS) parquet
        # that Spark refuses to read. Coerce to micros (Spark's native
        # precision — no data loss) so compacted files stay readable.
        pq.write_table(
            part, out_path, coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        stats.append(_file_stats(out_path, rel, key_col, ts_col))
    return stats


def compact_table(
    spark: SparkSession,
    root: str,
    *,
    min_files: int = 2,
    zorder: list[str] | None = None,
    target_rows: int | None = None,
) -> int:
    """Iceberg-style small-file compaction: rewrite every (dt, bucket)
    cell holding ≥ ``min_files`` files into one (key, ts)-sorted file,
    then commit a new snapshot referencing the rewritten files. Old data
    files stay on disk untouched — prior snapshots (time travel) keep
    reading them; only the new snapshot sees the compacted layout.

    The per-cell concat/sort/rewrite fans out across executors via
    ``mapInPandas`` over the cell list (one task per cell); only
    ~100-byte stat dicts return to the driver, which then commits the
    snapshot. At 100 TB this is O(cells/parallelism) wall-clock instead
    of a driver-sequential loop. Returns the new snapshot id."""
    import pandas as pd

    snap = current_snapshot(root)
    if snap is None:
        raise FileNotFoundError(f"no table at {root}")
    key_col, ts_col = snap["key_col"], snap["ts_col"]
    new_snap_id = next_snapshot_id(root, snap)

    by_cell: dict[tuple, list[dict]] = {}
    for fstat in snap["files"]:
        by_cell.setdefault((fstat["dt"], fstat["bucket"]), []).append(fstat)

    new_files: list[dict] = []
    todo: list[tuple[str, int, list[str]]] = []
    eff_min = 1 if zorder else min_files  # re-clustering rewrites singles too
    for (dt, bucket), files in sorted(by_cell.items()):
        if len(files) < eff_min:
            new_files.extend(files)
        else:
            todo.append((dt, bucket, [f["path"] for f in files]))

    if todo:
        def rewrite(it):
            for pdf in it:
                stats = [
                    json.dumps(
                        _compact_cell(
                            root, r.dt, int(r.bucket), json.loads(r.paths),
                            key_col, ts_col, new_snap_id,
                            zorder=zorder, target_rows=target_rows,
                        )
                    )
                    for r in pdf.itertuples()
                ]
                yield pd.DataFrame({"stat": stats})

        cells = spark.createDataFrame(
            [(dt, b, json.dumps(paths)) for dt, b, paths in todo],
            "dt string, bucket int, paths string",
        )
        n = max(1, min(len(todo), spark.sparkContext.defaultParallelism))
        out = cells.repartition(n).mapInPandas(rewrite, "stat string").collect()
        for r in out:
            new_files.extend(json.loads(r["stat"]))

    new_snap = {
        **snap,
        "snapshot_id": new_snap_id,
        "parent": snap["snapshot_id"],
        "committed_at": time.time(),
        "operation": "zorder" if zorder else "compact",
        "files": sorted(new_files, key=lambda s: s["path"]),
    }
    _commit_snapshot(root, new_snap)
    return new_snap["snapshot_id"]


def rollback(root: str, snapshot_id: int) -> dict:
    """Iceberg ``rollback_to_snapshot``: point HEAD back at an earlier
    snapshot. Pure metadata flip (one atomic HEAD write through the
    FileIO seam); data files are untouched, later snapshots remain on
    disk for roll-FORWARD until ``expire_snapshots`` drops them."""
    meta = os.path.join(root, META_DIR)
    snap_name = f"snap-{snapshot_id:06d}.json"
    if not os.path.exists(os.path.join(meta, snap_name)):
        raise FileNotFoundError(
            f"no snapshot {snapshot_id} at {root} (expired or never existed)"
        )
    prev = current_snapshot(root)
    expected = f"snap-{prev['snapshot_id']:06d}.json" if prev else None
    if not get_io().write_conditional(
        os.path.join(meta, "HEAD"), snap_name, expected
    ):
        raise CommitConflict(
            f"concurrent commit at {root} during rollback; re-read "
            "history and retry"
        )
    return {
        "rolled_back_from": prev["snapshot_id"] if prev else None,
        "current": snapshot_id,
    }


def remove_orphan_files(
    root: str, *, dry_run: bool = False, min_age_s: float = 3 * 86400
) -> dict:
    """Iceberg ``remove_orphan_files``: delete data files no snapshot
    references — crash leftovers from interrupted writes (their unique
    names keep them inert but they still occupy storage). Driver-side
    listing. Never touches ``_staging`` mid-write dirs.

    ``min_age_s`` (Iceberg's ``older_than``, default 3 days): appends
    are MULTI-writer, so an unreferenced file may belong to a concurrent
    appender between its file move and its commit — sweeping it would
    corrupt that writer's snapshot (r04 review batch 2). Only files
    older than the threshold are treated as garbage; pass ``0`` when the
    caller can prove no writer is in flight (tests, stop-the-world
    maintenance)."""
    import time as _time

    meta = os.path.join(root, META_DIR)
    referenced: set[str] = set()
    n_snaps = 0
    for name in os.listdir(meta):
        if name.startswith("snap-") and name.endswith(".json"):
            n_snaps += 1
            referenced.update(
                f["path"] for f in load_snapshot(root, name)["files"]
            )
    if n_snaps == 0:
        # data without any snapshot manifest (a corrupted table, or no
        # table) — "everything is an orphan" would mass-delete it
        raise RuntimeError(
            f"{root} has no snapshot manifests; refusing to sweep "
            "(orphan removal only applies to snapshot tables)"
        )
    cutoff = _time.time() - min_age_s

    def _old_enough(rel: str) -> bool:
        try:
            return os.path.getmtime(os.path.join(root, rel)) <= cutoff
        except OSError:
            return False  # vanished since listing (concurrent expire /
            # parallel sweep) — nothing to remove

    data_files = []
    for dirpath, dirs, files in os.walk(os.path.join(root, DATA_DIR)):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        data_files += [
            os.path.relpath(os.path.join(dirpath, f), root)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    orphans = [
        p for p in sorted(data_files)
        if p not in referenced and _old_enough(p)
    ]
    freed = 0
    io = get_io()
    for rel in orphans:
        p = os.path.join(root, rel)
        freed += os.path.getsize(p)
        if not dry_run:
            io.remove(p)
    return {
        "orphans_removed": 0 if dry_run else len(orphans),
        "orphans_found": len(orphans),
        "bytes_freed": 0 if dry_run else freed,
        "paths": sorted(orphans),
    }


def _refs_path(root: str) -> str:
    return os.path.join(root, META_DIR, "refs.json")


def _check_ref_name(name: str) -> None:
    import re

    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
        raise ValueError(f"invalid ref name {name!r}")


def _branch_ref(name: str) -> str:
    return f"BRANCH-{name}"


def branch_head(root: str, name: str) -> dict | None:
    """The snapshot a branch ref points at, or None (no such branch)."""
    p = os.path.join(root, META_DIR, _branch_ref(name))
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return load_snapshot(root, f.read().strip())


def list_branches(root: str) -> dict:
    meta = os.path.join(root, META_DIR)
    out = {}
    if os.path.isdir(meta):
        for n in os.listdir(meta):
            if n.startswith("BRANCH-"):
                with open(os.path.join(meta, n)) as f:
                    out[n[len("BRANCH-"):]] = int(f.read().strip()[5:-5])
    return out


def drop_branch(root: str, name: str) -> None:
    p = os.path.join(root, META_DIR, _branch_ref(name))
    if not os.path.exists(p):
        raise KeyError(f"no branch {name!r} at {root}")
    get_io().remove(p)


def fast_forward(root: str, branch: str) -> int:
    """PUBLISH step of write-audit-publish: point HEAD at a branch's
    snapshot. Requires the current HEAD to be an ANCESTOR of the branch
    head (the branch forked from it and only appended) — a diverged
    main (someone committed to HEAD since the fork) refuses, exactly
    like git's fast-forward-only merge; re-stage the branch on the new
    HEAD instead. The flip is one CAS on HEAD (expected = current head),
    so a concurrent main commit loses the race loudly. The branch ref
    survives (drop it when done). Returns the new HEAD snapshot id."""
    bh = branch_head(root, branch)
    if bh is None:
        raise KeyError(f"no branch {branch!r} at {root}")
    head = current_snapshot(root)
    head_id = head["snapshot_id"] if head else None
    # ancestry walk: branch head -> parents, must pass through HEAD
    cur: dict | None = bh
    while cur is not None:
        if cur["snapshot_id"] == head_id:
            break
        cur = (
            load_snapshot(root, cur["parent"])
            if cur.get("parent") is not None
            else None
        )
        if cur is None and head_id is not None:
            raise CommitConflict(
                f"cannot fast-forward {branch!r}: HEAD "
                f"{head_id} is not an ancestor of branch head "
                f"{bh['snapshot_id']} (main diverged; re-stage the branch)"
            )
    expected = f"snap-{head_id:06d}.json" if head_id is not None else None
    if not get_io().write_conditional(
        os.path.join(root, META_DIR, "HEAD"),
        f"snap-{bh['snapshot_id']:06d}.json",
        expected,
    ):
        raise CommitConflict(
            f"fast-forward of {branch!r} lost a race: HEAD moved past "
            f"{head_id}; re-check ancestry and retry"
        )
    return bh["snapshot_id"]


def list_refs(root: str) -> dict:
    """Named refs on the table (Iceberg table refs): currently immutable
    TAGS — {"tags": {name: snapshot_id}}."""
    p = _refs_path(root)
    if not os.path.exists(p):
        return {"tags": {}}
    with open(p) as f:
        return json.load(f)


def create_tag(root: str, name: str, snapshot_id: int | None = None) -> int:
    """Iceberg ``create_tag``: an IMMUTABLE named ref to a snapshot
    (default: current HEAD) — 'the corpus release we trained v3 on'.
    Tagged snapshots survive ``expire_snapshots`` regardless of
    ``keep_last``, so a tag is also a retention pin. Refuses to retarget
    an existing tag (immutability is the contract; ``drop_tag`` first).
    Returns the pinned snapshot id."""
    if snapshot_id is None:
        head = current_snapshot(root)
        if head is None:
            raise FileNotFoundError(f"no table at {root}")
        snapshot_id = head["snapshot_id"]
    else:
        load_snapshot(root, snapshot_id)  # raises if expired/nonexistent
    refs = list_refs(root)
    if name in refs["tags"]:
        raise ValueError(
            f"tag {name!r} already points at snapshot "
            f"{refs['tags'][name]}; tags are immutable (drop_tag first)"
        )
    refs["tags"][name] = snapshot_id
    get_io().write_atomic(_refs_path(root), json.dumps(refs))
    return snapshot_id


def drop_tag(root: str, name: str) -> None:
    refs = list_refs(root)
    if name not in refs["tags"]:
        raise KeyError(f"no tag {name!r} at {root}")
    del refs["tags"][name]
    get_io().write_atomic(_refs_path(root), json.dumps(refs))


def resolve_tag(root: str, name: str) -> int:
    refs = list_refs(root)
    if name not in refs["tags"]:
        raise KeyError(
            f"no tag {name!r} at {root}; have {sorted(refs['tags'])}"
        )
    return refs["tags"][name]


def expire_snapshots(root: str, *, keep_last: int = 1) -> dict:
    """Iceberg ``expire_snapshots``: drop all but the newest
    ``keep_last`` snapshots and delete data files no surviving snapshot
    references (compaction leftovers, overwritten appends). Time travel
    to expired snapshots stops working — that is the point (bounded
    storage). TAGGED snapshots always survive (a tag is a retention
    pin). Returns {snapshots_removed, files_removed, bytes_freed}."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    head = current_snapshot(root)
    if head is None:
        raise FileNotFoundError(f"no table at {root}")
    meta = os.path.join(root, META_DIR)
    snaps = sorted(
        n for n in os.listdir(meta)
        if n.startswith("snap-") and n.endswith(".json")
    )
    survivors = snaps[-keep_last:]
    # HEAD is always a retention pin: unpublished branch commits (WAP
    # staging) can be NEWER than HEAD, so the newest-keep_last window
    # alone may miss it and routine retention would otherwise crash
    # mid-staging (r04 review).
    pins = [head["snapshot_id"]] + list(
        list_refs(root)["tags"].values()
    ) + list(list_branches(root).values())
    for sid in pins:
        pinned = f"snap-{sid:06d}.json"
        if pinned in snaps and pinned not in survivors:
            survivors.append(pinned)
    if f"snap-{head['snapshot_id']:06d}.json" not in survivors:
        raise RuntimeError("HEAD snapshot would be expired")  # never
    expired = [n for n in snaps if n not in survivors]

    keep_files: set[str] = set()
    for name in survivors:
        keep_files.update(f["path"] for f in load_snapshot(root, name)["files"])
    drop_files: set[str] = set()
    for name in expired:
        drop_files.update(
            f["path"] for f in load_snapshot(root, name)["files"]
        )
    drop_files -= keep_files

    io = get_io()
    freed = 0
    removed = 0
    for rel in sorted(drop_files):
        p = os.path.join(root, rel)
        if os.path.exists(p):
            freed += os.path.getsize(p)
            io.remove(p)
            removed += 1
    for name in expired:
        io.remove(os.path.join(meta, name))
    return {
        "snapshots_removed": len(expired),
        "files_removed": removed,
        "bytes_freed": freed,
    }


# ------------------------------------------------------------------- read


def is_table(root: str) -> bool:
    return os.path.exists(os.path.join(root, META_DIR, "HEAD"))


def current_snapshot(root: str) -> dict | None:
    head = os.path.join(root, META_DIR, "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        snap_name = f.read().strip()
    return load_snapshot(root, snap_name)


def load_snapshot(root: str, snapshot: int | str) -> dict:
    if isinstance(snapshot, int):
        snapshot = f"snap-{snapshot:06d}.json"
    with open(os.path.join(root, META_DIR, snapshot)) as f:
        return json.load(f)


def iter_snapshots(root: str):
    """Yield snapshots newest-first along the HEAD parent chain,
    stopping where ``expire_snapshots`` truncated it. Metadata-only
    driver reads (one small json per snapshot)."""
    cur = current_snapshot(root)
    while cur is not None:
        yield cur
        parent = cur.get("parent")
        if parent is None:
            return
        try:
            cur = load_snapshot(root, parent)
        except FileNotFoundError:
            return  # chain truncated by expire_snapshots


def snapshot_with_summary(root: str, key: str, value) -> dict | None:
    """The newest snapshot whose ``summary`` carries ``key == value``
    (Iceberg: filtering snapshots on their summary map). Streaming
    replay checks find their marker in O(1) reads in the common case
    (the marker commit is at or near HEAD); ``expire_snapshots`` bounds
    the worst case."""
    for snap in iter_snapshots(root):
        if snap.get("summary", {}).get(key) == value:
            return snap
    return None


def plan_files(
    root: str,
    *,
    snapshot: int | None = None,
    start=None,
    end=None,
    buckets: set[int] | None = None,
    col_ranges: dict | None = None,
) -> tuple[dict, list[dict]]:
    """Manifest pruning (S2): keep files whose ``[min_ts, max_ts]``
    overlaps ``[start, end)`` and whose bucket is in ``buckets``.
    ``col_ranges`` maps column → (lo, hi) (either side may be None) and
    prunes on the per-column stats — files without stats for a filtered
    column are kept (pruning is always a superset of the true answer;
    the caller still applies the residual filter in Spark).
    Returns (snapshot, surviving file stats)."""
    snap = (
        load_snapshot(root, snapshot)
        if snapshot is not None
        else current_snapshot(root)
    )
    if snap is None:
        raise FileNotFoundError(f"no table at {root}")
    return snap, _prune(snap["files"], start, end, buckets, col_ranges)


def _prune(
    files: list[dict], start, end, buckets: set[int] | None,
    col_ranges: dict | None = None,
) -> list[dict]:
    """The file stats of ``files`` that may hold rows in ``[start, end)``,
    in ``buckets`` and inside ``col_ranges`` — every reader's pruning."""
    start_s = _ts_str(start)
    end_s = _ts_str(end)
    keep = []
    for fstat in files:
        if buckets is not None and fstat["bucket"] not in buckets:
            continue
        if start_s and fstat["max_ts"] and fstat["max_ts"] < start_s:
            continue
        if end_s and fstat["min_ts"] and fstat["min_ts"] >= end_s:
            continue
        if col_ranges and not _col_ranges_overlap(fstat, col_ranges):
            continue
        keep.append(fstat)
    return keep


def _col_ranges_overlap(fstat: dict, col_ranges: dict) -> bool:
    cols = fstat.get("cols") or {}
    for name, (lo, hi) in col_ranges.items():
        if name not in cols:
            continue  # no stats → cannot prune on this column
        fmin, fmax = cols[name]
        if fmin is None or fmax is None:
            continue
        try:
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
        except TypeError:  # mixed types: keep the file
            continue
    return True


def _ts_str(v) -> str | None:
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def naive_utc(v) -> datetime.datetime:
    """``v`` (an ISO string, as footer stats record it, or a datetime) as
    a naive UTC datetime, the engine's timeline: footer stats of
    UTC-flagged parquet timestamps parse tz-aware."""
    d = datetime.datetime.fromisoformat(v) if isinstance(v, str) else v
    if d.tzinfo is not None:
        d = d.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return d


def read_table(
    spark: SparkSession,
    root: str,
    *,
    snapshot: int | None = None,
    tag: str | None = None,
    branch: str | None = None,
    start=None,
    end=None,
    buckets: set[int] | None = None,
    col_ranges: dict | None = None,
) -> DataFrame:
    """Manifest-pruned / time-travel scan (S2/S3). Hidden partitioning:
    the returned DataFrame carries only the table's logical columns — the
    dt/bucket directory values never surface (explicit file lists, no
    basePath, so Spark does not project partition columns).
    ``col_ranges`` prunes on per-column manifest stats; the caller still
    applies the exact predicate (pruning returns a superset).
    ``tag``/``branch`` read the snapshot a named ref pins (Iceberg
    ``VERSION AS OF``) — mutually exclusive with each other and with
    ``snapshot``; an audit step reads ``branch=`` to validate staged
    commits before ``fast_forward`` publishes them."""
    if sum(x is not None for x in (snapshot, tag, branch)) > 1:
        raise ValueError("pass at most one of snapshot / tag / branch")
    if tag is not None:
        snapshot = resolve_tag(root, tag)
    if branch is not None:
        bh = branch_head(root, branch)
        if bh is None:
            raise KeyError(f"no branch {branch!r} at {root}")
        snapshot = bh["snapshot_id"]
    snap, files = plan_files(
        root, snapshot=snapshot, start=start, end=end, buckets=buckets,
        col_ranges=col_ranges,
    )
    return _scan(spark, root, snap, files)


def _scan(
    spark: SparkSession, root: str, snap: dict, files: list[dict]
) -> DataFrame:
    """A DataFrame over ``files`` of ``root`` with ``snap``'s schema —
    every reader's one step from manifest entries to Spark."""
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    if not files:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(root, f["path"]) for f in files]
    return spark.read.schema(schema).parquet(*paths)


def register_table(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    snapshot: int | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Expose a layout table to ``spark.sql`` as a temp view — the
    SQL-first entry point (SELECT over a manifest-planned scan; Catalyst
    pushdown applies on top as usual). Time-travel/tag/branch pins work
    exactly like ``read_table``; re-registering replaces the view (call
    again after commits to see a new HEAD — the view pins the file list
    planned at registration, which is exactly Iceberg's
    snapshot-isolation read semantic)."""
    df = read_table(spark, root, snapshot=snapshot, tag=tag, branch=branch)
    df.createOrReplaceTempView(name)
    return df


def added_files(
    root: str, from_snapshot: int, to_snapshot: int | None = None
) -> tuple[dict, list[dict]]:
    """File stats appended strictly AFTER ``from_snapshot`` up to and
    including ``to_snapshot`` (default HEAD) — Iceberg's incremental
    append scan. Walks the parent chain and, like Iceberg, refuses if
    any snapshot in the range is not an ``append``: overwrite/compact/
    upsert/delete rewrite rows, so "the new files" no longer means "the
    new rows" and the caller must fall back to a full diff or a
    changelog. Raises if the chain is broken (an intermediate snapshot
    was expired) or ``from_snapshot`` is not an ancestor."""
    snap = (
        current_snapshot(root)
        if to_snapshot is None
        else load_snapshot(root, to_snapshot)
    )
    if snap is None:
        raise FileNotFoundError(f"no table at {root}")
    # walk the parent chain first (ancestry before op checks, so a bad
    # from_snapshot reports "not an ancestor", not a misleading op error)
    chain: list[tuple[dict, dict]] = []  # (snapshot, its parent)
    cur = snap
    while cur["snapshot_id"] != from_snapshot:
        parent = cur.get("parent")
        if parent is None:
            raise ValueError(
                f"snapshot {from_snapshot} is not an ancestor of "
                f"{snap['snapshot_id']} at {root}"
            )
        try:
            prev = load_snapshot(root, parent)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot chain broken at {parent} (expired?); "
                f"incremental read from {from_snapshot} is not possible"
            ) from None
        chain.append((cur, prev))
        cur = prev
    added: list[dict] = []
    for cur, prev in chain:
        if cur.get("operation") != "append":
            raise ValueError(
                f"incremental read requires append-only history; snapshot "
                f"{cur['snapshot_id']} is {cur.get('operation')!r}"
            )
        prev_paths = {f["path"] for f in prev["files"]}
        added.extend(f for f in cur["files"] if f["path"] not in prev_paths)
    return snap, added


def read_table_incremental(
    spark: SparkSession,
    root: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    *,
    start=None,
    end=None,
    buckets: set[int] | None = None,
) -> DataFrame:
    """Rows appended after ``from_snapshot`` (exclusive) up to
    ``to_snapshot``/HEAD (inclusive) — the consumer side of
    checkpointed pipelines: a downstream job remembers the snapshot it
    last processed and reads ONLY the new files, never rescanning the
    corpus (at 100 TB the difference between a daily-delta job and a
    daily full scan). Composes with the same time/bucket pruning as
    ``read_table``; append-only ranges are enforced (see
    ``added_files``)."""
    snap, files = added_files(root, from_snapshot, to_snapshot)
    return _scan(spark, root, snap, _prune(files, start, end, buckets))


def buckets_of_frame(df: DataFrame, key_cols: list[str], n_buckets: int) -> list[int]:
    """Sorted ``bucket_expr`` ids of the rows of ``df`` — the one route
    from keys to buckets; one Spark job (xxhash64 runs in the JVM)."""
    rows = df.select(bucket_expr(key_cols, n_buckets).alias("b"))
    return sorted(r["b"] for r in rows.distinct().collect())


def buckets_of_keys(
    spark: SparkSession, keys: list, n_buckets: int,
    key_type: str | list[str] | None = None,
) -> set[int]:
    """Layout buckets of a probe key set (S2 bucket pruning). Keys must
    hash with the TABLE's key dtype (``key_type``, a Spark simpleString;
    default: inferred, int → bigint): xxhash64 of an int, a bigint and
    a string differ, silently missing every row (round-2 review).
    Composite keys: tuples, with ``key_type`` a list of dtypes."""
    if not keys:
        return set()
    composite = isinstance(key_type, list)
    rows = [tuple(k) for k in keys] if composite else [(k,) for k in keys]
    names = [f"k{i}" for i in range(len(rows[0]))]
    if key_type:
        # explicit schema: no inference (all-None key lists would fail
        # type inference — r02 review) and the exact table dtype
        types = key_type if composite else [key_type]
        df = spark.createDataFrame(
            rows, ", ".join(f"{n} {t}" for n, t in zip(names, types))
        )
    else:
        try:
            df = spark.createDataFrame(rows, names)
        except Exception:  # all-None: type-independent (hash of null)
            df = spark.createDataFrame(
                rows, ", ".join(f"{n} string" for n in names)
            )
    return set(buckets_of_frame(df, names, n_buckets))


# ---------------------------------------------------------------- lineage


def lineage_path(root: str, partition_id: str) -> str:
    return os.path.join(root, META_DIR, LINEAGE_DIR, f"partition-{partition_id}.json")


def write_lineage(root: str, partition_id: str, record: dict) -> None:
    """Per-partition lineage manifest (north rule: partition id, input
    snapshot, row counts, max event_ts) — atomic tmp+rename; doubles as
    the materialization checkpoint."""
    path = lineage_path(root, partition_id)
    get_io().write_atomic(
        path, json.dumps({"partition_id": partition_id, **record})
    )


def read_lineage(root: str, partition_id: str) -> dict | None:
    path = lineage_path(root, partition_id)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def list_lineage(root: str) -> list[dict]:
    d = os.path.join(root, META_DIR, LINEAGE_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


# ------------------------------------------------ copy-on-write ------


def _rewrite_buckets(
    spark: SparkSession, root: str, parent: dict | None, incoming: DataFrame,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame], snapshot: dict,
    *, buckets: list[int] | None = None, on_shuffled: Callable | None = None,
) -> tuple[int | None, list[int]]:
    """Iceberg's copy-on-write row-level change, the one step behind
    ``upsert_table`` and the serving store's merge; each passes only its
    ``merge(incoming, served)``, which returns the touched buckets' new
    rows (``served``: their rows at ``parent``, None when no file holds
    any). ``incoming``'s keys take ``parent``'s key dtypes first (int and
    bigint hash apart); the touched buckets are ``buckets``, else the
    incoming keys' (one Spark job; none → no commit; a key value the
    dtypes cannot take → ``ValueError``). One snapshot then
    commits the parent's files minus the touched buckets' plus the new
    ones. ``snapshot`` holds its table fields (``key_col``, ``ts_col``,
    ``n_buckets``, ``operation``, ``dt_granularity`` for a ``dt=`` level;
    ``schema`` defaults to the merged rows'). ``on_shuffled``: see
    ``_partitioned``. Returns (snapshot id, touched buckets)."""
    key_col, ts_col = snapshot["key_col"], snapshot["ts_col"]
    keys = key_col if isinstance(key_col, list) else [key_col]
    n_buckets = snapshot["n_buckets"]
    parent_files = parent["files"] if parent else []
    if parent is not None:
        types = T.StructType.fromJson(json.loads(parent["schema"]))
        incoming = incoming.withColumns(
            {k: F.col(k).cast(types[k].dataType) for k in keys}
        )
    if buckets is None:
        try:
            buckets = buckets_of_frame(incoming, keys, n_buckets)
        except PySparkException as e:
            if e.getCondition() != "CAST_INVALID_INPUT":
                raise
            # a key value the table's key type cannot take is bad input,
            # found before anything is staged
            raise ValueError(
                f"keys {keys} do not fit the key types of {root}: {e}"
            ) from e
        if not buckets:
            return (parent["snapshot_id"] if parent else None), []
    touched = set(buckets)
    touch_files = [f for f in parent_files if f["bucket"] in touched]
    served = None
    if touch_files:
        served = _scan(spark, root, parent, touch_files).withColumn(
            ts_col, F.col(ts_col).cast("timestamp")
        )
    merged = merge(incoming, served)
    # new unique names: the parent's files stay in place for readers
    # that planned it
    stats = _collect_stats_local(root, _stage_and_publish(*_partitioned(
        merged, keys, ts_col, n_buckets, snapshot.get("dt_granularity"),
        on_shuffled,
    ), root, snapshot["operation"]), keys[0], ts_col)
    kept = [f for f in parent_files if f["bucket"] not in touched]
    new_snap = {
        "schema": merged.schema.json(),
        **snapshot,
        "snapshot_id": next_snapshot_id(root, parent),
        "parent": parent["snapshot_id"] if parent else None,
        "committed_at": time.time(),
        "files": sorted(kept + stats, key=lambda f: f["path"]),
    }
    _commit_snapshot(root, new_snap)
    return new_snap["snapshot_id"], sorted(touched)


def upsert_table(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    *,
    delete: bool = False,
) -> int:
    """Copy-on-write row-level MERGE (Iceberg's copy-on-write write mode,
    re-derived): rows in ``updates`` REPLACE existing rows sharing the
    same (key, ts) and append otherwise; with ``delete=True`` the
    (key, ts) pairs in ``updates`` are removed instead.

    Scale shape: only the buckets holding updated keys are rewritten
    (``_rewrite_buckets``); unaffected files carry over into the new
    snapshot untouched. Old files stay on disk for time travel until
    ``expire_snapshots``. Updates with no rows commit nothing. A commit
    that lands between this call's HEAD read and its own makes it raise
    ``CommitConflict``; re-run it against the new table. Returns the new
    snapshot id (HEAD's when nothing is committed).
    """
    snap = current_snapshot(root)
    if snap is None:
        raise FileNotFoundError(f"no table at {root}")
    key_col, ts_col = snap["key_col"], snap["ts_col"]
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    cols = schema.names

    updates = updates.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if not delete:
        missing = [c for c in cols if c not in updates.columns]
        if missing:
            raise ValueError(f"updates missing table columns: {missing}")
    # update rows are written beside table rows: give them the TABLE's
    # types
    updates = updates.select(
        *[
            F.col(c).cast(schema[c].dataType).alias(c) if c in cols else F.col(c)
            for c in updates.columns
        ]
    )
    # SQL MERGE semantics: every matched target row takes the update
    # payload (duplicate (key, ts) target rows keep their multiplicity,
    # all updated); unmatched updates append. Multiple SOURCE rows per
    # (key, ts) are rejected, as MERGE does.
    if not delete and (
        updates.groupBy(key_col, ts_col).count()
        .filter(F.col("count") > 1).limit(1).count()
    ):
        raise ValueError("updates contain duplicate (key, ts) rows")

    def merge(updates: DataFrame, existing: DataFrame | None) -> DataFrame:
        if existing is None:  # the touched buckets hold no rows
            return updates.limit(0) if delete else updates.select(*cols)
        if delete:
            return existing.join(
                updates.select(key_col, ts_col).distinct(),
                on=[key_col, ts_col],
                how="left_anti",
            )
        payload = [c for c in cols if c not in (key_col, ts_col)]
        u = updates.select(
            key_col, ts_col,
            F.lit(True).alias("__m"),
            *[F.col(c).alias(f"__u_{c}") for c in payload],
        )
        replaced = existing.join(u, on=[key_col, ts_col], how="left").select(
            key_col, ts_col,
            *[
                F.when(F.col("__m"), F.col(f"__u_{c}"))
                .otherwise(F.col(c)).alias(c)
                for c in payload
            ],
        )
        appended = updates.join(
            existing.select(key_col, ts_col).distinct(),
            on=[key_col, ts_col], how="left_anti",
        ).select(key_col, ts_col, *payload)
        return replaced.select(*cols).unionByName(appended.select(*cols))

    return _rewrite_buckets(spark, root, snap, updates, merge, {
        **snap,
        "dt_granularity": snap.get("dt_granularity", "day"),
        "operation": "delete" if delete else "upsert",
    })[0]


# --------------------------------------------------- metadata tables ------


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """Iceberg's ``snapshots`` metadata table: one row per snapshot with
    operation, parent, commit time, and file/row/byte totals — driver
    reads only the JSON manifests."""
    rows = []
    meta = os.path.join(root, META_DIR)
    for name in sorted(os.listdir(meta)):
        if not (name.startswith("snap-") and name.endswith(".json")):
            continue
        s = load_snapshot(root, name)
        rows.append(
            (
                s["snapshot_id"],
                s.get("parent"),
                s.get("operation"),
                float(s.get("committed_at", 0.0)),
                len(s["files"]),
                sum(f["rows"] for f in s["files"]),
                sum(f.get("bytes", 0) for f in s["files"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id int, parent int, operation string, committed_at double, "
        "n_files int, n_rows long, n_bytes long",
    )


def table_files(
    spark: SparkSession, root: str, *, snapshot: int | None = None
) -> DataFrame:
    """Iceberg's ``files`` metadata table: one row per data file of a
    snapshot with partition values and stats — the planner's view of the
    table, queryable with plain DataFrame ops."""
    snap = (
        load_snapshot(root, snapshot)
        if snapshot is not None
        else current_snapshot(root)
    )
    if snap is None:
        raise FileNotFoundError(f"no table at {root}")
    rows = [
        (
            f["path"], f["dt"], f["bucket"], f["rows"], f.get("bytes", 0),
            f.get("min_ts"), f.get("max_ts"),
            str(f.get("min_key")) if f.get("min_key") is not None else None,
            str(f.get("max_key")) if f.get("max_key") is not None else None,
        )
        for f in snap["files"]
    ]
    return spark.createDataFrame(
        rows,
        "path string, dt string, bucket int, rows long, bytes long, "
        "min_ts string, max_ts string, min_key string, max_key string",
    )
