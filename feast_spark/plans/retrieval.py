"""Historical-retrieval planner (SURVEY.md §3.1, §4.2.1).

Resolves ``"view:feature"`` refs against the registry and chains one
PIT/as-of join per SOURCE GROUP onto the entity dataframe — the upstream
get_historical_features lifecycle (feature_store.py → offline store PIT
template), re-expressed as DataFrame composition.

Upstream's template joins once per feature view. Here views that read the
same rows the same way — equal ``source``, ``ref``, ``field_mapping``,
``join_keys``, ``timestamp_field`` and ``created_timestamp_column``, and no
``aggregations`` — form one group, and one as-of join serves them all: it
scans the source once with the group's widest TTL (``None`` if any view
has none) and requests the union of the group's features. That is exact.
The latest event at or before a probe is the same row for every view of
the group; a view's TTL only decides whether that row is young enough. So
each view with a narrower TTL masks its columns to NULL where the matched
event time fails its own TTL, with the as-of join's own boundary
expression (``asof.within_ttl``). A group of one view adds no mask. A
view with aggregations is a group of its own: ``FeatureView.load`` hands
it rows with its aggregates derived, which no other view shares.

Strategy policy (``strategy=None`` → auto):

- probes estimated ≤ BROADCAST_PROBE_ROWS → ``broadcast`` (J2): the big
  feature table is scanned once and never re-shuffled;
- else ``union`` (J1): one hash exchange on the entity key and an
  in-partition sort-merge of probes with events, unbounded probe
  cardinality, all in the JVM — layout-backed or not;
- a manifest-detected hot key (≥ HOT_KEY_MIN_ROWS rows) turns broadcast
  into ``union``: broadcast's range join emits hot rows × that key's
  probes before it keeps one row per probe.

The probe-count choice is made once per retrieval. An explicit
``strategy`` must be one of ``asof.STRATEGIES``; it is checked before
any Spark job.

Layout-backed views are pruned from ONE probe summary — a single
aggregate over the entity dataframe giving the probe time bounds and the
set of layout buckets the probe keys hash to. Files outside the bounds
are skipped — the lower bound widened by the view's TTL here, and by its
longest aggregation window in ``FeatureView.load`` — and when the bucket
set is smaller than the layout's B only those buckets are scanned.

The summary is a Spark job that reads every probe, so it runs only when
it can skip more than it reads: when some layout-backed group's snapshot
holds more rows (manifest ``rows``, already on the driver) than the
probe count — the same count that picks the strategy — or when that
count is unknown. Spark's dynamic partition pruning applies the same
test (``PartitionPruning.pruningHasBenefit``). A probe set at least as
large as every layout tends to hit every bucket and every month, where
the summary would prune nothing; without it each group scans its whole
snapshot. Either way the scan reads the snapshot the planner read its
manifest from (``FeatureView.layout_snapshot``), even if HEAD has moved
since.
"""

from __future__ import annotations

import json
from datetime import timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark.operators.asof import asof_join, check_strategy, within_ttl
from feast_spark.operators.skew import detect_hot_keys_from_manifest
from feast_spark.sources.pages import bucket_expr

# measured knee on the 2.1M-row pages table (local[32], BASELINE.md):
# broadcast ~3s up to 100k probes but 45s at 600k (the range-join output
# approaches the full feature table and the per-probe row_number window
# dominates); union stays ~3-5s throughout. Broadcast also costs
# driver/executor memory proportional to the probe set.
BROADCAST_PROBE_ROWS = 100_000

# a single entity key with ≥ this many feature rows (manifest lower
# bound) sends an auto-planned group to union. Measured on one url with
# 1.2M events, TTL 90 d, local[2] (ROADMAP item 4): 1k probes, 100 of
# them on that url, make broadcast join 25.6M rows, 134-145 CPU-s per
# call against union's 8.2-9.6. Union makes the key one long task whose
# sort and window buffer spill to disk.
HOT_KEY_MIN_ROWS = 1_000_000

# the matched event time a source group's join carries for its TTL masks
_GROUP_ETS = "__group_event_ts"


def choose_strategy(
    probes: DataFrame | None, probe_count_hint: int | None = None
) -> str:
    """DataFrame-level strategy policy (§4.2.1): small probe set →
    broadcast, else union+window.

    Probe cardinality comes from the hint, else a zero-job plan-time
    estimate (parquet footers / Catalyst stats — VERDICT r03 next #5:
    no more implicit ``probes.count()`` job per retrieval). ``probes``
    is None when the caller has estimated already: the hint is then
    taken as it is, None included. When neither yields a number the
    policy picks the strategy that is safe at unbounded cardinality."""
    n = probe_count_hint
    if n is None and probes is not None:
        from feast_spark.estimate import estimate_rows

        n = estimate_rows(probes)
    if n is not None and n <= BROADCAST_PROBE_ROWS:
        return "broadcast"
    return "union"


def _prune_spec(fv, snap: dict) -> tuple | None:
    """(key column, table dtype, B) the view's probe keys hash with to
    find their layout buckets, or None when the layout buckets on a
    column that is not among the view's join keys. Keys must hash with
    the TABLE's dtype: xxhash64 of an int, a bigint and a string differ
    (round-2 review)."""
    kcol = snap["key_col"]
    if kcol not in fv.join_keys:
        return None
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    return kcol, schema[kcol].dataType.simpleString(), snap["n_buckets"]


def _source_group(fv):
    """Views with equal keys read the same rows the same way, so one as-of
    join serves them all. A view with aggregations derives its own rows
    and is a group of its own."""
    if fv.aggregations:
        return fv.name
    return (
        fv.source, fv.ref, tuple(sorted(fv.field_mapping.items())),
        tuple(fv.join_keys), fv.timestamp_field, fv.created_timestamp_column,
    )


def plan_retrieval(
    store,
    entity_df: DataFrame,
    features: list[str],
    *,
    full_feature_names: bool = False,
    strategy: str | None = None,
    probe_count_hint: int | None = None,
    decisions: list | None = None,
) -> DataFrame:
    """Build the retrieval DataFrame: entity_df + one PIT join per source
    group.

    Every ref, every output column name and an explicit ``strategy`` are
    checked before any Spark job runs. ``decisions``, when given,
    collects one dict per view with the chosen strategy, any
    manifest-detected hot keys, the layout buckets scanned (``None``: all
    of them), ``probe_rows``, the probe count the planner used (the hint
    or the estimate; ``None``: unknown), and ``group``, the index of the
    join that served the view — the planner's choices are visible in the
    job log / tests, not hidden planner magic."""
    # group refs by view, preserving order
    by_view: dict[str, list[str]] = {}
    for ref in features:
        view, _, feat = ref.partition(":")
        if not feat:
            raise ValueError(f"feature ref must be 'view:feature', got {ref!r}")
        by_view.setdefault(view, []).append(feat)
    views = {name: store.get_view(name) for name in by_view}
    for view_name, feats in by_view.items():
        declared = {s.name for s in views[view_name].features}
        unknown = [f for f in feats if f not in declared]
        if unknown:
            raise ValueError(f"view {view_name!r} has no features {unknown}")
    if strategy is not None:
        check_strategy(strategy)
    out_name = {
        (v, f): f"{v}__{f}" if full_feature_names else f
        for v, feats in by_view.items()
        for f in feats
    }
    names = list(out_name.values())
    clash = {n for n in names if names.count(n) > 1} | (
        set(names) & set(entity_df.columns)
    )
    if clash:
        raise ValueError(f"output column collision: {sorted(clash)}")

    groups: dict = {}
    for view_name, fv in views.items():
        groups.setdefault(_source_group(fv), []).append(view_name)
    groups = list(groups.values())
    # the pinned ref's snapshot when the view carries one — the manifest
    # used for pruning/skew stats must describe the same files the scan
    # reads; every view of a group reads the same one
    snaps = [views[g[0]].layout_snapshot() for g in groups]
    specs = [
        _prune_spec(views[g[0]], snap) if snap else None
        for g, snap in zip(groups, snaps)
    ]

    # ONE probe count for the whole retrieval: the caller's hint, else a
    # zero-job estimate (None when the plan bounds nothing). It picks the
    # strategy — one choice for every group, as it depends on the probes
    # alone — and decides whether the probe summary runs.
    n = probe_count_hint
    if n is None:
        from feast_spark.estimate import estimate_rows

        n = estimate_rows(entity_df)
    picked = strategy or choose_strategy(None, n)

    lo = hi = None
    bucket_sets: dict = {}
    # the summary's job must be able to skip more layout rows than the
    # probe rows it reads (module docstring)
    if any(
        n is None or sum(f["rows"] for f in snap["files"]) > n
        for snap in snaps if snap
    ):
        # the probe summary: ONE aggregate gives the probe time bounds
        # and, per (key column, dtype, B), the buckets the probe keys hash
        # to — with the layout's own bucket_expr, so no key leaves Spark.
        # A NULL key hashes to the seed's bucket and stays in the set.
        aliases = {
            spec: f"__b{i}" for i, spec in enumerate(dict.fromkeys(filter(None, specs)))
        }
        row = entity_df.agg(
            F.min(F.col("ts").cast("timestamp")).alias("lo"),
            F.max(F.col("ts").cast("timestamp")).alias("hi"),
            *[
                F.collect_set(bucket_expr(F.col(k).cast(t), n)).alias(a)
                for (k, t, n), a in aliases.items()
            ],
        ).first()
        lo, hi = row["lo"], row["hi"]
        bucket_sets = {spec: set(row[a]) for spec, a in aliases.items()}

    out = entity_df
    for group_i, (group, snap, spec) in enumerate(zip(groups, snaps, specs)):
        fv = views[group[0]]
        # the widest TTL scans and joins for the whole group; a view with
        # a narrower one is masked below
        ttls = [views[v].ttl for v in group]
        ttl = None if None in ttls else max(ttls)
        masked = [v for v in group if views[v].ttl != ttl]
        feats = list(dict.fromkeys(f for v in group for f in by_view[v]))
        chosen = picked
        hot_keys: list = []
        if strategy is None and snap is not None:
            # skew probe (SURVEY §4.2.2): manifest stats are already on
            # the driver — zero extra scans
            hot_keys = detect_hot_keys_from_manifest(snap, min_rows=HOT_KEY_MIN_ROWS)
            if hot_keys:
                chosen = "union"
        src_kw: dict = {}
        if snap is not None:
            # manifest pruning by probe time range + TTL: files wholly
            # outside [min(ts) - ttl, max(ts)] never reach Spark — the
            # Iceberg-planning analogue for retrieval (SURVEY.md S2)
            if hi is not None:
                # With no TTL the as-of lookback is unbounded: a key whose
                # latest feature row predates the earliest probe is still a
                # valid PIT match, so only the upper bound may prune.
                src_kw["end"] = hi + timedelta(seconds=1)
                # ``load`` widens the lower bound by the view's
                # aggregation windows
                if lo is not None and ttl is not None:
                    src_kw["start"] = lo - ttl
            # bucket pruning: scan only the buckets the probe keys hash to
            # when they miss any, by the layout's own modulus
            wanted = bucket_sets.get(spec)
            if wanted is not None and len(wanted) < snap["n_buckets"]:
                src_kw["buckets"] = wanted
            # scan the snapshot this plan read, not a HEAD that moved since
            src_kw["snapshot"] = snap["snapshot_id"]
        if decisions is not None:
            decisions.extend(
                {
                    "view": v,
                    "strategy": chosen,
                    "hot_keys": hot_keys,
                    "buckets": src_kw.get("buckets"),
                    "probe_rows": n,
                    "group": group_i,
                }
                for v in group
            )
        src = fv.load(store.spark, **src_kw)
        joined = asof_join(
            out,
            src,
            by=fv.join_keys,
            left_on="ts",
            right_on=fv.timestamp_field,
            ttl=ttl,
            created_col=fv.created_timestamp_column,
            feature_cols=feats,
            strategy=chosen,
            include_event_ts=bool(masked),
            event_ts_name=_GROUP_ETS,
        )
        # a narrower TTL only decides whether the group's match is young
        # enough for that view (module docstring)
        cols = [F.col(c) for c in out.columns]
        for v in group:
            for f in by_view[v]:
                c = F.col(f)
                if v in masked:
                    c = F.when(
                        within_ttl(F.col(_GROUP_ETS), F.col("ts"), views[v].ttl), c
                    )
                cols.append(c.alias(out_name[v, f]))
        out = joined.select(*cols)
    # views of one group come out together; restore the requested order
    order = [*entity_df.columns, *names]
    return out if out.columns == order else out.select(*order)
