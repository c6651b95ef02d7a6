"""Historical-retrieval planner (SURVEY.md §3.1, §4.2.1).

Resolves ``"view:feature"`` refs against the registry and chains one
PIT/as-of join per feature view onto the entity dataframe — the upstream
get_historical_features lifecycle (feature_store.py → offline store PIT
template), re-expressed as DataFrame composition.

Strategy policy (``strategy=None`` → auto):

- probes estimated ≤ BROADCAST_PROBE_ROWS → ``broadcast`` (J2): the big
  feature table is scanned once and never re-shuffled;
- both sides carry our layout's bucket metadata (sources.layout) with the
  same bucket count → ``cogroup`` (J3): per-bucket sort-merge, minimal
  shuffle;
- else ``union`` (J1): one shuffle on the entity key, unbounded probe
  cardinality;
- a manifest-detected hot key (≥ HOT_KEY_MIN_ROWS rows) overrides any of
  these with ``sliced`` (J1-hot).

Layout-backed views are pruned from ONE probe summary — a single
aggregate over the entity dataframe giving the probe time bounds and the
set of layout buckets the probe keys hash to. Files outside the bounds
(widened by the view's TTL) are skipped, and when the bucket set is
smaller than the layout's B only those buckets are scanned.
"""

from __future__ import annotations

import json
import math
from datetime import timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark.operators.asof import asof_join
from feast_spark.sources.pages import bucket_expr

# measured knee on the 2.1M-row pages table (local[32], BASELINE.md):
# broadcast ~3s up to 100k probes but 45s at 600k (the range-join output
# approaches the full feature table and the per-probe row_number window
# dominates); union stays ~3-5s throughout, cogroup 3.6s. Broadcast also
# costs driver/executor memory proportional to the probe set.
BROADCAST_PROBE_ROWS = 100_000

# cogroup materializes one bucket at a time in a Python worker; when the
# manifest says the biggest bucket exceeds this many bytes, the planner
# multiplies the repartition count so every pandas merge stays bounded
# (trades the layout-aligned cheap shuffle for worker-memory safety)
COGROUP_BUCKET_BYTES = 256 << 20

# a single entity key with ≥ this many feature rows (manifest lower
# bound) flips ANY auto-chosen plan to the time-sliced strategy: union's
# partitionBy(key) window makes the hot key one giant JVM sort task,
# broadcast fans out hot_rows × probes-of-that-key, and cogroup hashes
# the whole key into ONE pandas bucket no matter how large B grows —
# only slicing the hot key's TIMELINE bounds the per-task work
# (SURVEY §4.2.2)
HOT_KEY_MIN_ROWS = 1_000_000


def choose_strategy(
    probes: DataFrame,
    probe_count_hint: int | None = None,
    *,
    layout_backed: bool = False,
) -> str:
    """DataFrame-level strategy policy (§4.2.1): small probe set →
    broadcast; large probes over a layout-backed view → cogroup (the
    bucket-aligned sort-merge — repartitions on the SAME xxhash64 bucket
    transform the table was written with); else union+window.

    Probe cardinality comes from the hint, else a zero-job plan-time
    estimate (parquet footers / Catalyst stats — VERDICT r03 next #5:
    no more implicit ``probes.count()`` job per retrieval). When neither
    yields a number the policy picks the strategy that is safe at
    unbounded cardinality."""
    n = probe_count_hint
    if n is None:
        from feast_spark.estimate import estimate_rows

        n = estimate_rows(probes)
    if n is not None and n <= BROADCAST_PROBE_ROWS:
        return "broadcast"
    return "cogroup" if layout_backed else "union"


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
    """Build the retrieval DataFrame: entity_df + one PIT join per view.

    Every ref is checked before any Spark job runs. ``decisions``, when
    given, collects one dict per view with the chosen strategy, any
    manifest-detected hot keys and the layout buckets scanned (``None``:
    all of them) — the planner's choices are visible in the job log /
    tests, not hidden planner magic."""
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
    # the pinned ref's snapshot when the view carries one — the manifest
    # used for pruning/skew stats must describe the same files the scan
    # reads
    snaps = {
        name: fv.layout_snapshot() for name, fv in views.items() if fv.layout_root
    }
    specs = {name: _prune_spec(views[name], snap) for name, snap in snaps.items()}

    probe_n = None
    if strategy is None:
        probe_n = probe_count_hint
        if probe_n is None:
            # zero-job estimate computed ONCE and shared across views
            # (VERDICT r03 next #5: the old fallback was an
            # entity_df.count() job per unhinted retrieval). None simply
            # flows to choose_strategy's unbounded-safe default.
            from feast_spark.estimate import estimate_rows

            probe_n = estimate_rows(entity_df)

    lo = hi = None
    bucket_sets: dict = {}
    if snaps:
        # the probe summary: ONE aggregate gives the probe time bounds
        # and, per (key column, dtype, B), the buckets the probe keys hash
        # to — with the layout's own bucket_expr, so no key leaves Spark.
        # A NULL key hashes to the seed's bucket and stays in the set.
        aliases = {
            spec: f"__b{i}"
            for i, spec in enumerate(dict.fromkeys(filter(None, specs.values())))
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
    for view_name, feats in by_view.items():
        fv, snap = views[view_name], snaps.get(view_name)
        chosen = strategy or choose_strategy(
            entity_df, probe_n, layout_backed=snap is not None
        )
        hot_keys: list = []
        if strategy is None and snap is not None:
            # skew probe (SURVEY §4.2.2): manifest stats are already on
            # the driver — zero extra scans. A hot entity key makes the
            # union window's partitionBy(key) one giant sort task, blows
            # up broadcast's range-join fanout (hot_rows × probes of
            # that key), and lands in ONE cogroup pandas bucket however
            # large B grows (same hash → same bucket). The sliced
            # strategy partitions the hot key's TIMELINE, the only bound
            # that holds when one key exceeds a task (r02 review;
            # cogroup/salting only bound aggregates) — so the probe runs
            # for every auto-chosen strategy, cogroup included.
            from feast_spark.operators.skew import detect_hot_keys_from_manifest

            hot_keys = detect_hot_keys_from_manifest(snap, min_rows=HOT_KEY_MIN_ROWS)
            if hot_keys:
                chosen = "sliced"
        src_kw: dict = {}
        n_buckets = None
        if snap is not None:
            # manifest pruning by probe time range + TTL: files wholly
            # outside [min(ts) - ttl, max(ts)] never reach Spark — the
            # Iceberg-planning analogue for retrieval (SURVEY.md S2)
            if hi is not None:
                # With no TTL the as-of lookback is unbounded: a key whose
                # latest feature row predates the earliest probe is still a
                # valid PIT match, so only the upper bound may prune.
                src_kw["end"] = hi + timedelta(seconds=1)
                if lo is not None and fv.ttl is not None:
                    src_kw["start"] = lo - fv.ttl
                    if fv.aggregations:
                        # trailing window aggregates at the TTL horizon's
                        # first events need their full window of history;
                        # an unbounded (lifetime) agg window forbids any
                        # lower scan bound
                        w = fv.max_agg_window
                        if w is None:
                            del src_kw["start"]
                        else:
                            src_kw["start"] -= w
            # bucket pruning: scan only the buckets the probe keys hash to
            # when they miss any; the manifest always uses the LAYOUT's
            # modulus, not the (possibly grown) cogroup repartition count
            wanted = bucket_sets.get(specs[view_name])
            if wanted is not None and len(wanted) < snap["n_buckets"]:
                src_kw["buckets"] = wanted
            if chosen == "cogroup":
                # bucket-size policy (VERDICT r01 plan audit): cogroup
                # materializes one bucket per Python worker, so B must
                # grow with data volume or a bucket overflows worker
                # memory. Manifest byte stats give max bucket size for
                # free; splitting costs layout alignment (a real shuffle
                # instead of a B-way repartition on the precomputed id) —
                # the right trade once a bucket won't fit. NOTE the bound
                # holds for aggregate volume, not a single hot key: one
                # key always hashes to one bucket, so a key larger than
                # worker memory needs time-sliced handling regardless of
                # B — which is why AUTO-detected hot keys route to the
                # sliced strategy, not here; this path serves explicit
                # strategy="cogroup" and large-probe layout retrievals.
                per_bucket: dict = {}
                for fs in snap["files"]:
                    per_bucket[fs["bucket"]] = (
                        per_bucket.get(fs["bucket"], 0) + fs.get("bytes", 0)
                    )
                biggest = max(per_bucket.values(), default=0)
                n_buckets = snap["n_buckets"] * max(
                    1, math.ceil(biggest / COGROUP_BUCKET_BYTES)
                )
        if decisions is not None:
            decisions.append(
                {
                    "view": view_name,
                    "strategy": chosen,
                    "hot_keys": hot_keys,
                    "n_buckets": n_buckets,
                    "buckets": src_kw.get("buckets"),
                }
            )
        src = fv.derived_frame(fv.load(store.spark, **src_kw))
        joined = asof_join(
            out,
            src,
            by=fv.join_keys,
            left_on="ts",
            right_on=fv.timestamp_field,
            ttl=fv.ttl,
            created_col=fv.created_timestamp_column,
            feature_cols=feats,
            strategy=chosen,
            # layout-aligned bucket count: the cogroup strategy then
            # repartitions on the SAME pmod(xxhash64(url), B) the table
            # was written with (SURVEY.md §4.2.3)
            n_buckets=n_buckets,
        )
        if full_feature_names:
            joined = joined.withColumnsRenamed(
                {f: f"{view_name}__{f}" for f in feats}
            )
        out = joined
    return out
