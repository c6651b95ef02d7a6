"""Point-in-time-correct as-of join — THE core operator (SURVEY.md §2.3).

Semantics (upstream Feast get_historical_features / the
MULTIPLE_FEATURE_VIEW_POINT_IN_TIME_JOIN SQL template in
offline_utils.py; local reference is a stub — SURVEY.md §0.1):

For each probe row ``(by, ts)`` return the feature values of the LATEST
feature row with ``event_ts <= ts`` (at-or-before; equality matches) and,
if a TTL is given, ``event_ts >= ts - ttl``. Ties on event_ts break by max
``created_ts``, then by a deterministic hash of the requested
``feature_cols`` (our strengthening — upstream leaves sub-created ties
unspecified). The retrieval planner joins once per source group and
requests the union of the group's features, so an exact ``(key,
event_ts, created_ts)`` tie breaks on the hash of that union and all of
the group's features come from one row; a single-view retrieval hashes
its own features. Left semantics: a probe with no
qualifying feature row keeps NULL features. Zero temporal leakage: no
value from an event after the probe ts, ever. A NULL in any ``by`` column
matches nothing (upstream joins with SQL ``=``), under every strategy.

PySpark 4.1.2 has no native asOfJoin (verified), so two strategies:

- ``union``  (J1): union probes+events, one window per key, forward-fill a
  payload struct. This IS the north rule's "sort-merge over
  warc_ts-sorted, url-hash-partitioned partitions", run inside the JVM:
  one hash exchange on ``by``, then an in-partition sort on (key, ts)
  that merges probes with events, so the at-or-before boundary falls out
  of the sort order. Scales to any probe cardinality; the default, and
  the retrieval planner's choice for every probe set above its broadcast
  bound, layout-backed or not, and for any hot key.
- ``broadcast`` (J2): broadcast the (distinct) probe set, equi-join on
  ``by`` with the TTL range as join condition, keep row_number()==1 per
  probe. Best when probes are small; zero shuffle of the big side beyond
  the scan. Its join emits every event of a probe's key inside the TTL,
  so a hot key's probes fan out to hot rows × probes.

A hot key is one long ``union`` task, never an out-of-memory one: the
sort and the window buffer spill to disk (tests/test_asof.py runs a hot
key under tiny spill thresholds).

All strategies forward-fill/select a STRUCT of the full feature payload,
not per-column fills — so a legitimately-NULL feature value in the latest
row stays NULL instead of leaking an older value.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feast_spark.operators.skew import content_salt

_ETS = "__asof_event_ts"

# the strategy names ``asof_join`` dispatches on (module docstring)
STRATEGIES = ("union", "broadcast")


def check_strategy(strategy: str) -> None:
    """Refuse a strategy name ``asof_join`` cannot dispatch — callers
    check before they run any Spark job."""
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown asof strategy {strategy!r}; valid: {', '.join(STRATEGIES)}"
        )


def _ttl_seconds(ttl: timedelta | int | float | None) -> float | None:
    if ttl is None:
        return None
    if isinstance(ttl, timedelta):
        return ttl.total_seconds()
    return float(ttl)


def within_ttl(event_ts: Column, ts: Column, ttl: timedelta | float) -> Column:
    """The TTL boundary: ``event_ts >= ts - ttl``, as an epoch-double
    comparison (interval literals don't take float seconds, and
    TIMESTAMP_NTZ can't cast straight to long — §0.3). The union and
    broadcast strategies and the retrieval planner's per-view TTL mask
    all use this one expression, so their boundaries are bit-identical."""
    return event_ts.cast("double") >= ts.cast("double") - F.lit(_ttl_seconds(ttl))


def _tiebreak_hash(features: DataFrame, cols: list[str]) -> Column:
    """Deterministic total-order tiebreak for rows sharing (by, event_ts,
    created_ts) — required so window/join results are permutation-
    invariant (SURVEY.md §7.3.2)."""
    return F.xxhash64(*[F.col(c) for c in cols])


def asof_join(
    probes: DataFrame,
    features: DataFrame,
    *,
    by: str | list[str] = "url",
    left_on: str = "ts",
    right_on: str = "warc_ts",
    ttl: timedelta | int | None = None,
    created_col: str | None = None,
    feature_cols: list[str] | None = None,
    strategy: str = "union",
    include_event_ts: bool = False,
    event_ts_name: str = "event_ts",
) -> DataFrame:
    """Dispatch to a PIT-join strategy. Output = all probe columns +
    ``feature_cols`` (+ the matched event ts if ``include_event_ts``).

    ``by`` may be a list for composite entity keys (upstream: a view
    referencing several entities joins on all their keys); every
    strategy treats the tuple as one logical key. An EMPTY list is the
    entity-less (global) view (upstream's DUMMY_ENTITY): every probe
    matches the one global feature timeline — implemented by injecting a
    constant key on both sides, so the whole timeline lands in one
    window partition (global tables are small by construction; a large
    one should be given a real entity)."""
    check_strategy(strategy)
    by = [by] if isinstance(by, str) else list(by)
    if not by:
        dummy = "__feast_dummy_entity__"
        out = asof_join(
            probes.withColumn(dummy, F.lit(1)),
            features.withColumn(dummy, F.lit(1)),
            by=dummy, left_on=left_on, right_on=right_on, ttl=ttl,
            created_col=created_col, feature_cols=feature_cols,
            strategy=strategy, include_event_ts=include_event_ts,
            event_ts_name=event_ts_name,
        )
        return out.drop(dummy)
    if feature_cols is None:
        skip = {*by, right_on}
        if created_col:
            skip.add(created_col)
        feature_cols = [c for c in features.columns if c not in skip]
    clash = (set(feature_cols) | {event_ts_name} if include_event_ts else set(feature_cols)) & set(
        probes.columns
    )
    if clash:
        raise ValueError(f"probe/feature column collision: {sorted(clash)}")

    # normalize event-time columns: parquet timestamp[us] loads as
    # TIMESTAMP_NTZ in Spark 4 and breaks interval/epoch arithmetic
    probes = probes.withColumn(left_on, F.col(left_on).cast("timestamp"))
    features = features.withColumn(right_on, F.col(right_on).cast("timestamp"))
    if created_col:
        features = features.withColumn(created_col, F.col(created_col).cast("timestamp"))

    kw = dict(
        by=by, left_on=left_on, right_on=right_on, ttl=_ttl_seconds(ttl),
        created_col=created_col, feature_cols=feature_cols,
        include_event_ts=include_event_ts, event_ts_name=event_ts_name,
    )
    if strategy == "union":
        return _asof_window(probes, features, **kw)
    return _asof_broadcast(probes, features, **kw)


# ---------------------------------------------------------------- J1 ----
def _asof_window(
    probes: DataFrame,
    features: DataFrame,
    *,
    by: list[str],
    left_on: str,
    right_on: str,
    ttl: float | None,
    created_col: str | None,
    feature_cols: list[str],
    include_event_ts: bool,
    event_ts_name: str,
) -> DataFrame:
    """Union+window: the Feast-0.9 PySpark strategy (upstream
    historical_feature_retrieval_job.py), re-derived. Single shuffle
    (window partitionBy ``by``); probes and events sort together so the
    at-or-before boundary falls out of the sort order (events sort BEFORE
    probes at equal ts → equality matches; after → leakage impossible)."""
    payload = F.struct(
        F.col(right_on).alias(_ETS),
        *[F.col(c).alias(c) for c in feature_cols],
    )
    created = (
        F.col(created_col) if created_col else F.lit(None).cast("timestamp")
    )
    # a NULL key matches nothing, as the broadcast equi-join: without this
    # filter a NULL-key probe would share the NULL-key events' window
    ev = features.dropna(subset=by).select(
        *[F.col(c).alias(c) for c in by],
        F.col(right_on).alias("__t"),
        F.lit(0).alias("__is_probe"),
        created.alias("__created"),
        _tiebreak_hash(features, feature_cols).alias("__tb"),
        payload.alias("__payload"),
    )
    pr = probes.select(
        *[F.col(c) for c in probes.columns],
        F.col(left_on).alias("__t"),
        F.lit(1).alias("__is_probe"),
    )
    u = pr.unionByName(ev, allowMissingColumns=True)

    # within a url: order by ts; at equal ts events (0) precede probes (1);
    # among equal-ts events ascending (created, hash) so last-wins = max
    w = (
        Window.partitionBy(*by)
        .orderBy(
            F.col("__t").asc(),
            F.col("__is_probe").asc(),
            F.col("__created").asc_nulls_first(),
            F.col("__tb").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("__fill", F.last("__payload", ignorenulls=True).over(w))
    out = filled.filter(F.col("__is_probe") == 1)

    valid = F.col("__fill").isNotNull()
    if ttl is not None:
        valid = valid & within_ttl(F.col("__fill")[_ETS], F.col(left_on), ttl)
    sel: list[Column] = [F.col(c) for c in probes.columns]
    for c in feature_cols:
        sel.append(F.when(valid, F.col("__fill")[c]).alias(c))
    if include_event_ts:
        sel.append(F.when(valid, F.col("__fill")[_ETS]).alias(event_ts_name))
    return out.select(*sel)


# ---------------------------------------------------------------- J2 ----
def _asof_broadcast(
    probes: DataFrame,
    features: DataFrame,
    *,
    by: list[str],
    left_on: str,
    right_on: str,
    ttl: float | None,
    created_col: str | None,
    feature_cols: list[str],
    include_event_ts: bool,
    event_ts_name: str,
) -> DataFrame:
    """Broadcast the distinct probe set; range-join + keep latest per
    probe. The big (features) side is scanned once, never shuffled on a
    new key: the window partitions by (by, ts) which the join already
    co-located."""
    p = probes.select(*by, left_on).distinct().alias("p")
    f = features.alias("f")
    cond = F.col(f"f.{right_on}") <= F.col(f"p.{left_on}")
    for k in by:
        cond = cond & (F.col(f"p.{k}") == F.col(f"f.{k}"))
    if ttl is not None:
        cond = cond & within_ttl(F.col(f"f.{right_on}"), F.col(f"p.{left_on}"), ttl)
    j = F.broadcast(p).join(f, cond, "inner")
    created = (
        F.col(f"f.{created_col}") if created_col else F.lit(None).cast("timestamp")
    )
    w = Window.partitionBy(
        *[F.col(f"p.{k}") for k in by], F.col(f"p.{left_on}")
    ).orderBy(
        F.col(f"f.{right_on}").desc(),
        created.desc_nulls_last(),
        _tiebreak_hash(f, [f"f.{c}" for c in feature_cols]).desc_nulls_last(),
    )
    # internal alias when the caller doesn't want the matched event ts:
    # dropping by the public name would also delete a probe column that
    # happens to share it (probes keep ALL their columns in the output)
    ets_alias = event_ts_name if include_event_ts else "__asof_ets_tmp"
    best = (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(f"p.{k}").alias(k) for k in by],
            F.col(f"p.{left_on}").alias(left_on),
            *[F.col(f"f.{c}").alias(c) for c in feature_cols],
            F.col(f"f.{right_on}").alias(ets_alias),
        )
    )
    out = probes.join(F.broadcast(best), on=[*by, left_on], how="left")
    if not include_event_ts:
        out = out.drop("__asof_ets_tmp")
    return out


# ---------------------------------------------------------------- J4 ----
def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Key-salted equi-join for hot keys (north rule: "key-salting for hot
    domains"). The big side gets a random-ish-but-deterministic salt from
    xxhash64 of its hashable columns; the small side is exploded
    ``salt`` ways so every (key, salt) pair finds its match. AQE skew-join
    is the runtime backstop; this is the explicit control for when stats
    are known up front.

    Only inner/left (big-side-preserving) joins: outer semantics on the
    exploded small side would emit ``salt`` null-padded copies of every
    unmatched small-side key."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}"
        )
    bigs = big.withColumn("__salt", content_salt(big, on, salt))
    smalls = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = bigs.join(smalls, on=[on, "__salt"], how=how)
    return out.drop("__salt")
