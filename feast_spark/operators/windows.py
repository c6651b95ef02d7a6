"""Windowed feature builders (SURVEY.md §2.4-§2.5; north rule: "lag/lead
via Window.partitionBy(url).orderBy(warc_ts), gap-based sessionization,
and backfill-aware rolling aggregates").

All pure built-in Window ops — JVM-side, whole-stage-codegen'd, one shuffle
on the partition key. Skewed (hot-domain) keys: see ``salted_rolling_count``
for the two-phase salted variant (SURVEY.md §4.2.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _ts_seconds(col: str) -> Column:
    """Event time as epoch seconds (double). Casting NTZ→long throws in
    Spark 4; NTZ→timestamp→double is exact to the microsecond."""
    return F.col(col).cast("timestamp").cast("double")


def key_window(key: str = "url", order: str = "warc_ts") -> WindowSpec:
    return Window.partitionBy(key).orderBy(F.col(order).asc())


def with_lag_lead(
    df: DataFrame,
    cols: list[str],
    *,
    key: str = "url",
    order: str = "warc_ts",
    offsets: tuple[int, ...] = (1,),
) -> DataFrame:
    """W1: per-key lag/lead features (e.g. previous crawl's n_chars)."""
    w = key_window(key, order)
    out = df
    for c in cols:
        for k in offsets:
            out = out.withColumn(f"lag{k}_{c}", F.lag(c, k).over(w))
            out = out.withColumn(f"lead{k}_{c}", F.lead(c, k).over(w))
    return out


def rolling_aggregates(
    df: DataFrame,
    value_col: str,
    *,
    key: str = "url",
    order: str = "warc_ts",
    window_seconds: int = 7 * 86400,
    prefix: str = "roll",
) -> DataFrame:
    """A2: backfill-aware trailing-time-window aggregates.

    RANGE frame over epoch seconds → [t - w, t] inclusive. "Backfill-
    aware": the value at each row depends only on rows within the trailing
    window, so recomputing any historical slice (with window_seconds of
    preceding context) reproduces identical values — tested in
    tests/test_windows.py::test_backfill_invariance.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(_ts_seconds(order))
        .rangeBetween(-window_seconds, 0)
    )
    p = prefix
    return (
        df.withColumn(f"{p}_count", F.count(F.lit(1)).over(w))
        .withColumn(f"{p}_sum", F.sum(value_col).over(w))
        .withColumn(f"{p}_mean", F.avg(value_col).over(w))
        .withColumn(f"{p}_min", F.min(value_col).over(w))
        .withColumn(f"{p}_max", F.max(value_col).over(w))
    )


def backfill_fill(
    df: DataFrame,
    cols: list[str],
    *,
    key: str = "url",
    order: str = "warc_ts",
) -> DataFrame:
    """W3: forward-fill NULLs from the last non-null observation per key
    (last-observation-carried-forward)."""
    w = key_window(key, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def sessionize(
    df: DataFrame,
    *,
    key: str = "url",
    order: str = "warc_ts",
    gap_seconds: int = 30 * 60,
    session_col: str = "sess_id",
) -> DataFrame:
    """W6: gap-based sessionization — a new session starts when the gap to
    the previous event exceeds ``gap_seconds``. ``sess_id`` is the 1-based
    session index within the key (cumulative sum of boundary flags).
    Streaming twin: streaming.session_windows (F.session_window)."""
    w = key_window(key, order)
    gap = _ts_seconds(order) - F.lag(_ts_seconds(order), 1).over(w)
    boundary = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("__boundary", boundary).withColumn(
        session_col, F.sum("__boundary").over(cum)
    ).drop("__boundary")


def session_stats(
    df: DataFrame,
    *,
    key: str = "url",
    order: str = "warc_ts",
    gap_seconds: int = 30 * 60,
) -> DataFrame:
    """Per-session aggregates over W6 output: start/end/length."""
    s = sessionize(df, key=key, order=order, gap_seconds=gap_seconds)
    return s.groupBy(key, "sess_id").agg(
        F.min(order).alias("sess_start"),
        F.max(order).alias("sess_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def latest_order(order: str, created_col: str | None = None) -> list[Column]:
    """A1's recency order: event time DESC, then created time DESC with
    NULLs last (upstream ``pull_latest_from_table_or_query``). The one
    definition ``latest_per_key`` and ``latest_candidates`` share."""
    cols = [F.col(order).desc()]
    if created_col:
        cols.append(F.col(created_col).desc_nulls_last())
    return cols


def latest_candidates(
    df: DataFrame,
    *,
    key: str | list[str] = "url",
    order: str = "warc_ts",
    created_col: str | None = None,
) -> DataFrame:
    """Every row tied with its key's latest under ``latest_order``
    (``rank() == 1``, no hash tie-break): exact ties all survive. It is
    the set ``latest_per_key`` picks its row from, so a per-row derivation
    that keeps the key and time columns gives the same answer applied
    before ``latest_per_key`` to these rows as to all rows. Materialization
    runs its transform on them only."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*latest_order(order, created_col))
    return (
        df.withColumn("__rk", F.rank().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def latest_per_key(
    df: DataFrame,
    *,
    key: str | list[str] = "url",
    order: str = "warc_ts",
    created_col: str | None = None,
    precedence_col: str | None = None,
) -> DataFrame:
    """A1: one row per key — max event_ts, tie-break max created_ts
    (``latest_order``), then a deterministic xxhash64 of all columns
    (total order ⇒ permutation-invariant output; SURVEY.md §4.2.6). This
    is the materialization core (upstream pull_latest_from_table_or_query).

    ``precedence_col``: optional extra tiebreak BETWEEN created_ts and
    the content hash (higher wins). The store-merge paths tag incoming
    rows 1 and already-served rows 0, so a re-materialization that
    CHANGES a row's payload at the same (key, ts, created) — a derived
    aggregate corrected by a late event, a transform change — reliably
    overwrites instead of losing a coin-flip on the content hash."""
    keys = [key] if isinstance(key, str) else list(key)
    order_cols = latest_order(order, created_col)
    if precedence_col:
        order_cols.append(F.col(precedence_col).desc())
    hash_cols = [c for c in df.columns if c != precedence_col]
    order_cols.append(F.xxhash64(*[F.col(c) for c in hash_cols]).desc())
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def salted_rolling_count(
    df: DataFrame,
    *,
    key: str = "url",
    order: str = "warc_ts",
) -> DataFrame:
    """Skew-safe per-key cumulative event count (SURVEY.md §4.2.2).

    Applies the two-phase plan to EVERY key (results identical to the
    naive window either way). For selective routing — two-phase for hot
    keys only, plain window for the cold tail — compose with
    ``operators.skew.detect_hot_keys`` / ``plan_salting`` at the call
    site; the split stays visible in the job instead of hidden here.

    AQE splits skewed JOIN partitions but not skewed WINDOW partitions: a
    url with 10^8 events lands on one task. Two-phase plan for the
    *order-independent* part (counts over completed buckets):

    1. pre-aggregate per (key, day) — map-side combine shrinks hot keys
       to ≤90 rows each;
    2. cumulative sum over days per key (tiny window);
    3. broadcast-join day totals back and add the intra-day rank.

    Exact same result as ``F.count over rowsBetween(unboundedPreceding)``,
    but the big window never materializes a hot key's full history in one
    task's sort buffer.
    """
    day = F.date_trunc("day", F.col(order).cast("timestamp"))
    daily = df.groupBy(key, day.alias("__day")).agg(
        F.count(F.lit(1)).alias("__day_n")
    )
    wd = Window.partitionBy(key).orderBy("__day")
    daily = daily.withColumn(
        "__prev_days_n",
        F.coalesce(
            F.sum("__day_n").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).drop("__day_n")
    # intra-day rank still windows per key, but partitioned by (key, day):
    # a hot key's state is bounded by one day's volume, not all history
    wi = Window.partitionBy(key, "__day").orderBy(
        F.col(order).asc(), F.xxhash64(*[F.col(c) for c in df.columns]).asc()
    )
    out = (
        df.withColumn("__day", day)
        .join(daily, on=[key, "__day"], how="left")
        .withColumn("cum_count", F.col("__prev_days_n") + F.row_number().over(wi))
        .drop("__day", "__prev_days_n")
    )
    return out
