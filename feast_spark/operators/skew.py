"""Hot-key (skew) detection and salting policy (SURVEY.md §4.2.2; north
rule: "key-salting for hot domains").

AQE's skew-join splitting fixes skewed JOIN partitions at runtime, but
Spark has no runtime fix for a skewed ``Window.partitionBy(key)`` or
``groupBy(key)``: one hot url/domain = one giant task. The engine policy
is explicit:

1. ``detect_hot_keys`` — one cheap pre-pass aggregation (map-side
   combinable count, optionally on a sample) returning keys whose row
   count exceeds a threshold. ``detect_hot_keys_from_manifest`` reads a
   lower bound of the same answer from a layout's per-file stats, with
   no scan.
2. ``salted_group_agg`` — two-phase aggregation for DECOMPOSABLE
   aggregates: partial agg on (key, salt) → final agg on key. Bounded
   partition size regardless of skew; exact same results.
3. For order-dependent windows over hot keys, use
   ``windows.salted_rolling_count`` (two-phase over time buckets). The
   retrieval planner sends a manifest-detected hot key to the as-of
   join's ``union`` strategy, never to ``broadcast``, whose range join
   fans out hot rows × that key's probes. Union makes the hot key one
   long task whose sort and window buffer spill to disk
   (operators.asof).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_HOT_THRESHOLD = 1_000_000


def detect_hot_keys(
    df: DataFrame,
    key: str | Column,
    *,
    threshold: int = DEFAULT_HOT_THRESHOLD,
    sample_fraction: float | None = None,
    max_keys: int = 10_000,
) -> DataFrame:
    """Keys with more than ``threshold`` rows (scaled when sampling).
    One shuffle of (key, partial_count) pairs — map-side combine keeps
    the shuffle proportional to distinct keys, not rows."""
    k = F.col(key) if isinstance(key, str) else key
    src = df
    eff_threshold = threshold
    if sample_fraction:
        src = df.sample(fraction=sample_fraction, seed=42)
        eff_threshold = int(threshold * sample_fraction)
    return (
        src.groupBy(k.alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > eff_threshold)
        .orderBy(F.col("n").desc())
        .limit(max_keys)
    )


def detect_hot_keys_from_manifest(
    snapshot: dict,
    *,
    frac: float = 0.05,
    min_rows: int = DEFAULT_HOT_THRESHOLD,
) -> list:
    """Zero-scan hot-key detection from layout file stats (SURVEY §4.2.2).

    Layout files are (key, ts)-sorted, so a file whose ``min_key ==
    max_key`` holds exactly one key; summing such files' rows per key is
    a guaranteed LOWER BOUND on that key's row count — no data pages are
    read, only the manifest the planner already has in hand. A key is hot
    when its bound exceeds ``max(min_rows, frac * table_rows)``. Keys that
    never fill a whole file can't dominate a task, so the undercount is
    exactly the conservatism we want."""
    files = snapshot.get("files", [])
    total = sum(f["rows"] for f in files) or 1
    per_key: dict = {}
    for f in files:
        if f.get("min_key") is not None and f["min_key"] == f["max_key"]:
            per_key[f["min_key"]] = per_key.get(f["min_key"], 0) + f["rows"]
    cut = max(float(min_rows), frac * total)
    return sorted(k for k, n in per_key.items() if n >= cut)


def content_salt(df: DataFrame, key: str, salt: int) -> Column:
    """``pmod(xxhash64(row content), salt)``, deterministic per row so a
    retried task salts the same. xxhash64 rejects map-typed inputs, so
    the hash covers the hashable columns only; with none, the key."""
    cols = [
        f.name
        for f in df.schema.fields
        if "map<" not in f.dataType.simpleString()
    ] or [key]
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salt))


def domain_of(url_col: str | Column = "url") -> Column:
    """Registrable-host extraction for hot-DOMAIN policies."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.parse_url(c, F.lit("HOST"))


def salted_group_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    *,
    salt: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for decomposable aggregates.

    ``aggs`` maps output column → (input column, fn) with fn in
    {count, sum, min, max, avg, stddev}. Phase 1 aggregates on
    (key, salt) — at most ``salt`` partial rows per key regardless of how
    hot it is; phase 2 merges partials per key. Result is EXACTLY
    groupBy(key).agg(...); only the shuffle shape changes (verified in
    tests/test_skew.py). ``count`` on a named column counts non-null
    values of that column (groupBy null semantics); pass ``"*"`` for
    count(*).

    ``avg``/``stddev`` (sample stddev, matching ``F.stddev_samp``) are
    built-in moment compositions (VERDICT r02 next #6): phase 1 carries
    (sum, count[, sum of squares]) partials and phase 2 composes the
    moment — null semantics match the plain aggregates (nulls ignored;
    all-null → NULL; stddev of a single value → NULL).

    The salt is derived deterministically from the row's own columns
    (``pmod(xxhash64(*cols), salt)``) — a nondeterministic salt such as
    monotonically_increasing_id() feeding a shuffle re-assigns rows on
    task retry and can double-count or drop partials under fetch-failure
    recovery (the SPARK-23207 hazard class; ADVICE r01). Content-hash
    salting still spreads a hot key because its rows differ in payload.
    """
    merge_fn = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    moment_fns = {"avg", "stddev", "stddev_samp"}
    phase1 = []
    phase2 = []
    for out, (col, fn) in aggs.items():
        if fn in moment_fns:
            # moment partials: per-(key, salt) sum / non-null count
            # (/ sum of squares) merge exactly; the final expression is
            # algebra over merged partials, so results equal the plain
            # aggregate up to float rounding
            s, c, q = f"__p_{out}_s", f"__p_{out}_c", f"__p_{out}_q"
            src = F.col(col).cast("double")
            phase1.append(F.sum(src).alias(s))
            phase1.append(F.count(src).alias(c))
            n = F.sum(F.col(c))
            tot = F.sum(F.col(s))
            if fn == "avg":
                phase2.append((tot / n).alias(out))
            else:  # sample stddev: sqrt((Σx² − (Σx)²/n) / (n−1))
                phase1.append(F.sum(src * src).alias(q))
                ssq = F.sum(F.col(q))
                var = (ssq - (tot * tot) / n) / (n - F.lit(1))
                phase2.append(
                    F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
                    .alias(out)
                )
            continue
        if fn not in merge_fn:
            raise ValueError(
                f"non-decomposable agg {fn!r}; supported: "
                "count/sum/min/max/avg/stddev"
            )
        p = f"__p_{out}"
        if fn == "count":
            src = F.lit(1) if col in ("*", None) else F.col(col)
        else:
            src = F.col(col)
        phase1.append(getattr(F, fn)(src).alias(p))
        phase2.append(getattr(F, merge_fn[fn])(p).alias(out))
    salted = df.withColumn("__salt", content_salt(df, key, salt))
    partial = salted.groupBy(key, "__salt").agg(*phase1)
    return partial.groupBy(key).agg(*phase2)


def plan_salting(
    df: DataFrame,
    key: str,
    *,
    threshold: int = DEFAULT_HOT_THRESHOLD,
    sample_fraction: float | None = 0.01,
) -> dict:
    """The driver-side policy step: probe for skew, return a plan dict
    ``{hot_keys: [...], use_salting: bool}`` the caller can branch on.
    Deliberately explicit (no hidden magic): at 100 TB you want the
    skew decision visible in the job log."""
    hot = [
        r["key"]
        for r in detect_hot_keys(
            df, key, threshold=threshold, sample_fraction=sample_fraction
        ).collect()
    ]
    return {"hot_keys": hot, "use_salting": bool(hot), "threshold": threshold}
