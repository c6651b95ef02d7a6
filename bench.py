#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ..., "docs_per_sec": ...}

Protocol (VERDICT r02 next #7): every headline query and both pipeline
legs run ``N_RUNS`` (default 3) times; ``queries`` reports per-query
MEDIANS, ``queries_min`` the minima, because this VM's run-to-run wall
swing (documented 2.6× in BENCH/BASELINE.md) makes single shots
unreadable. Note medians over in-session repeats measure WARM plans —
codegen/JIT and file-listing costs land in the first run only.

Two parts:

1. **Headline driver queries** — the PIT/as-of strategies, windowed
   feature builders, and representative relational/dedup ops from
   ``__spark_entry__.queries()``, each forced with a noop write (full
   execution, no driver collect).
2. **Pages pipeline** — the BASELINE.json metric proper: synthesize the
   Common-Crawl-style pages table once (cached parquet keyed by scale),
   then time extract→features→PIT-materialize end-to-end and report
   materialized feature-rows/sec as ``docs_per_sec``.

Scaling-efficiency evidence (N vs 4N cores) lives in BENCH/scaling.py →
BENCH/BASELINE.md, not here: the per-round bench must stay one process.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# median-of-N protocol (VERDICT r02 next #7): this VM shows up to 2.6×
# run-to-run swing on identical code (BENCH/BASELINE.md), so per-query
# medians over N runs are reported (plus mins) instead of single shots
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

# headline subset: every PIT strategy + each windowed feature builder +
# a shuffle-heavy relational query + dedup/similarity representatives
HEADLINE = [
    "pit_asof_union",
    "pit_asof_broadcast",
    "lag_lead",
    "rolling_7d",
    "sessionize",
    "latest_per_key",
    "backfill_fill",
    "pricing_summary",
    "star_join_revenue",
    "salted_join",
    "text_stats",
    "dedup_exact",
    "cosine_topk",
    # LLM-pipeline headliners (VERDICT r03 next #8): near-dup banding,
    # Gopher quality rules, deterministic stratified sampling
    "minhash_near_dup",
    "gopher_quality",
    "stratified_sample",
    "perplexity_buckets",
    # write-path headliners (VERDICT r04 next #6): WARC serialization
    # round-trip and snapshot-delta materialization — the two newest
    # ingest/merge paths get round-over-round medians like the PIT
    # strategies (each call is self-contained in its own tempdir)
    "warc_ingest",
    "materialize_delta",
]

# pages-pipeline scale: sized so the materialize leg takes O(10s) at
# local[32] on sf0.1-grade hardware; scaled down for smaller SF dirs
PAGES_URLS = {"sf0.001": 500, "sf0.01": 2_000, "sf0.1": 20_000}


# one-time datagen/layout cache builds (first run only) — reported
# separately so "startup_sec" stays session startup, not datagen
_cache_build_sec = 0.0


def _force(df) -> int:
    """Execute fully without materializing on the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _pages_path(sf_name: str, n_urls: int) -> str:
    return os.path.join(
        os.environ.get("FEAST_SPARK_BENCH_CACHE", "/tmp/feast_spark_bench"),
        f"pages_{sf_name}_{n_urls}",
    )


def bench_pages_pipeline(spark, sf_name: str) -> tuple[float, float, int]:
    """End-to-end: pages → extract text → window features → PIT join at
    probe timestamps → latest-per-key materialize. Returns (sec,
    rows/sec, n_rows)."""
    from pyspark.sql import functions as F

    from feast_spark.datagen import generate_pages_distributed
    from feast_spark.operators.asof import asof_join
    from feast_spark.operators.text import extract_features_col

    n_urls = PAGES_URLS.get(sf_name, 2_000)
    path = _pages_path(sf_name, n_urls)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.monotonic()
        generate_pages_distributed(
            spark, n_urls=n_urls, n_domains=max(50, n_urls // 20)
        ).write.mode("overwrite").parquet(path)
        global _cache_build_sec
        _cache_build_sec += time.monotonic() - t0

    pages = spark.read.parquet(path).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    n_rows = pages.count()

    t0 = time.monotonic()
    # 1+2. fused extraction + per-doc features in ONE Arrow kernel (only
    # compact numerics return to the JVM — the 100 TB hot path)
    feats = extract_features_col(pages.select("url", "warc_ts", "html"))
    # 3. windowed builders: lag + rolling count per url
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("warc_ts")
    wr = (
        Window.partitionBy("url")
        .orderBy(F.col("warc_ts").cast("double"))
        .rangeBetween(-7 * 86400, 0)
    )
    feats = feats.select(
        "url",
        "warc_ts",
        "q_n_chars",
        "q_n_tokens",
        F.lag("q_n_chars", 1).over(w).alias("lag1_n_chars"),
        F.count(F.lit(1)).over(wr).alias("roll7d_count"),
    )
    # 4. PIT join: probe every url at a fixed retrieval timestamp grid
    probes = (
        pages.select("url")
        .distinct()
        .withColumn(
            "ts", F.lit("2024-02-01 00:00:00").cast("timestamp")
        )
    )
    retrieved = asof_join(
        probes,
        feats,
        by="url",
        left_on="ts",
        right_on="warc_ts",
        ttl=90 * 86400,
        strategy="union",
    )
    _force(retrieved)
    sec = time.monotonic() - t0
    return sec, n_rows / max(sec, 1e-9), n_rows


def bench_materialize_job(spark, sf_name: str) -> tuple[float, float, int]:
    """The BASELINE metric proper: MaterializeJob over the Iceberg-style
    layout — manifest-pruned scan → fused feature extraction →
    latest-per-key → bucketed serving store with per-batch lineage.
    Returns (sec, materialized rows/sec, rows out)."""
    import shutil
    import tempfile
    from datetime import timedelta

    from pyspark.sql import functions as F

    from feast_spark.materialize import MaterializeJob
    from feast_spark.operators.text import extract_features_col
    from feast_spark.registry import Entity, FeatureSpec, FeatureView
    from feast_spark.sources import pages as layout

    n_urls = PAGES_URLS.get(sf_name, 2_000)
    pages_path = _pages_path(sf_name, n_urls)
    table = pages_path + "_layout"
    if not layout.is_table(table):
        t0 = time.monotonic()
        df = spark.read.parquet(pages_path)
        layout.write_table(df, table, n_buckets=8, dt_granularity="month")
        global _cache_build_sec
        _cache_build_sec += time.monotonic() - t0

    view = FeatureView(
        name="pages",
        entity=Entity("url", "url"),
        source=table,
        features=[FeatureSpec("q_n_chars", "bigint")],
        ttl=timedelta(days=120),
        timestamp_field="warc_ts",
    )

    def transform(df):
        return extract_features_col(df.select("url", "warc_ts", "html")).select(
            "url", "warc_ts", "q_n_chars", "q_n_tokens"
        )

    dest = tempfile.mkdtemp(prefix="feast_bench_mat_")
    try:
        t0 = time.monotonic()
        summary = MaterializeJob(
            spark, view, dest, bucket_batch=8, transform=transform
        ).run("2023-11-01", "2024-03-01")
        sec = time.monotonic() - t0
        return sec, summary["rows"] / max(sec, 1e-9), summary["rows"]
    finally:
        shutil.rmtree(dest, ignore_errors=True)


def main() -> None:
    t_import = time.monotonic()
    from feast_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        "feast_spark_bench",
        cores=CPUS,
        # html-heavy tables + Python-bound extraction: 16 MiB input
        # splits remove the 2-wave task imbalance at 32 cores (measured
        # ~20% on the pages pipeline — BENCH/BASELINE.md; the cluster
        # equivalent is sizing maxPartitionBytes to ~4 tasks/core-wave)
        extra_conf={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    sf_name = os.path.basename(SF_DIR.rstrip("/"))

    qs = entrymod.queries()
    timings: dict[str, float] = {}

    # warm-up: a JVM action, a Python/Arrow round-trip, and one tiny
    # representative of each operator class (window, shuffle join,
    # explode) so the FIRST timed query doesn't absorb whole-stage
    # codegen compilation for everyone — timings then measure the plans,
    # not JIT warm-up (the cost lands in startup_sec, reported apart)
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(256).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    warm = spark.range(512).withColumn("g", _F.pmod("id", _F.lit(8)))
    _force(
        warm.withColumn("r", _F.row_number().over(_W.partitionBy("g").orderBy("id")))
        .withColumn("l", _F.last("id", ignorenulls=True).over(
            _W.partitionBy("g").orderBy("id")
            .rowsBetween(_W.unboundedPreceding, _W.currentRow)))
    )
    _force(warm.join(warm.groupBy("g").count(), "g"))
    _force(warm.withColumn("x", _F.explode(_F.sequence(_F.lit(0), _F.lit(3)))))

    mins: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        runs = []
        for _ in range(N_RUNS):
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            runs.append(time.monotonic() - t0)
        timings[name] = round(_median(runs), 3)
        mins[name] = round(min(runs), 3)

    pp = [bench_pages_pipeline(spark, sf_name) for _ in range(N_RUNS)]
    pages_sec, docs_per_sec, n_pages = sorted(pp)[len(pp) // 2]
    timings["pages_materialize"] = round(pages_sec, 3)
    mins["pages_materialize"] = round(min(r[0] for r in pp), 3)
    mj = [bench_materialize_job(spark, sf_name) for _ in range(N_RUNS)]
    mat_sec, mat_rows_per_sec, mat_rows = sorted(mj)[len(mj) // 2]
    timings["materialize_job"] = round(mat_sec, 3)
    mins["materialize_job"] = round(min(r[0] for r in mj), 3)

    total = round(sum(timings.values()), 3)
    wall = time.monotonic() - t_import
    out = {
        "metric": "total headline-query wall time (feast_spark engine)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": mins,
        "runs": N_RUNS,
        "sf": sf_name,
        "docs_per_sec": round(docs_per_sec, 1),
        "pages_rows": n_pages,
        "materialized_rows_per_sec": round(mat_rows_per_sec, 1),
        "materialized_rows": mat_rows,
        "cpus": CPUS,
        "cache_build_sec": round(_cache_build_sec, 3),
        "startup_sec": round(wall - N_RUNS * total - _cache_build_sec, 3),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
