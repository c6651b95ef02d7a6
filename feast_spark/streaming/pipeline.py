"""Structured Streaming operators (SURVEY.md §2.10, T1-T5).

Upstream lineage: Feast's stream-ingestion path
(``infra/contrib/spark_kafka_processor.py`` — Kafka → transform →
online-store writer; local reference is a stub, SURVEY.md §0.1). Here the
source is pluggable: Kafka in production, a file stream in this sandbox
(same DataFrame surface — only ``readStream.format`` differs).

Design rules:
- event time is the page's ``warc_ts``; every stateful op watermarks on
  it (T1) so state is bounded and late data beyond the watermark drops;
- every streaming aggregate has a batch twin in ``operators.windows``
  and the tests assert replay equivalence (SURVEY.md §5.2.7);
- the online-store sink merges each micro-batch into its keys' buckets
  via ``foreachBatch`` through the SAME ``materialize._merge_into_store``
  as a push and batch materialization — one code path for serving
  writes (T4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(
    spark: SparkSession,
    path: str,
    *,
    schema: str = PAGES_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S5: file-based page stream (sandbox stand-in for Kafka; on a real
    cluster swap for ``readStream.format("kafka")`` + value decoding)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def with_watermark(
    df: DataFrame, ts_col: str = "warc_ts", delay: str = "1 hour"
) -> DataFrame:
    """T1: bound state; events later than ``delay`` behind the max seen
    event time are dropped from stateful ops."""
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, delay
    )


def tumbling_counts(
    df: DataFrame,
    *,
    ts_col: str = "warc_ts",
    key: str = "lang",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """T2: per-window, per-key counts (sliding when ``slide`` given).
    Batch twin: groupBy(F.window(...)) on the same frame."""
    s = with_watermark(df, ts_col, watermark)
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return s.groupBy(win.alias("w"), F.col(key)).agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        key,
        "n",
    )


def session_windows(
    df: DataFrame,
    *,
    key: str = "url",
    ts_col: str = "warc_ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """T3: gap-based sessions via the native ``session_window`` operator —
    the streaming twin of operators.windows.session_stats (W6); replay
    equivalence is the key test (SURVEY.md §5.2.7)."""
    s = with_watermark(df, ts_col, watermark)
    return s.groupBy(
        F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key)
    ).agg(
        F.min(ts_col).alias("sess_start"),
        F.max(ts_col).alias("sess_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(key, "sess_start", "sess_end", "n_events")


def stream_dedupe(
    df: DataFrame,
    *,
    keys: tuple[str, ...] = ("url", "warc_ts"),
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """T5: drop duplicate (url, warc_ts) events within the watermark —
    ingestion hygiene (batch twin: dropDuplicates)."""
    s = with_watermark(df, ts_col, watermark)
    return s.dropDuplicatesWithinWatermark(list(keys))


def stream_latest_to_online(
    stream_df: DataFrame,
    dest: str,
    *,
    key: str = "url",
    ts_col: str = "warc_ts",
    n_buckets: int = 16,
    checkpoint: str | None = None,
    transform=None,
):
    """T4: stateful latest-per-key → online-store upsert via
    ``foreachBatch``. Each micro-batch lands the way a push does, through
    ``materialize._merge_into_store``: its keys take the store's key
    dtypes and only the buckets they hash to are rewritten, so streaming
    and batch serving stores are byte-compatible and an empty micro-batch
    commits nothing. Rows with a NULL event time are dropped, as a
    materialization's range filter drops them. ``transform`` keeps
    ``MaterializeJob``'s contract: it sees each key's latest rows of the
    micro-batch. Returns the started StreamingQuery (caller awaits)."""
    from feast_spark.materialize import _merge_into_store
    from feast_spark.operators.windows import latest_candidates

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        df = batch_df.withColumn(
            ts_col, F.col(ts_col).cast("timestamp")
        ).filter(F.col(ts_col).isNotNull())
        if transform is not None:
            df = transform(latest_candidates(df, key=key, order=ts_col))
        _merge_into_store(
            batch_df.sparkSession, dest, df, None,
            key_cols=[key], ts_col=ts_col, created_col=None,
            n_buckets=n_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(upsert).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def stream_agg_to_online(
    stream_df: DataFrame,
    view,
    dest: str,
    *,
    history_root: str,
    n_buckets: int = 16,
    checkpoint: str | None = None,
):
    """Streaming twin of AGGREGATED materialization (upstream stream
    feature views are where Aggregation specs live; the contrib Spark
    processor materializes them). Spark's stateful streaming aggregation
    can't express per-anchor trailing windows, so state lives in a TABLE,
    not stream state: each micro-batch

    1. appends its raw rows to a layout-backed history table (snapshot /
       CAS commit machinery — replayable, time-travelable), then
    2. re-materializes the anchor span ``[batch_min, batch_max +
       max_agg_window)`` from that table through the SAME
       ``MaterializeJob`` as batch — the scan auto-widens by the window,
       derived aggregates are computed before the range filter, and the
       latest-per-key upsert touches only affected buckets.

    The +window upper pad makes cross-batch event-time disorder correct
    itself: a late row changes the aggregates of every anchor within its
    trailing window's reach, and all such anchors fall inside the
    recompute span, so previously-served values are overwritten with
    corrected ones. A LIFETIME (unbounded) aggregation window has no
    finite reach — a late row shifts every anchor AFTER it — so there
    the span extends through the newest anchor in HISTORY, not just the
    batch (r04 review), and the per-batch scan is O(history); prefer
    bounded windows on streams. Streaming and batch serving stores are
    byte-compatible by construction (pinned by test).

    Exactly-once across crashes: each micro-batch's history append
    commits with a ``{stream_batch, stream_fp}`` snapshot summary —
    atomic with the commit — so a replay (same batch_id, crash before
    the checkpoint committed) finds its marker, skips the append, and
    re-runs only the idempotent lineage-keyed materialization. A marker
    whose content fingerprint does NOT match the replayed batch means a
    FRESH checkpoint was pointed at an existing history table (batch
    ids restarted); that silently double-counts, so it raises instead.
    Returns the started StreamingQuery (caller awaits)."""
    import dataclasses
    import datetime as _dt

    from feast_spark.materialize import MaterializeJob
    from feast_spark.sources import pages as layout
    from feast_spark.sources.pages import write_table

    if not getattr(view, "aggregations", None):
        raise ValueError("stream_agg_to_online needs a view with aggregations")
    ts = view.timestamp_field
    keys = view.join_keys
    if not keys:
        raise ValueError("stream_agg_to_online needs an entity-keyed view")
    unbounded = any(a.time_window is None for a in view.aggregations)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df = batch_df.withColumn(ts, F.col(ts).cast("timestamp"))
        # bounds + order-independent content fingerprint in ONE pass.
        # xor alone is blind to rows repeated an EVEN number of times
        # ([r1,r1] and [r2,r2] both xor to 0 — r04 review batch 3), so
        # the multiset sum of hashes rides along (decimal(38,0): no
        # ANSI overflow until ~10^19 rows)
        row_hash = F.xxhash64(*[F.col(c) for c in batch_df.columns])
        stats = batch_df.withColumn("__h", row_hash).agg(
            F.min(ts).alias("lo"),
            F.max(ts).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(__h)").alias("xr"),
            F.sum(F.col("__h").cast("decimal(38,0)")).alias("sm"),
        ).first()
        if stats["lo"] is None:
            return
        fp = f'{stats["n"]}:{stats["xr"]}:{stats["sm"]}'
        prior = (
            layout.snapshot_with_summary(
                history_root, "stream_batch", str(batch_id)
            )
            if layout.is_table(history_root)
            else None
        )
        if prior is not None:
            prior_fp = prior["summary"].get("stream_fp") or ""
            # markers written before the multiset-sum term carry the
            # two-segment 'n:xr' format — compare on the common prefix
            # so upgrading does not misdiagnose a legitimate crash
            # replay as a reset checkpoint (r04 review batch 4)
            n_seg = prior_fp.count(":") + 1
            if prior_fp != ":".join(fp.split(":")[:n_seg]):
                raise RuntimeError(
                    f"history table {history_root} already ingested a "
                    f"batch {batch_id} with different contents — a fresh "
                    "checkpoint restarted batch numbering against an "
                    "existing history table; use a new history_root or "
                    "keep the original checkpoint"
                )
            # pure replay: append committed before the crash; fall
            # through to the idempotent materialization only
        else:
            write_table(
                batch_df, history_root, key_col=keys[0], ts_col=ts,
                n_buckets=n_buckets, mode="append",
                properties={"stream_batch": str(batch_id), "stream_fp": fp},
            )
        if unbounded:
            head = layout.current_snapshot(history_root)
            his = [f.get("max_ts") for f in head["files"]]
            # footer stats are trustworthy only when EVERY file carries
            # them: a stats-less file may hold the newest anchor, and
            # max over the stat-bearing subset would underestimate the
            # recompute bound, leaving that anchor stale (r04 review
            # batch 3) — fall back to one scan instead
            if his and all(h is not None for h in his):
                hi = layout.naive_utc(max(his))
            else:
                hi = (
                    layout.read_table(spark, history_root)
                    .agg(F.max(F.col(ts).cast("timestamp")))
                    .first()[0]
                )
        else:
            hi = stats["hi"] + view.max_agg_window
        hview = dataclasses.replace(view, source=history_root)
        MaterializeJob(
            spark, hview, dest, n_buckets=n_buckets, bucket_batch=n_buckets,
        ).run(stats["lo"], hi + _dt.timedelta(seconds=1))

    writer = stream_df.writeStream.foreachBatch(fold).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def _root_parquet(spark, path: str) -> list[str]:
    """Names of the parquet files directly under ``path``, listed through
    Hadoop's ``FileSystem`` so a URI (``file://``, ``s3a://``, …) is
    probed like a local path; [] when ``path`` does not exist."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    return [
        n for n in (st.getPath().getName() for st in fs.listStatus(p))
        if n.endswith(".parquet")
    ]


def stream_enrich_pit(
    probe_stream: DataFrame,
    store,
    features: list[str],
    dest: str,
    *,
    ts_col: str = "ts",
    dedupe_keys: tuple[str, ...] | None = None,
    watermark: str = "1 hour",
    checkpoint: str | None = None,
    strategy: str | None = "broadcast",
    full_feature_names: bool = False,
):
    """Stream-batch PIT enrichment (VERDICT r03 next #4): as-of join a
    stream of entity probes against the offline feature views — the
    streaming twin of ``get_historical_features``, the shape upstream's
    stream processor uses to enrich events against the offline store.

    Each micro-batch runs the SAME retrieval planner as batch
    (``plans.retrieval.plan_retrieval`` inside ``foreachBatch``), so
    manifest pruning, TTL semantics and tie-breaks are one code path;
    results land in a parquet ``dest`` partitioned by ``__batch`` via
    DYNAMIC partition overwrite — a replayed micro-batch (crash between
    the parquet write and the checkpoint commit) rewrites only its own
    partition instead of appending duplicates. Exactly-once therefore
    holds under the SAME checkpoint (replays reuse batch ids); a RESET
    checkpoint re-batches from 0 and must write to a fresh ``dest`` —
    the same contract as Spark's own file sink and its _spark_metadata
    log. Downstream readers see ``__batch`` as a partition column in
    the output schema. A ``dest`` holding flat parquet files at its
    root — written, or once resumed, by the pre-``__batch`` code — is
    refused up front (ADVICE r04): flat files mixed with ``__batch=``
    directories break partition discovery and silently change the
    output schema — point the resumed stream at a fresh ``dest``. Probes watermark on ``ts_col``
    and, when ``dedupe_keys`` is given, duplicate probes within the
    watermark are dropped BEFORE enrichment — the only stateful piece,
    and its state is watermark-bounded (T1).

    ``strategy`` defaults to ``broadcast``: a micro-batch is bounded by
    the trigger (maxFilesPerTrigger / Kafka batch size), exactly the
    small-probe regime; pass None to let the planner's zero-job
    estimator decide (an in-memory micro-batch is unestimable, so auto
    routes to the unbounded-safe strategy). Returns the started
    StreamingQuery (caller awaits)."""
    from feast_spark.plans.retrieval import plan_retrieval

    # refuse a legacy unpartitioned dest before starting the stream
    # (ADVICE r04): mixing flat root files with __batch= partition dirs
    # breaks partition discovery for every downstream reader. ANY flat
    # root parquet is disqualifying — including a dest that already
    # mixes flat files with __batch= dirs (resumed once by pre-guard
    # code): appending more partitions doesn't unbreak partition
    # discovery for downstream readers (r05 review)
    if _root_parquet(probe_stream.sparkSession, dest):
        raise ValueError(
            f"dest {dest!r} holds unpartitioned parquet at its root "
            "(written by a pre-__batch version of stream_enrich_pit); "
            "mixing flat files with __batch= partition directories "
            "breaks partition discovery — use a fresh dest (the "
            "reset-checkpoint contract)"
        )

    s = with_watermark(probe_stream, ts_col, watermark)
    if dedupe_keys:
        s = s.dropDuplicatesWithinWatermark(list(dedupe_keys))
    if ts_col != "ts":
        s = s.withColumnRenamed(ts_col, "ts")

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = plan_retrieval(
            store, batch_df, features,
            full_feature_names=full_feature_names, strategy=strategy,
        )
        (
            out.withColumn("__batch", F.lit(batch_id))
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .mode("overwrite")
            .parquet(dest)
        )

    writer = s.writeStream.foreachBatch(enrich).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def stateful_crawl_stats(
    df: DataFrame,
    *,
    key: str = "url",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator (T4 via
    ``applyInPandasWithState``): per-key running crawl count + first/last
    event time, updated each micro-batch, state kept in the Spark state
    store. Emits one row per key per batch in which the key appeared.

    Batch twin for the equivalence test: ``groupBy(key).agg(count,
    min(ts), max(ts))`` — after a full replay the LAST emitted row per
    key must equal the batch aggregate.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} string, n_crawls long, first_ts timestamp, last_ts timestamp"
    )
    state_schema = "n long, first_us long, last_us long"

    def update(keytup, pdfs, state: GroupState):
        import pandas as pd

        n, first_us, last_us = (
            state.get if state.exists else (0, None, None)
        )
        for pdf in pdfs:
            ts_us = pd.to_datetime(pdf[ts_col]).astype("int64") // 1000
            n += len(pdf)
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, first_us, last_us))
        yield pd.DataFrame(
            {
                key: [keytup[0]],
                "n_crawls": [n],
                "first_ts": [pd.to_datetime(first_us, unit="us")],
                "last_ts": [pd.to_datetime(last_us, unit="us")],
            }
        )

    s = with_watermark(df, ts_col, watermark)
    return s.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream interval join (the attribution shape: attach each
    right-stream event to same-key left-stream events it follows within
    ``within``). Both sides carry watermarks and the join condition
    bounds event-time distance, so Spark can size and EXPIRE the
    buffered state on both sides — the requirement for unbounded
    stream-stream inner joins (T-coverage beyond stream-static enrich).

    Right-side columns are prefixed (``right_prefix``) except the join
    key, so self-joins of one logical stream work. Batch twin: the same
    interval equi-join as a plain SQL join — replay equivalence is the
    driver check."""
    l = with_watermark(left, left_ts, watermark)
    r = with_watermark(right, right_ts, watermark)
    r = r.select(
        F.col(key),
        *[
            F.col(c).alias(f"{right_prefix}{c}")
            for c in right.columns
            if c != key
        ],
    )
    rts = f"{right_prefix}{right_ts}"
    cond = (
        (l[key] == r[key])
        & (F.col(rts) >= F.col(left_ts))
        & (F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def stream_changed_rows(
    df: DataFrame,
    *,
    key: str = "url",
    ts_col: str = "warc_ts",
    value_cols: list[str],
    watermark: str = "1 hour",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Change-data suppression for online upserts, on Spark 4's
    arbitrary-state API (``transformWithStateInPandas`` +
    ``ValueState``): emit a row only when the key's value tuple differs
    from the last emitted one, so unchanged re-crawls never touch the
    serving store (upsert write amplification ∝ actual changes, not
    crawl volume). ``state_ttl_ms`` bounds state for keys that go quiet
    (the state-store TTL is native to this API — the reason to use it
    over ``applyInPandasWithState`` here).

    Rows are compared via a deterministic per-row content hash; within a
    micro-batch rows process in ``ts_col`` order. Cross-batch ordering
    follows arrival (standard streaming CDC semantics): with in-order
    arrival the full replay equals the batch twin — rows whose value
    tuple differs from ``lag()`` over (key, ts) — which is what
    tests/test_streaming.py pins on a single-batch replay.

    Capability guard: ``transformWithStateInPandas``'s worker protocol
    needs ``google.protobuf``, absent from this sandbox — when the
    import fails the operator falls back to ``applyInPandasWithState``
    with IDENTICAL emission semantics (the TTL knob is then a no-op,
    documented; state lives until the query ends). Same honest-stub
    pattern as the multimodal codecs / avro decode.
    """
    import pandas as pd

    out_cols = [key, ts_col, *value_cols]
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in out_cols
    )

    def _emit(pdf: pd.DataFrame, prev: int | None):
        """Shared emission core: rows whose value-hash differs from the
        last emitted; returns (kept frame, new state hash)."""
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        hashes = pd.util.hash_pandas_object(
            pdf[value_cols], index=False
        ).astype("int64")
        keep = []
        for h in hashes:
            changed = prev is None or int(h) != prev
            keep.append(changed)
            if changed:
                prev = int(h)
        return pdf.loc[keep, out_cols], prev

    try:
        import google.protobuf  # noqa: F401 — worker-side requirement
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
    except ImportError:
        return _changed_rows_fallback(
            df, key=key, ts_col=ts_col, out_schema=out_schema,
            watermark=watermark, emit=_emit,
        )

    class ChangeFilter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState(
                "last_hash", "h long", ttlDurationMs=state_ttl_ms
            )

        def handleInputRows(self, key_tup, rows, timer_values):
            pdf = pd.concat(list(rows), ignore_index=True)
            prev = self._last.get()[0] if self._last.exists() else None
            out, prev = _emit(pdf, prev)
            if prev is not None:
                self._last.update((prev,))
            if len(out):
                yield out

        def close(self) -> None:
            pass

    s = with_watermark(df, ts_col, watermark)
    return s.groupBy(key).transformWithStateInPandas(
        ChangeFilter(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )


def _changed_rows_fallback(df, *, key, ts_col, out_schema, watermark, emit):
    """applyInPandasWithState twin of ``stream_changed_rows`` — same
    emission semantics, older state API (no native TTL)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key_tup, pdfs, state: GroupState):
        prev = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        out, prev = emit(pdf, prev)
        if prev is not None:
            state.update((prev,))
        if len(out):
            yield out

    s = with_watermark(df, ts_col, watermark)
    return s.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="h long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(df: DataFrame, name: str, *, complete: bool = True):
    """Test helper: drain an availableNow stream into an in-memory table
    and block until done."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if complete else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
