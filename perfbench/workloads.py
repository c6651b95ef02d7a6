"""The benchmark's two workloads. Each drives the engine only through
its public API (``MaterializeJob.run``,
``FeatureStore.get_historical_features``, and ``FeatureServer`` over HTTP
for the ingested store), checks the answers, and returns its end-to-end
metrics:

- ``op_cpu_s``: midmean (mean of the middle half) of the CPU seconds
  the process tree spends on the workload's foreground op, less the
  hypervisor's steal share (ingest: one ``MaterializeJob.run``; training:
  one small retrieval call);
- ``rows_per_cpu_s``: rows per op over the midmean CPU seconds of one op;
  ingest: input page rows of ``MaterializeJob.run``; training: probe rows
  answered by large calls.

CPU time as counted, wall-clock latency and rows per wall second are
printed beside them.

Sizes fit a 48-run benchmark session on a 4-core host; see README.md.
"""
from __future__ import annotations

import itertools
import json
import os
import time
import urllib.request
from datetime import timedelta

import numpy as np
import pyarrow.parquet as pq

import inputs
from harness import Bench, mean

# ------------------------------------------------------------------ ingest
INGEST_URLS = 2_000  # about 7k page rows, html of 1-12 paragraphs
INGEST_BUCKETS = 8
PAGES_START, PAGES_END = "2023-11-01", "2024-03-01"  # covers datagen's 90 days
PAGE_FEATURES = [
    ("q_n_chars", "bigint"),
    ("q_n_tokens", "bigint"),
    ("q_punct_ratio", "double"),
    ("q_stopword_ratio", "double"),
]

# ---------------------------------------------------------------- training
TRAIN_URLS = 20_000  # about 70k feature rows
TRAIN_BUCKETS = 8
SMALL_PROBES = 1_000  # takes the broadcast plan with bucket pruning
LARGE_PROBES = 120_000  # above plans.retrieval.BROADCAST_PROBE_ROWS: cogroup
SMALL_SETS, LARGE_SETS = 8, 2
CALL_PATTERN = ("small", "large")
TTL_LONG, TTL_SHORT = timedelta(days=90), timedelta(days=30)
TRAIN_REFS = ["long:f_a", "short:f_b"]

# ----------------------------------------------------------------- serving
# after the ingest window the warm store is served over HTTP: reads of
# 10 Zipf(1.2) keys and 5-row pushes, checked against the store. Traced
# runs take the serving layers' per-layer metrics from these requests.
SERVE_READS = 3
READ_KEYS = 10
PUSH_ROWS = 5
HTTP_TIMEOUT_S = 120


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _write_feature_layout(b: Bench, table: inputs.FeatureTable, n_buckets: int) -> str:
    """Write the table to parquet once, then build the layout from it
    ``SETUP_REPEATS`` times; returns the last layout's root."""
    from feast_spark.sources import pages as layout

    raw = b.path("raw.parquet")
    pq.write_table(table.arrow(), raw)
    b.mark("inputs")

    def build(i: int) -> str:
        root = b.path(f"features-{i}")
        layout.write_table(
            b.spark.read.parquet(raw), root,
            ts_col="event_ts", n_buckets=n_buckets, dt_granularity="month",
        )
        return root

    return b.build_store(build)


def _standalone_latest_per_key(b: Bench, df, order: str) -> None:
    from feast_spark.operators import windows

    t0 = time.perf_counter()
    _noop(windows.latest_per_key(df, key="url", order=order))
    b.set_layer("windows.latest_per_key_s", time.perf_counter() - t0)


def _say_raw(b: Bench, name: str, st: dict, rows_name: str, rows: int,
             rows_st: dict | None = None) -> None:
    """Print the uncorrected figures of the foreground op ``st`` and the
    rows per wall second of the throughput op ``rows_st`` (default
    ``st``). They are not gated; see README.md (Noise)."""
    rows_st = rows_st or st
    n = f"n={st['n']}"
    b.say(f"{name}_cpu_raw_s", st["cpu_raw"], "s", f"midmean CPU time as counted, {n}")
    b.say(f"{name}_midmean_s", st["midmean"], "s", f"midmean wall-clock latency, {n}")
    b.say(f"{name}_p50_s", st["p50"], "s", n)
    b.say(f"{name}_tail_s", st["tail"], "s", f"{st['tail_label']}, {n}")
    b.say(f"{name}_jit_cpu_s", st["jit"], "s", f"midmean JIT compiler CPU time, {n}")
    b.say(f"{name}_steal_frac", st["steal"], "frac", f"median steal share during an op, {n}")
    b.say(rows_name, rows / rows_st["midmean"], "rows/s",
          f"{rows} rows per op over its midmean wall-clock latency, n={rows_st['n']}")


def _raw_layer_metrics(b: Bench, st: dict, rows_per_s: float) -> None:
    """The uncorrected figures of the untraced quarters of a traced run."""
    b.set_layer("wall.op_midmean_s", st["midmean"])
    b.set_layer("wall.rows_per_s", rows_per_s)
    b.set_layer("cpu.op_raw_s", st["cpu_raw"])
    b.set_layer("jvm.jit_cpu_s_per_op", st["jit"])
    b.set_layer("host.steal_frac", st["steal"])


def _per_op(b: Bench, ops, name: str) -> float:
    ids = [o.op_id for o in ops]
    return b.tracer.total(name, ops=ids) / len(ids) if ids else 0.0


def _files_per_op(b: Bench, ops) -> float:
    ids = [o.op_id for o in ops]
    files = sum(s.get("files", 0) for s in b.tracer.select("pages.plan_files", ops=ids))
    return files / len(ids) if ids else 0.0


# ======================================================================
def ingest(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from feast_spark import datagen
    from feast_spark.materialize import MaterializeJob
    from feast_spark.operators import text
    from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
    from feast_spark.sources import pages as layout

    spark = b.spark
    raw = b.path("pages-raw.parquet")
    datagen.generate_pages_distributed(
        spark, INGEST_URLS, seed=b.seed, n_partitions=8
    ).write.parquet(raw)
    b.mark("inputs")

    def build(i: int) -> str:
        root = b.path(f"pages-{i}")
        layout.write_table(
            spark.read.parquet(raw), root, n_buckets=INGEST_BUCKETS, dt_granularity="month",
        )
        return root

    root = b.build_store(build)
    n_rows = sum(f["rows"] for f in layout.current_snapshot(root)["files"])
    names = [n for n, _ in PAGE_FEATURES]
    view = FeatureView(
        "pages", Entity("url", "url"), root,
        [FeatureSpec(n, t) for n, t in PAGE_FEATURES], ttl=timedelta(days=90),
    )

    def transform(df):
        return text.extract_features_col(
            df.select("url", "warc_ts", "html")
        ).select("url", "warc_ts", *names)

    def materialize(dest: str):
        def op():
            summary = MaterializeJob(spark, view, dest, transform=transform).run(
                PAGES_START, PAGES_END
            )
            if summary["rows"] != INGEST_URLS:
                raise RuntimeError(f"served {summary['rows']} rows, want {INGEST_URLS}")
            return {"rows": n_rows}
        return op

    # the warm-up op is the checked one
    warm = b.path("store-warm")
    b.run_op("ingest", materialize(warm), timed=False)
    served = spark.read.parquet(os.path.join(warm, "data"))
    rows, urls = served.agg(F.count(F.lit(1)), F.countDistinct("url")).first()
    distinct = layout.read_table(spark, root).select(F.countDistinct("url")).first()[0]
    b.check("ingest.served_rows", rows == urls == distinct,
            f"{rows} served rows, {urls} served urls, {distinct} input urls")
    batches = [r for r in layout.list_lineage(warm) if "buckets" in r]
    b.check("ingest.lineage", bool(batches) and sum(r["rows_out"] for r in batches) == distinct,
            f"{len(batches)} batch lineage records")
    b.run_op("ingest", materialize(b.path("store-warm-2")), timed=False)

    seq = itertools.count()

    def segment(seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            dest = b.path(f"store-{next(seq)}")
            b.run_op("ingest", materialize(dest), count_jobs=True)
            b.rmtree(dest)

    b.measure(segment)

    st = b.latency_stats("ingest")
    rows_per_cpu_s = n_rows / st["cpu"]
    b.say("ingest_run_cpu_s", st["cpu"], "s",
          f"midmean CPU time of MaterializeJob.run less steal, n={st['n']}")
    b.say("ingest_rows_per_cpu_s", rows_per_cpu_s, "rows/s",
          f"{n_rows} page rows per run over its midmean CPU time")
    _say_raw(b, "ingest_run", st, "ingest_rows_per_s", n_rows)
    _serve(b, FeatureStore(spark), view, warm)

    if b.tracer is not None:
        traced = b.timed("ingest", traced=True)
        b.set_layer("pages.read_table_s", _per_op(b, traced, "pages.read_table"))
        b.set_layer("pages.files_scanned_per_op", _files_per_op(b, traced))
        b.set_layer("materialize.run_s", _per_op(b, traced, "materialize.run"))
        b.set_layer("materialize.store_bytes_per_row",
                    _dir_bytes(os.path.join(warm, "data")) / INGEST_URLS)
        b.spark_layer_metrics()
        src = layout.read_table(spark, root)
        t0 = time.perf_counter()
        _noop(text.extract_features_col(src.select("url", "warc_ts", "html")))
        b.set_layer("text.extract_rows_per_s", n_rows / (time.perf_counter() - t0))
        _standalone_latest_per_key(b, src.select("url", "warc_ts", "lang"), "warc_ts")
        _raw_layer_metrics(b, st, n_rows / st["midmean"])
    return {"op_cpu_s": st["cpu"], "rows_per_cpu_s": rows_per_cpu_s}


# ======================================================================
def _check_retrieval(table: inputs.FeatureTable, probes: dict, out_dir: str) -> tuple[bool, str, float]:
    """Compare every answered probe with the numpy as-of oracle; returns
    (ok, detail, share of probes with a long-TTL hit)."""
    out = pq.read_table(out_dir).sort_by("probe_id")
    if out.num_rows != probes["n"]:
        return False, f"{out.num_rows} rows for {probes['n']} probes", 0.0
    pid = out.column("probe_id").to_numpy()
    if not np.array_equal(pid, np.arange(probes["n"])):
        return False, "probe ids lost or duplicated", 0.0
    ids, ts = probes["ids"], probes["ts_s"]
    bad, leaks = 0, 0
    for col, fn, ttl in (("f_a", inputs.f_a, TTL_LONG), ("f_b", inputs.f_b, TTL_SHORT)):
        day = table.asof_day(ids, ts, int(ttl.total_seconds()))
        want = np.where(day >= 0, fn(ids, np.maximum(day, 0)), np.nan)
        got = out.column(col).to_numpy(zero_copy_only=False).astype(np.float64)
        same = (got == want) | (np.isnan(got) & np.isnan(want))
        bad += int((~same).sum())
        if col == "f_a":
            hit = ~np.isnan(got)
            hit_frac = float(hit.mean())
            # zero leakage: a served f_a names its event day; that event
            # must not be after the probe
            got_day = (got[hit] - ids[hit] * 1000.0).astype(np.int64)
            known = ids[hit] < table.n_urls
            ev = table.event_ts_s(ids[hit][known], got_day[known])
            leaks = int((ev > ts[hit][known]).sum()) + int((~known).sum())
    ok = bad == 0 and leaks == 0
    return ok, f"{probes['n']} probes, {bad} mismatches, {leaks} leaks", hit_frac


def training(b: Bench) -> dict:
    from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
    from feast_spark.sources import pages as layout

    spark = b.spark
    table = inputs.FeatureTable(TRAIN_URLS, b.seed, stream=1)
    root = _write_feature_layout(b, table, TRAIN_BUCKETS)
    probes = {
        "small": [
            inputs.write_probes(b.path(f"small-{i}.parquet"), SMALL_PROBES, TRAIN_URLS, b.seed, 100 + i)
            for i in range(SMALL_SETS)
        ],
        "large": [
            inputs.write_probes(b.path(f"large-{i}.parquet"), LARGE_PROBES, TRAIN_URLS, b.seed, 200 + i)
            for i in range(LARGE_SETS)
        ],
    }
    store = FeatureStore(spark)
    ent = Entity("url", "url")
    store.apply(FeatureView("long", ent, root, [FeatureSpec("f_a", "double")],
                            ttl=TTL_LONG, timestamp_field="event_ts"))
    store.apply(FeatureView("short", ent, root, [FeatureSpec("f_b", "double")],
                            ttl=TTL_SHORT, timestamp_field="event_ts"))

    def call(p: dict, sink: str | None = None):
        def op():
            out = store.get_historical_features(spark.read.parquet(p["path"]), TRAIN_REFS)
            with b.span("bench.execute"):
                if sink is None:
                    _noop(out)
                else:
                    out.write.mode("overwrite").parquet(sink)
            return {"rows": p["n"]}
        return op

    # warm-up calls of both shapes are the checked ones
    hit_frac = {}
    for shape in ("small", "large"):
        p, sink = probes[shape][0], b.path(f"answers-{shape}")
        op = b.run_op(shape, call(p, sink), timed=False)
        ok, detail, hit_frac[shape] = (
            _check_retrieval(table, p, sink) if op.ok else (False, "call failed", 0.0)
        )
        b.check(f"training.{shape}", ok, detail)
    for shape in ("small", "large"):
        b.run_op(shape, call(probes[shape][1]), timed=False)

    calls = itertools.count()
    per_shape = {"small": itertools.count(1), "large": itertools.count(1)}

    def segment(seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            shape = CALL_PATTERN[next(calls) % len(CALL_PATTERN)]
            sets = probes[shape]
            b.run_op(shape, call(sets[next(per_shape[shape]) % len(sets)]), count_jobs=True)

    b.measure(segment)

    st = b.latency_stats("small")
    large = b.latency_stats("large")
    rows_per_cpu_s = LARGE_PROBES / large["cpu"]
    b.say("retrieval_cpu_s", st["cpu"], "s",
          f"midmean CPU time of a small call of {SMALL_PROBES} probes less steal, n={st['n']}")
    b.say("training_rows_per_cpu_s", rows_per_cpu_s, "rows/s",
          f"{LARGE_PROBES} probes of a large call over its midmean CPU time, n={large['n']}")
    _say_raw(b, "retrieval", st, "training_rows_per_s", LARGE_PROBES, large)

    if b.tracer is not None:
        for shape in ("small", "large"):
            traced = b.timed(shape, traced=True)
            ids = [o.op_id for o in traced]
            b.set_layer(f"retrieval.plan_s.{shape}", _per_op(b, traced, "retrieval.plan"))
            b.set_layer(f"asof.exec_s.{shape}", _per_op(b, traced, "bench.execute"))
            picked = [s["strategy"] for s in b.tracer.select("retrieval.choose_strategy", ops=ids)]
            for strategy in ("broadcast", "cogroup", "union", "sliced"):
                b.set_layer(f"retrieval.strategy.{strategy}.{shape}",
                            picked.count(strategy) / max(len(ids), 1))
        small = b.timed("small", traced=True)
        b.set_layer("pages.read_table_s", _per_op(b, small, "pages.read_table"))
        b.set_layer("pages.files_scanned_per_op", _files_per_op(b, small))
        b.set_layer("pages.buckets_of_keys_s", _per_op(b, small, "pages.buckets_of_keys"))
        b.set_layer("pages.buckets_of_keys_calls_per_op",
                    len(b.tracer.select("pages.buckets_of_keys", ops=[o.op_id for o in small]))
                    / max(len(small), 1))
        b.set_layer("estimate.estimate_rows_s", _per_op(b, small, "estimate.estimate_rows"))
        b.set_layer("registry.get_historical_features_s",
                    _per_op(b, small, "registry.get_historical_features"))
        b.set_layer("asof.hit_frac", hit_frac["large"])
        b.spark_layer_metrics()
        _standalone_latest_per_key(b, layout.read_table(spark, root), "event_ts")
        _raw_layer_metrics(b, st, LARGE_PROBES / large["midmean"])
    return {"op_cpu_s": st["cpu"], "rows_per_cpu_s": rows_per_cpu_s}


# ======================================================================
class _Client:
    """HTTP client of the feature server."""

    def __init__(self, port: int, view: str, features: list[str]) -> None:
        self.base = f"http://127.0.0.1:{port}"
        self.view = view
        self.features = features

    def post(self, path: str, body: dict) -> bytes:
        req = urllib.request.Request(
            self.base + path, data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        # a non-200 reply raises urllib.error.HTTPError: a failed op
        with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT_S) as r:
            return r.read()

    def lookup(self, urls: list[str]) -> tuple[dict, int]:
        """Feature columns by name for ``urls``, and the response size."""
        body = self.post("/get-online-features", {
            "entities": {"url": urls},
            "features": [f"{self.view}:{f}" for f in self.features],
        })
        res = json.loads(body)
        names = res["metadata"]["feature_names"]
        if names != ["url", *self.features] or len(res["results"][1]["values"]) != len(urls):
            raise RuntimeError(f"malformed response: {names}")
        return dict(zip(names, res["results"])), len(body)

    def push(self, columns: dict) -> None:
        self.post("/push", {"push_source_name": self.view, "ts_col": "warc_ts", "df": columns})


def _serve(b: Bench, store, view, dest: str) -> None:
    """Serve the ingested store over HTTP and check the answers: reads of
    Zipf keys equal the store rows, a read after a push returns the pushed
    values, unseen keys are NOT_FOUND. Sequential, one client."""
    from feast_spark.server import FeatureServer

    names = [s.name for s in view.features]
    rows = {
        r["url"]: r
        for r in b.spark.read.parquet(os.path.join(dest, "data")).select("url", *names).collect()
    }
    urls = sorted(rows)
    zipf = inputs.ZipfKeys(len(urls), b.seed)
    rng = np.random.default_rng([b.seed, 60])
    server = FeatureServer(store, {view.name: dest}).start()
    client = _Client(server.port, view.name, names)
    got: list[dict] = []

    def read(keys):
        def op():
            cols, nbytes = client.lookup(keys)
            got.append(cols)
            return {"bytes": nbytes}
        return op

    tr = b.tracer
    if tr is not None:
        tr.enabled = True
        b.counter.take()  # count the serving requests on their own
        start = tr.now()
    try:
        reads = [[urls[i] for i in zipf.draw(rng, READ_KEYS)] for _ in range(SERVE_READS)]
        read_ops = [b.run_op("read", read(keys), timed=False, count_jobs=True) for keys in reads]
        ok = all(o.ok for o in read_ops)
        b.check("serve.reads_equal_store", ok and all(
            cols[f]["values"] == [rows[k][f] for k in keys]
            for cols, keys in zip(got, reads) for f in names
        ), f"{SERVE_READS} reads of {READ_KEYS} keys")

        keys = sorted({urls[i] for i in zipf.draw(rng, PUSH_ROWS)})
        pushed = {
            "url": keys,
            "warc_ts": ["2024-06-01T00:00:00"] * len(keys),  # after every page
            **{f: [rows[k][f] + 1 for k in keys] for f in names},  # every store column
        }
        push_ok = b.run_op("push", lambda: client.push(pushed), timed=False, count_jobs=True).ok
        got.clear()
        read_ops.append(b.run_op("read", read(keys), timed=False))
        b.check("serve.read_after_push", push_ok and read_ops[-1].ok and all(
            got[0][f]["values"] == pushed[f] for f in names
        ), f"{len(keys)} pushed keys read back")

        got.clear()
        read_ops.append(b.run_op(
            "read", read([f"https://unseen.example/p/{i}" for i in range(READ_KEYS)]), timed=False
        ))
        b.check("serve.unseen_not_found", read_ops[-1].ok and all(
            s == "NOT_FOUND" for f in names for s in got[0][f]["statuses"]
        ), f"{READ_KEYS} unseen keys")
    finally:
        server.stop()
        if tr is not None:
            tr.enabled = False
    if tr is None:
        return

    window = [(start, tr.now())]
    n_reads, n_push = len(read_ops), 1

    def per(name: str, k: int) -> float:
        return tr.total(name, windows=window) / k

    b.set_layer("materialize.read_online_s", per("materialize.read_online", n_reads))
    b.set_layer("materialize.infer_store_ts_col_s", per("materialize.infer_store_ts_col", n_reads))
    b.set_layer("registry.get_online_features_s", per("registry.get_online_features", n_reads))
    b.set_layer("server.overhead_s",
                mean(o.latency for o in read_ops) - per("server.get_online_features", n_reads))
    b.set_layer("pages.buckets_of_keys_s", per("pages.buckets_of_keys", n_reads))
    b.set_layer("pages.buckets_of_keys_calls_per_op",
                len(tr.select("pages.buckets_of_keys", windows=window)) / n_reads)
    b.set_layer("server.response_bytes_per_read", mean(o.nbytes for o in read_ops))
    b.set_layer("materialize.push_to_online_s", per("materialize.push_to_online", n_push))
    b.set_layer("materialize.buckets_touched_per_push",
                mean(s["buckets"] for s in tr.select("materialize.push_to_online", windows=window)))


WORKLOADS = {"ingest": ingest, "training": training}
PRIMARY_OP = {"ingest": "ingest", "training": "small"}
