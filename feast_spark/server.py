"""HTTP feature server — the REST serving surface over the online store.

Upstream provenance: feast/feature_server.py (``feast serve``) exposes
``POST /get-online-features``, ``POST /push``,
``POST /retrieve-online-documents`` and ``GET /health`` over the online
store; this module mirrors that JSON protocol (SURVEY §2 S7 — the
serving-API layer VERDICT r04 named as the largest remaining
upstream-surface delta) on top of the engine's Python serving API
(``FeatureStore.get_online_features`` / ``push`` /
``retrieve_online_documents``). Stdlib ``http.server`` only — no web
framework exists in this container, and a feature server's hot path is
the store lookup, not the HTTP parsing.

Scale shape: the driver IS the server (upstream runs the same way — a
Python process holding the store handle). Every request is bounded by
its own entity list / top_k, so the per-request ``collect()`` is the
point-lookup result itself, never a corpus scan; the store read
underneath prunes to the probed keys' bucket files of one store
snapshot (``read_online``), so a concurrent push never removes a file
a read has planned. Concurrency rides ``ThreadingHTTPServer`` — Spark
job submission is thread-safe, and independent point lookups schedule
independently. Each connection gets a thread, so at most
``MAX_CONCURRENT_REQUESTS`` POST requests run at once; one over the
bound waits up to ``SLOT_WAIT_S`` for a slot, and is then answered 503
with ``Retry-After`` before it starts any Spark job. ``/health`` is not
bounded.

Response protocol (upstream feature-server JSON): ``results`` is a
COLUMNAR list paired 1:1 with ``metadata.feature_names``; each entry
carries ``values`` / ``statuses`` / ``event_timestamps`` ordered like
the request's entity rows. Statuses follow upstream's FieldStatus:
``PRESENT``, ``NULL_VALUE``, ``NOT_FOUND``, ``OUTSIDE_MAX_AGE``. One
documented divergence: upstream may return the stale value alongside
OUTSIDE_MAX_AGE; this engine's contract is that expired rows are never
served (read_online ttl semantics, vector_ttl_enrich), so expired
features return ``null`` values WITH the OUTSIDE_MAX_AGE status.
"""
from __future__ import annotations

import json
import threading
from datetime import date, datetime, timedelta
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import Row

__all__ = ["FeatureServer"]

#: POST requests one server handles at once; each can start Spark jobs.
#: Lookup throughput stops growing at 3-4 requests in flight, on
#: local[2] and local[4] alike (job scheduling in this process, not the
#: core count, is the limit); more in flight only adds latency. 8 is
#: twice that.
MAX_CONCURRENT_REQUESTS = 8
#: seconds a request over the bound waits for a slot before its 503
SLOT_WAIT_S = 30


def _jsonable(v: Any) -> Any:
    """JSON-safe value: dates and timestamps → ISO strings, decimals →
    floats, numpy → native, struct rows → objects."""
    if isinstance(v, date):  # datetime too
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    if isinstance(v, Row):
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


class FeatureServer:
    """Serve one or more materialized online stores over HTTP.

    ``stores`` maps view name → online-store path (the ``dest`` of its
    materialization); feature refs in requests are ``view:feature``
    (or bare ``feature`` when the server holds a single store).
    ``store`` is the FeatureStore whose registry resolves ODFVs and
    vector indexes for /retrieve-online-documents.
    """

    def __init__(
        self,
        store,
        stores: dict[str, str],
        *,
        host: str = "127.0.0.1",
        port: int = 0,
    ) -> None:
        self.store = store
        self.stores = dict(stores)
        self._slots = threading.BoundedSemaphore(MAX_CONCURRENT_REQUESTS)
        self._httpd = ThreadingHTTPServer(
            (host, port), _make_handler(self)
        )
        self.host, self.port = self._httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    # -- lifecycle ----------------------------------------------------
    def start(self) -> "FeatureServer":
        """Serve on a daemon thread; returns self (``.port`` is bound)."""
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)

    def serve_forever(self) -> None:
        """Blocking serve (the ``feast serve`` shape)."""
        self._httpd.serve_forever()

    # -- request handlers (bounded work per request) --------------------
    def _resolve_refs(
        self, refs: list[str]
    ) -> tuple[str, str, list[str]]:
        """(view, store_path, feature_cols) from ``view:feature`` refs.
        All refs must target one view per request (upstream groups by
        view internally; one store per request keeps the lookup a
        single bucket-pruned read)."""
        views = {r.split(":", 1)[0] for r in refs if ":" in r}
        if not views and len(self.stores) == 1:
            view = next(iter(self.stores))
        elif len(views) == 1:
            view = next(iter(views))
        else:
            raise ValueError(
                f"refs {refs} must name exactly one view (got {sorted(views)})"
            )
        if view not in self.stores:
            raise ValueError(
                f"no online store registered for view {view!r} "
                f"(have {sorted(self.stores)})"
            )
        feats = [r.split(":", 1)[1] if ":" in r else r for r in refs]
        return view, self.stores[view], feats

    def get_online_features(self, body: dict) -> dict:
        """POST /get-online-features — upstream request/response shape."""
        entities: dict[str, list] = body["entities"]
        refs: list[str] = body["features"]
        full = bool(body.get("full_feature_names", False))
        view, store_path, feats = self._resolve_refs(refs)
        ttl = (
            timedelta(seconds=body["ttl_seconds"])
            if body.get("ttl_seconds") is not None
            else None
        )
        now = body.get("now")

        if not entities or not all(entities.values()):
            raise ValueError(
                "entities must map each key column to a non-empty value list"
            )
        key_cols = list(entities.keys())
        n = len(next(iter(entities.values())))
        if any(len(v) != n for v in entities.values()):
            raise ValueError("entity value lists must share one length")
        keys = (
            list(entities[key_cols[0]])
            if len(key_cols) == 1
            else [tuple(entities[c][i] for c in key_cols) for i in range(n)]
        )

        # serve WITHOUT the ttl filter, then stamp per-row expiry — the
        # engine never serves an expired value (nulls + OUTSIDE_MAX_AGE),
        # but the status must distinguish expired from absent
        served = self.store.get_online_features(
            store_path,
            keys,
            key_col=key_cols[0],
            key_cols=key_cols if len(key_cols) > 1 else None,
            odfvs=body.get("odfvs"),
        )
        rows = {  # bounded: one row per requested entity, by key tuple
            tuple(r[c] for c in key_cols): r.asDict()
            for r in served.collect()
        }
        # the STORE's snapshot decides the event-time column — never
        # the served (post-ODFV) frame, whose derived timestamp columns
        # would change the answer (r05 review batch 2; the column
        # read_online expires on)
        from feast_spark.materialize import infer_store_ts_col

        ts_col = infer_store_ts_col(store_path)
        cutoff = None
        if ttl is not None:
            if now is None:
                raise ValueError("ttl_seconds needs an explicit `now`")
            if ts_col is None:
                # never silently serve stale rows as PRESENT (r05
                # review) — same refusal read_online makes
                raise ValueError(
                    f"the serving store at {store_path} records no "
                    "event-time column, so ttl expiry cannot apply"
                )
            cutoff = datetime.fromisoformat(now) - ttl

        names = [f"{view}__{f}" if full else f for f in feats]
        out_names = key_cols + names
        cols: list[dict] = []
        for c in key_cols:  # entity columns echo back PRESENT
            cols.append(
                {
                    "values": [_jsonable(entities[c][i]) for i in range(n)],
                    "statuses": ["PRESENT"] * n,
                    "event_timestamps": [None] * n,
                }
            )
        for f in feats:
            values, statuses, stamps = [], [], []
            for i in range(n):
                kt = tuple(
                    entities[c][i] for c in key_cols
                )
                row = rows.get(kt)
                ts = row.get(ts_col) if row and ts_col else None
                if row is None:
                    values.append(None)
                    statuses.append("NOT_FOUND")
                    stamps.append(None)
                elif cutoff is not None and (ts is None or ts <= cutoff):
                    # expired rows never serve values; a NULL event time
                    # under ttl is unservable too — read_online's filter
                    # (ts > cutoff) drops such rows, and PRESENT here
                    # would serve them forever (r05 review batch 2)
                    values.append(None)
                    statuses.append("OUTSIDE_MAX_AGE")
                    stamps.append(_jsonable(ts))
                else:
                    v = row.get(f)
                    values.append(_jsonable(v))
                    statuses.append(
                        "PRESENT" if v is not None else "NULL_VALUE"
                    )
                    stamps.append(_jsonable(ts))
            cols.append(
                {
                    "values": values,
                    "statuses": statuses,
                    "event_timestamps": stamps,
                }
            )
        return {"metadata": {"feature_names": out_names}, "results": cols}

    def push(self, body: dict) -> dict:
        """POST /push — upstream PushSource: land fresh rows straight in
        the online store (merges latest-per-key into touched buckets)."""
        view = body.get("push_source_name") or body.get("view")
        if view not in self.stores:
            raise ValueError(f"unknown push target {view!r}")
        df_cols: dict[str, list] = body["df"]
        if not df_cols or not all(df_cols.values()):
            raise ValueError(
                "df must map each column to a non-empty value list"
            )
        n_rows = len(next(iter(df_cols.values())))
        if any(len(v) != n_rows for v in df_cols.values()):
            raise ValueError("df column value lists must share one length")
        pdf_rows = [
            {c: vals[i] for c, vals in df_cols.items()}
            for i in range(len(next(iter(df_cols.values()))))
        ]
        ts_col = body.get("ts_col", "warc_ts")
        if ts_col not in df_cols:
            raise ValueError(f"df has no event-time column {ts_col!r}")
        sdf = self.store.spark.createDataFrame(pdf_rows)
        from pyspark.sql import functions as F

        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        summary = self.store.push(self.stores[view], sdf, ts_col=ts_col)
        return {"status": "ok", **{k: _jsonable(v) for k, v in summary.items()}}

    def retrieve_online_documents(self, body: dict) -> dict:
        """POST /retrieve-online-documents — vector top-k (+ optional
        store enrichment under TTL)."""
        view = body["view"]
        kw: dict = {"top_k": int(body.get("top_k", 10))}
        if body.get("features"):
            kw["features"] = body["features"]
            kw["store_path"] = self.stores.get(view)
        if body.get("ttl_seconds") is not None:
            kw["ttl"] = timedelta(seconds=body["ttl_seconds"])
            kw["now"] = (
                datetime.fromisoformat(body["now"])
                if body.get("now")
                else None
            )
        res = self.store.retrieve_online_documents(
            view, [float(x) for x in body["query"]], **kw
        )
        rows = [
            {k: _jsonable(v) for k, v in r.asDict().items()}
            for r in res.collect()  # bounded: top_k rows
        ]
        return {"results": rows}


def _make_handler(server: FeatureServer):
    routes = {
        "/get-online-features": server.get_online_features,
        "/push": server.push,
        "/retrieve-online-documents": server.retrieve_online_documents,
    }

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet: tests assert on responses
            pass

        def _reply(
            self, code: int, payload: dict, headers: dict | None = None
        ) -> None:
            data = json.dumps(payload).encode()
            self.send_response(code)
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):  # noqa: N802 — http.server API
            if self.path == "/health":
                self._reply(200, {"status": "ok"})
            else:
                self._reply(404, {"error": f"no route {self.path}"})

        def do_POST(self):  # noqa: N802
            fn = routes.get(self.path)
            if fn is None:
                self._reply(404, {"error": f"no route {self.path}"})
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(n)
            except ValueError as e:
                self._reply(400, {"error": str(e)})
                return
            if not server._slots.acquire(timeout=SLOT_WAIT_S):
                self._reply(
                    503,
                    {"error": f"over {MAX_CONCURRENT_REQUESTS} concurrent "
                              f"requests for {SLOT_WAIT_S} s; retry later"},
                    {"Retry-After": "1"},  # seconds
                )
                return
            try:
                self._reply(200, fn(json.loads(raw or b"{}")))
            except (KeyError, ValueError, TypeError) as e:
                self._reply(400, {"error": str(e)})
            except Exception as e:  # surface, don't kill the thread
                self._reply(500, {"error": f"{type(e).__name__}: {e}"})
            finally:
                server._slots.release()

    return Handler
