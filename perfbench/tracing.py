"""In-memory span tracing around the engine's public functions.

The traced run wraps each layer's public entry points at import time (the
engine's files are not edited). A span is (name, start, end, parent, op
id, thread); spans stay in memory and are written out once at the end.
Spans opened on the feature server's handler threads have no op id.

Lazily built DataFrames make some spans plan-construction time only; the
benchmark times the executing action in its own span (``bench.execute``).
"""
from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        #: spans are recorded only while enabled; the traced run toggles
        #: it to time traced and untraced ops side by side
        self.enabled = True
        self._t0 = time.perf_counter()
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def _stack(self) -> list:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def set_op(self, op_id: int | None) -> None:
        self._tls.op = op_id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": getattr(self._tls, "op", None),
            "thread": threading.get_ident(),
            "start": time.perf_counter() - self._t0,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper;
        ``attrs(result)`` adds fields to the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if attrs is not None:
                    rec.update(attrs(out))
                return out

        setattr(owner, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    def now(self) -> float:
        return time.perf_counter() - self._t0

    # -- queries ---------------------------------------------------------
    def select(self, name: str, *, ops=None, windows=None) -> list[dict]:
        """Spans called ``name`` that benchmark ops ``ops`` (op ids)
        opened, or, with ``windows``, that opened without an op (server
        handler threads) inside one of those (start, end) intervals."""
        with self._lock:
            spans = [s for s in self.spans if s["name"] == name]
        if ops is not None:
            ops = set(ops)
            return [s for s in spans if s["op"] in ops]
        return [
            s for s in spans
            if s["op"] is None and any(a <= s["start"] < b for a, b in windows)
        ]

    def total(self, name: str, **kw) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, **kw))


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark drives.
    Names bound by ``from … import`` at module import are patched where
    they are bound (``materialize.latest_per_key``,
    ``plans.retrieval.asof_join``)."""
    from feast_spark import estimate, materialize, registry, server
    from feast_spark.operators import text
    from feast_spark.plans import retrieval
    from feast_spark.sources import pages

    w = tracer.wrap
    w(pages, "write_table", "pages.write_table")
    w(pages, "read_table", "pages.read_table")
    w(pages, "plan_files", "pages.plan_files", lambda out: {"files": len(out[1])})
    w(pages, "buckets_of_keys", "pages.buckets_of_keys")
    w(estimate, "estimate_rows", "estimate.estimate_rows")
    w(retrieval, "plan_retrieval", "retrieval.plan")
    w(retrieval, "choose_strategy", "retrieval.choose_strategy", lambda out: {"strategy": out})
    w(retrieval, "asof_join", "asof.asof_join")
    w(text, "extract_features_col", "text.extract_features_col")
    w(materialize, "latest_per_key", "windows.latest_per_key")
    w(materialize.MaterializeJob, "run", "materialize.run")
    w(materialize, "read_online", "materialize.read_online")
    w(materialize, "infer_store_ts_col", "materialize.infer_store_ts_col")
    w(
        materialize, "push_to_online", "materialize.push_to_online",
        lambda out: {"buckets": len(out["buckets_touched"])},
    )
    w(registry.FeatureStore, "get_historical_features", "registry.get_historical_features")
    w(registry.FeatureStore, "get_online_features", "registry.get_online_features")
    w(registry.FeatureStore, "push", "registry.push")
    # FeatureServer binds its handler routes at construction: install
    # before the server is built
    w(server.FeatureServer, "get_online_features", "server.get_online_features")
    w(server.FeatureServer, "push", "server.push")
