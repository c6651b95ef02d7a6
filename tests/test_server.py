"""HTTP feature server (feast_spark/server.py) — the REST serving
surface over the online store, mirroring upstream feast's
feature_server.py JSON protocol (SURVEY §2 S7; VERDICT r04 missing #5).

Pins: /get-online-features values equal the direct Python-API lookup;
all four FieldStatus cases (PRESENT / NULL_VALUE / NOT_FOUND /
OUTSIDE_MAX_AGE — expired rows serve NULL, never stale values); /push
lands rows that the next lookup serves; /retrieve-online-documents
ranks by the persisted vector index; error paths 400/404 without
killing the server thread.
"""
from __future__ import annotations

import json
import urllib.request
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feast_spark.materialize import MaterializeJob
from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
from feast_spark.server import FeatureServer


def _call(port: int, path: str, body: dict | None = None) -> tuple[int, dict]:
    url = f"http://127.0.0.1:{port}{path}"
    if body is None:
        req = urllib.request.Request(url)
    else:
        req = urllib.request.Request(
            url,
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """One materialized store + one vector index behind a live server."""
    base = tmp_path_factory.mktemp("feature_server")
    src = str(base / "src")
    spark.createDataFrame(
        [
            Row(user="u1", ts=datetime(2024, 1, 10), score=1.5, note="a"),
            Row(user="u1", ts=datetime(2024, 1, 20), score=2.5, note="b"),
            Row(user="u2", ts=datetime(2024, 1, 5), score=7.0, note=None),
            Row(user="u3", ts=datetime(2023, 6, 1), score=9.0, note="old"),
        ]
    ).write.parquet(src)
    store = FeatureStore(spark, root=str(base / "reg"))
    store.apply(
        FeatureView(
            name="scores",
            entity=Entity("user", "user"),
            source=src,
            features=[
                FeatureSpec("score", "double"),
                FeatureSpec("note", "string"),
            ],
            timestamp_field="ts",
        )
    )
    dest = str(base / "store")
    MaterializeJob(spark, store.get_view("scores"), dest, n_buckets=4).run(
        "2023-01-01", "2025-01-01"
    )
    # a vector view + persisted index for /retrieve-online-documents
    vsrc = str(base / "vsrc")
    spark.createDataFrame(
        [
            Row(vid=i, ts=datetime(2024, 1, 1), emb=[float(i == j) for j in range(4)])
            for i in range(4)
        ]
    ).write.parquet(vsrc)
    store.apply(
        FeatureView(
            name="vecs",
            entity=Entity("vid", "vid"),
            source=vsrc,
            features=[FeatureSpec("emb", "array<double>", vector_index=True, vector_dim=4)],
            timestamp_field="ts",
        )
    )
    store.build_vector_index("vecs", n_bits=2, n_tables=2, n_buckets=4)
    # only scores has a materialized online store; vecs serves from its
    # vector index alone (no features= enrichment requested in tests —
    # wiring vecs to the scores store would silently enrich from the
    # wrong table)
    srv = FeatureServer(store, {"scores": dest}).start()
    yield srv, store, dest
    srv.stop()


def test_health(served):
    srv, _, _ = served
    code, body = _call(srv.port, "/health")
    assert code == 200 and body["status"] == "ok"
    code, _ = _call(srv.port, "/nope")
    assert code == 404


def test_get_online_features_statuses_and_values(served, spark):
    srv, store, dest = served
    code, body = _call(
        srv.port,
        "/get-online-features",
        {
            "features": ["scores:score", "scores:note"],
            "entities": {"user": ["u1", "u2", "zz"]},
        },
    )
    assert code == 200
    assert body["metadata"]["feature_names"] == ["user", "score", "note"]
    ent, score, note = body["results"]
    assert ent["values"] == ["u1", "u2", "zz"]
    # latest-per-key: u1 serves the Jan-20 row
    assert score["values"] == [2.5, 7.0, None]
    assert score["statuses"] == ["PRESENT", "PRESENT", "NOT_FOUND"]
    assert note["values"] == ["b", None, None]
    assert note["statuses"] == ["PRESENT", "NULL_VALUE", "NOT_FOUND"]
    assert score["event_timestamps"][0].startswith("2024-01-20")
    # parity with the direct Python API
    direct = {
        r["user"]: r["score"]
        for r in store.get_online_features(
            dest, ["u1", "u2"], key_col="user"
        ).collect()
    }
    assert direct == {"u1": 2.5, "u2": 7.0}


def test_get_online_features_ttl_expiry(served):
    srv, _, _ = served
    code, body = _call(
        srv.port,
        "/get-online-features",
        {
            "features": ["scores:score"],
            "entities": {"user": ["u1", "u3"]},
            "ttl_seconds": 90 * 86400,
            "now": "2024-02-01T00:00:00",
        },
    )
    assert code == 200
    score = body["results"][1]
    # u3's 2023-06-01 row is outside the 90-day window: never served,
    # but the status names expiry (distinct from NOT_FOUND)
    assert score["values"] == [2.5, None]
    assert score["statuses"] == ["PRESENT", "OUTSIDE_MAX_AGE"]


def test_full_feature_names(served):
    srv, _, _ = served
    _, body = _call(
        srv.port,
        "/get-online-features",
        {
            "features": ["scores:score"],
            "entities": {"user": ["u1"]},
            "full_feature_names": True,
        },
    )
    assert body["metadata"]["feature_names"] == ["user", "scores__score"]


def test_push_then_serve(served):
    srv, _, _ = served
    code, body = _call(
        srv.port,
        "/push",
        {
            "push_source_name": "scores",
            "df": {
                "user": ["u9"],
                "ts": ["2024-03-01T00:00:00"],
                "score": [4.25],
                "note": ["pushed"],
            },
            "ts_col": "ts",
        },
    )
    assert code == 200 and body["status"] == "ok"
    _, got = _call(
        srv.port,
        "/get-online-features",
        {"features": ["scores:score"], "entities": {"user": ["u9"]}},
    )
    assert got["results"][1]["values"] == [4.25]
    assert got["results"][1]["statuses"] == ["PRESENT"]


def test_null_event_time_under_ttl_never_serves(served, spark, monkeypatch):
    """r05 review batch 2: a store row whose event time is NULL is
    unservable under ttl (read_online's `ts > cutoff` filter drops it);
    the server must mark it OUTSIDE_MAX_AGE with NULL values, never
    PRESENT-forever."""
    from datetime import datetime

    from pyspark.sql import Row

    srv, store, _ = served
    frame = spark.createDataFrame(
        [
            Row(user="ok", ts=datetime(2024, 1, 20), score=1.0),
            Row(user="nullts", ts=None, score=9.0),
        ],
        "user string, ts timestamp, score double",
    )
    monkeypatch.setattr(
        type(store), "get_online_features", lambda self, *a, **k: frame
    )
    body = srv.get_online_features(
        {
            "features": ["scores:score"],
            "entities": {"user": ["ok", "nullts"]},
            "ttl_seconds": 90 * 86400,
            "now": "2024-02-01T00:00:00",
        }
    )
    score = body["results"][1]
    assert score["values"] == [1.0, None]
    assert score["statuses"] == ["PRESENT", "OUTSIDE_MAX_AGE"]
    # without ttl the NULL-ts row serves normally (read_online parity)
    body = srv.get_online_features(
        {"features": ["scores:score"], "entities": {"user": ["nullts"]}}
    )
    assert body["results"][1]["statuses"] == ["PRESENT"]


def test_retrieve_online_documents(served):
    srv, _, _ = served
    code, body = _call(
        srv.port,
        "/retrieve-online-documents",
        {"view": "vecs", "query": [1.0, 0.0, 0.0, 0.0], "top_k": 2},
    )
    assert code == 200
    rows = body["results"]
    assert len(rows) == 2
    # the matching one-hot vector ranks first with cosine 1.0
    assert rows[0]["vid"] == 0 and rows[0]["distance"] == pytest.approx(1.0)


def test_error_paths_keep_server_alive(served):
    srv, _, _ = served
    code, body = _call(
        srv.port,
        "/get-online-features",
        {"features": ["a:x", "b:y"], "entities": {"user": ["u1"]}},
    )
    assert code == 400 and "exactly one view" in body["error"]
    code, _ = _call(srv.port, "/get-online-features", {"features": ["scores:score"]})
    assert code == 400  # missing entities
    # r05 review: empty entities / empty push df are 400s, not 500s
    code, body = _call(
        srv.port,
        "/get-online-features",
        {"features": ["scores:score"], "entities": {}},
    )
    assert code == 400 and "non-empty" in body["error"]
    code, body = _call(
        srv.port, "/push", {"push_source_name": "scores", "df": {}}
    )
    assert code == 400 and "non-empty" in body["error"]
    # r05 review batch 2: ragged push columns are a 400 too, not an
    # IndexError 500
    code, body = _call(
        srv.port,
        "/push",
        {"push_source_name": "scores", "df": {"user": ["a", "b"], "ts": ["x"]}},
    )
    assert code == 400 and "one length" in body["error"]
    # still serving afterwards
    code, _ = _call(srv.port, "/health")
    assert code == 200


def test_requests_over_the_bound_wait_then_get_503(monkeypatch):
    """The server runs at most MAX_CONCURRENT_REQUESTS POST requests at
    once. With that many slow requests in flight, one more waits for a
    slot: it is served once a slot frees within SLOT_WAIT_S, and refused
    with 503 and Retry-After (never a 500) when none does."""
    import threading
    import time

    from feast_spark import server as server_mod

    bound = server_mod.MAX_CONCURRENT_REQUESTS
    entered, release = threading.Semaphore(0), threading.Event()

    class SlowStore:  # answers /retrieve-online-documents after `release`
        def retrieve_online_documents(self, view, query, **kw):
            entered.release()
            release.wait(60)
            return type("Res", (), {"collect": lambda self: []})()

    srv = FeatureServer(SlowStore(), {}).start()
    body = {"view": "v", "query": [1.0]}
    codes: list[int] = []

    def post():
        codes.append(_call(srv.port, "/retrieve-online-documents", body)[0])

    try:
        slow = [threading.Thread(target=post) for _ in range(bound)]
        for t in slow:
            t.start()
        for _ in range(bound):  # every slow request holds a slot
            assert entered.acquire(timeout=60)

        monkeypatch.setattr(server_mod, "SLOT_WAIT_S", 0.5)
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/retrieve-online-documents",
            data=json.dumps(body).encode(),
        )
        with pytest.raises(urllib.error.HTTPError) as refused:
            urllib.request.urlopen(req, timeout=60)
        assert refused.value.code == 503
        assert int(refused.value.headers["Retry-After"]) > 0
        assert "concurrent" in json.loads(refused.value.read())["error"]
        assert _call(srv.port, "/health")[0] == 200  # not bounded

        monkeypatch.setattr(server_mod, "SLOT_WAIT_S", 60)
        waiting = threading.Thread(target=post)
        waiting.start()
        time.sleep(0.5)  # it queues behind the slow requests
        assert len(codes) == 0
        release.set()
        for t in [*slow, waiting]:
            t.join(60)
        # the slots are free again
        assert _call(srv.port, "/retrieve-online-documents", body) == (
            200, {"results": []}
        )
    finally:
        release.set()
        srv.stop()
    assert codes == [200] * (bound + 1)
