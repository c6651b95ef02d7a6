"""Serving-store write path: materialization and push share one locked
merge-and-swap (``materialize._merge_into_store``).

Pins: concurrent pushes into one bucket lose no rows; a push whose rows
lack a store column is a 400 that leaves the store unchanged; /push
input errors and non-JSON-native served values never surface as
failures; the write → materialize → delta chain works under a session
that writes Spark's default INT96 timestamps; a store materialized over a
range with no events serves NOT_FOUND.
"""
from __future__ import annotations

import json
import os
import threading
import urllib.request
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feast_spark.materialize import (
    MaterializeJob,
    materialize_delta,
    push_to_online,
    read_online,
)
from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
from feast_spark.server import FeatureServer
from feast_spark.sources import pages as layout


def _post(port: int, path: str, body: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _scores_store(spark, base) -> tuple[FeatureStore, str]:
    src = str(base / "src")
    spark.createDataFrame(
        [
            Row(user="u1", ts=datetime(2024, 1, 10), score=1.5, note="a"),
            Row(user="u2", ts=datetime(2024, 1, 5), score=7.0, note="b"),
        ]
    ).write.parquet(src)
    store = FeatureStore(spark, root=str(base / "reg"))
    store.apply(
        FeatureView(
            name="scores",
            entity=Entity("user", "user"),
            source=src,
            features=[FeatureSpec("score", "double"), FeatureSpec("note", "string")],
            timestamp_field="ts",
        )
    )
    dest = str(base / "store")
    MaterializeJob(spark, store.get_view("scores"), dest, n_buckets=4).run(
        "2023-01-01", "2025-01-01"
    )
    return store, dest


@pytest.fixture(scope="module")
def scores_server(spark, tmp_path_factory):
    store, dest = _scores_store(spark, tmp_path_factory.mktemp("serving_writes"))
    srv = FeatureServer(store, {"scores": dest}).start()
    yield srv, dest
    srv.stop()


def _served(spark, dest) -> dict:
    return {r["user"]: r.asDict() for r in read_online(spark, dest).collect()}


def test_push_missing_store_column_is_400_and_store_unchanged(spark, scores_server):
    srv, dest = scores_server
    before = _served(spark, dest)
    code, body = _post(
        srv.port,
        "/push",
        {
            "push_source_name": "scores",
            "ts_col": "ts",
            # `note` dropped
            "df": {"user": ["u1"], "ts": ["2024-03-01T00:00:00"], "score": [99.0]},
        },
    )
    assert code == 400 and "note" in body["error"]
    # same for a key whose bucket holds no rows yet: the check reads the
    # served columns from another bucket, and no bucket dir appears
    data = os.path.join(dest, "data")
    absent = min(set(range(4)) - {int(d.split("=")[1]) for d in os.listdir(data)})
    cands = spark.createDataFrame([(f"n{i}",) for i in range(64)], "user string")
    new_key = cands.filter(layout.bucket_expr(["user"], 4) == absent).first()["user"]
    code, body = _post(
        srv.port,
        "/push",
        {
            "push_source_name": "scores",
            "ts_col": "ts",
            "df": {"user": [new_key], "ts": ["2024-03-01T00:00:00"], "score": [1.0]},
        },
    )
    assert code == 400 and "note" in body["error"]
    assert not os.path.exists(os.path.join(data, f"bucket={absent}"))
    assert _served(spark, dest) == before
    code, got = _post(
        srv.port,
        "/get-online-features",
        {"features": ["scores:score"], "entities": {"user": ["u1"]}},
    )
    assert code == 200 and got["results"][1]["values"] == [1.5]


def test_push_without_ts_col_is_400(scores_server):
    srv, _ = scores_server
    code, body = _post(
        srv.port,
        "/push",
        {
            "push_source_name": "scores",
            # no ts_col given: the default (warc_ts) is not in df
            "df": {"user": ["u1"], "ts": ["2024-03-01T00:00:00"],
                   "score": [2.0], "note": ["x"]},
        },
    )
    assert code == 400 and "warc_ts" in body["error"]


def test_concurrent_pushes_lose_no_rows(spark, tmp_path):
    """Two threads push disjoint keys of ONE bucket at the same moment,
    round after round; every pushed row must be served afterwards."""
    _, dest = _scores_store(spark, tmp_path)
    cands = spark.createDataFrame([(f"k{i}",) for i in range(64)], "user string")
    in_b0 = [
        r["user"]
        for r in cands.filter(layout.bucket_expr(["user"], 4) == 0).collect()
    ]
    rounds = 4
    keys = [in_b0[0::2][:rounds], in_b0[1::2][:rounds]]
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def pusher(mine: list[str]) -> None:
        try:
            for k in mine:
                barrier.wait(timeout=120)
                df = spark.createDataFrame(
                    [(k, datetime(2024, 2, 1), 3.0, k)],
                    "user string, ts timestamp, score double, note string",
                )
                out = push_to_online(spark, dest, df, ts_col="ts")
                assert out["buckets_touched"] == [0]
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=pusher, args=(k,)) for k in keys]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    got = _served(spark, dest)
    assert set(keys[0] + keys[1]) | {"u1", "u2"} == set(got)
    assert all(got[k]["note"] == k for k in keys[0] + keys[1])


@pytest.fixture(scope="module")
def typed_server(spark, tmp_path_factory):
    """A store whose features are a date, a decimal and a struct."""
    base = tmp_path_factory.mktemp("typed_store")
    src = str(base / "src")
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1), date(2024, 1, 2), Decimal("1.25"), (3, "x"))],
        "id int, ts timestamp, day date, amount decimal(10,2), "
        "info struct<n:int,s:string>",
    ).write.parquet(src)
    store = FeatureStore(spark, root=str(base / "reg"))
    store.apply(
        FeatureView(
            name="typed",
            entity=Entity("id", "id"),
            source=src,
            features=[
                FeatureSpec("day", "date"),
                FeatureSpec("amount", "decimal(10,2)"),
                FeatureSpec("info", "struct<n:int,s:string>"),
            ],
            timestamp_field="ts",
        )
    )
    dest = str(base / "store")
    MaterializeJob(spark, store.get_view("typed"), dest, n_buckets=2).run(
        "2023-01-01", "2025-01-01"
    )
    srv = FeatureServer(store, {"typed": dest}).start()
    yield srv
    srv.stop()


@pytest.mark.parametrize(
    "feature, want",
    [("day", "2024-01-02"), ("amount", 1.25), ("info", {"n": 3, "s": "x"})],
)
def test_served_values_are_json(typed_server, feature, want):
    code, got = _post(
        typed_server.port,
        "/get-online-features",
        {"features": [f"typed:{feature}"], "entities": {"id": [1]}},
    )
    assert code == 200, got
    assert got["results"][1]["values"] == [want]
    assert got["results"][1]["statuses"] == ["PRESENT"]


def test_write_materialize_delta_under_int96_session(spark, tmp_path):
    """A session that keeps Spark's default INT96 parquet timestamps
    (not the engine's own session conf): the layout still records
    min/max event times, so a full run is verifiably complete and the
    snapshot delta merges on top of it."""
    s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    root, dest = str(tmp_path / "t"), str(tmp_path / "o")

    def rows(data):
        return s.createDataFrame(data, "url string, ts string, v double").select(
            "url", F.col("ts").cast("timestamp").alias("ts"), "v"
        )

    view = FeatureView(
        name="pv", entity=Entity("u", "url"), source=root,
        features=[FeatureSpec("v", "double")], timestamp_field="ts",
    )
    layout.write_table(
        rows([("a", "2024-01-01 00:00:00", 1.0), ("b", "2024-01-01 00:00:00", 2.0)]),
        root, key_col="url", ts_col="ts", n_buckets=2,
    )
    assert all(f["min_ts"] for f in layout.current_snapshot(root)["files"])
    MaterializeJob(s, view, dest, n_buckets=2).run(
        datetime(2023, 12, 1), datetime(2024, 6, 1)
    )
    layout.write_table(
        rows([("c", "2024-01-02 00:00:00", 3.0), ("a", "2024-01-02 12:00:00", 9.0)]),
        root, key_col="url", ts_col="ts", n_buckets=2, mode="append",
    )
    out = materialize_delta(s, view, dest)
    assert out["caught_up"] is False and out["rows_pushed"] == 2
    got = {r["url"]: r["v"] for r in read_online(s, dest).collect()}
    assert got == {"a": 9.0, "b": 2.0, "c": 3.0}


def test_empty_store_read_is_not_found(spark, tmp_path):
    """A store materialized over a range with no events has no bucket
    dir; a keyed read of it answers NOT_FOUND, not a 500."""
    store, _ = _scores_store(spark, tmp_path)
    dest = str(tmp_path / "empty_store")
    MaterializeJob(spark, store.get_view("scores"), dest, n_buckets=4).run(
        "2020-01-01", "2021-01-01"
    )
    data = os.path.join(dest, layout.DATA_DIR)
    assert not [d for d in os.listdir(data) if d.startswith("bucket=")]
    assert read_online(spark, dest, ["u1"], key_col="user").collect() == []
    srv = FeatureServer(store, {"scores": dest}).start()
    try:
        code, got = _post(
            srv.port,
            "/get-online-features",
            {"features": ["scores:score"], "entities": {"user": ["u1", "u9"]}},
        )
    finally:
        srv.stop()
    assert code == 200, got
    assert got["results"][1]["statuses"] == ["NOT_FOUND", "NOT_FOUND"]
