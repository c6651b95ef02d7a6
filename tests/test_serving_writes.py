"""Serving-store write path: materialization and push share one locked
merge-and-commit (``materialize._merge_into_store`` through
``pages._rewrite_buckets``) onto a snapshot table.

Pins: concurrent pushes into one bucket lose no rows; reads that run
while pushes commit see one whole snapshot and never fail; retention
removes superseded files without changing any answer; a push whose rows
lack a store column is a 400 that leaves the store unchanged; /push
input errors and non-JSON-native served values never surface as
failures; a push of bigint keys into an int-keyed store keeps one int
row per key; a push timed on another column than the store's is a 400
that leaves the store unchanged; the write → materialize → delta → push chain works under a
session that writes Spark's default INT96 timestamps; a store
materialized over a range with no events serves NOT_FOUND.
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
    head = layout.current_snapshot(dest)
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
    # served columns from the snapshot schema, and no snapshot is committed
    absent = min(set(range(4)) - {f["bucket"] for f in head["files"]})
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
    assert layout.current_snapshot(dest) == head
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


def _keys_in_every_bucket(spark, n_buckets: int, per_bucket: int) -> list[str]:
    cands = spark.createDataFrame([(f"r{i}",) for i in range(256)], "user string")
    rows = cands.select(
        "user", layout.bucket_expr(["user"], n_buckets).alias("b")
    ).collect()
    return [
        r["user"]
        for b in range(n_buckets)
        for r in [r for r in rows if r["b"] == b][:per_bucket]
    ]


def _push_round(spark, dest, keys: list[str], r: int) -> dict:
    """Every key of round ``r`` carries the value ``r``."""
    df = spark.createDataFrame(
        [(k, datetime(2024, 2, 1, r), float(r), str(r)) for k in keys],
        "user string, ts timestamp, score double, note string",
    )
    return push_to_online(spark, dest, df, ts_col="ts")


def test_reads_during_pushes_see_one_whole_snapshot(spark, tmp_path):
    """A keyed read and an HTTP read loop while another thread pushes
    round after round into the same buckets. No read fails (a read
    planned before a push must still find its files), and each read
    answers one round's value for all of its keys."""
    store, dest = _scores_store(spark, tmp_path)
    keys = _keys_in_every_bucket(spark, 4, 3)
    _push_round(spark, dest, keys, 0)
    srv = FeatureServer(store, {"scores": dest}).start()
    done = threading.Event()
    errors: list[BaseException] = []
    seen: list[set] = []

    def direct() -> None:
        while not done.is_set():
            rows = read_online(spark, dest, keys, key_col="user").collect()
            assert sorted(r["user"] for r in rows) == sorted(keys), rows
            seen.append({r["score"] for r in rows})

    def http() -> None:
        while not done.is_set():
            code, got = _post(
                srv.port, "/get-online-features",
                {"features": ["scores:score"], "entities": {"user": keys}},
            )
            assert code == 200, got
            assert set(got["results"][1]["statuses"]) == {"PRESENT"}, got
            seen.append(set(got["results"][1]["values"]))

    def guarded(fn):
        def run() -> None:
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
                done.set()
        return run

    readers = [threading.Thread(target=guarded(f)) for f in (direct, http)]
    for t in readers:
        t.start()
    try:
        for r in range(1, 7):
            if done.is_set():
                break
            assert _push_round(spark, dest, keys, r)["buckets_touched"] == [0, 1, 2, 3]
    finally:
        done.set()
        for t in readers:
            t.join(timeout=300)
        srv.stop()
    assert not any(t.is_alive() for t in readers)
    assert not errors, errors
    assert len(seen) >= 2
    assert all(len(v) == 1 for v in seen), [v for v in seen if len(v) != 1]
    assert {r["score"] for r in read_online(spark, dest, keys).collect()} == {6.0}


def _data_files(dest: str) -> set[str]:
    data = os.path.join(dest, layout.DATA_DIR)
    return {
        os.path.relpath(os.path.join(d, f), dest)
        for d, _, files in os.walk(data)
        for f in files
    }


def test_expire_snapshots_retires_superseded_store_files(spark, tmp_path):
    """The store is a layout table: after one run its data/ holds
    exactly the snapshot's files; pushes leave superseded files for
    older snapshots, which ``expire_snapshots`` removes without changing
    any answer."""
    _, dest = _scores_store(spark, tmp_path)
    files = {f["path"] for f in layout.current_snapshot(dest)["files"]}
    assert files and _data_files(dest) == files
    assert not any(
        os.path.basename(p).startswith(("_", ".")) for p in files
    )
    keys = _keys_in_every_bucket(spark, 4, 2)
    for r in range(3):
        _push_round(spark, dest, keys + ["u1"], r)
    probe = keys + ["u1", "u2", "absent"]

    def answers() -> tuple[list, list]:
        cols = ("user", "ts", "score", "note")
        keyed = read_online(spark, dest, probe, key_col="user").select(*cols)
        bulk = read_online(spark, dest).select(*cols)
        return sorted(map(tuple, keyed.collect())), sorted(map(tuple, bulk.collect()))

    before = answers()
    assert len(_data_files(dest)) > len(layout.current_snapshot(dest)["files"])
    out = layout.expire_snapshots(dest, keep_last=1)
    assert out["files_removed"] > 0
    head = {f["path"] for f in layout.current_snapshot(dest)["files"]}
    assert _data_files(dest) == head
    assert answers() == before
    keyed, bulk = before
    assert len(bulk) == len({r[0] for r in bulk}) == len(keys) + 2
    assert keyed == [r for r in bulk if r[0] in probe]
    assert {r[0]: r[2] for r in bulk}["u1"] == 2.0


def test_push_of_bigint_keys_into_int_store(spark, tmp_path):
    """Pushed keys that Spark infers as bigint (Python ints, as the HTTP
    server builds its frame) into an int-keyed store are hashed and
    written as the store's int: each key keeps one row, the snapshot
    keeps its int key type, and a keyed read of an unpushed key whose
    int and bigint buckets differ still finds it. A pushed key the int
    type cannot take is bad input: HTTP 400, and nothing is committed."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, datetime(2024, 1, 1), float(i)) for i in range(40)],
        "uid int, ts timestamp, v double",
    ).write.parquet(src)
    store = FeatureStore(spark, root=str(tmp_path / "reg"))
    store.apply(
        FeatureView(
            name="ints", entity=Entity("uid", "uid"), source=src,
            features=[FeatureSpec("v", "double")], timestamp_field="ts",
        )
    )
    dest = str(tmp_path / "store")
    MaterializeJob(spark, store.get_view("ints"), dest, n_buckets=8).run(
        "2023-01-01", "2025-01-01"
    )
    hashed = spark.createDataFrame([(i,) for i in range(40)], "k int").select(
        "k",
        layout.bucket_expr(["k"], 8).alias("as_int"),
        layout.bucket_expr([F.col("k").cast("bigint")], 8).alias("as_bigint"),
    )
    apart = [r["k"] for r in hashed.collect() if r["as_int"] != r["as_bigint"]]
    pushed, over_http, unpushed = apart[:2], apart[2], apart[3]

    df = spark.createDataFrame(
        [(k, datetime(2024, 2, 1), 100.0 + k) for k in pushed], ["uid", "ts", "v"]
    )
    assert dict(df.dtypes)["uid"] == "bigint"
    push_to_online(spark, dest, df, ts_col="ts")
    srv = FeatureServer(store, {"ints": dest}).start()
    try:
        code, body = _post(srv.port, "/push", {
            "push_source_name": "ints", "ts_col": "ts",
            "df": {"uid": [over_http], "ts": ["2024-02-01T00:00:00"],
                   "v": [100.0 + over_http]},
        })
        head = layout.current_snapshot(dest)
        bad, err = _post(srv.port, "/push", {
            "push_source_name": "ints", "ts_col": "ts",
            "df": {"uid": ["abc"], "ts": ["2024-02-01T00:00:00"], "v": [1.0]},
        })
    finally:
        srv.stop()
    assert code == 200, body
    assert bad == 400 and "uid" in err["error"], err
    assert layout.current_snapshot(dest) == head

    rows = read_online(spark, dest).collect()
    assert sorted(r["uid"] for r in rows) == list(range(40))
    new = pushed + [over_http]
    assert {r["uid"]: r["v"] for r in rows if r["uid"] in new} == {
        k: 100.0 + k for k in new
    }
    fields = json.loads(layout.current_snapshot(dest)["schema"])["fields"]
    assert {f["name"]: f["type"] for f in fields}["uid"] == "integer"
    got = read_online(spark, dest, [unpushed], key_col="uid").collect()
    assert [(r["uid"], r["v"]) for r in got] == [(unpushed, float(unpushed))]


def test_push_cannot_retime_the_store(spark, tmp_path):
    """A push timed on another column than the store's event time is bad
    input, from Python and over HTTP (400), and nothing is committed:
    merged by its ``ts_col``, key ``a`` would serve an older row and the
    store would record the pusher's column as its event time."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", datetime(2024, 1, 5), datetime(2023, 1, 1), 1.0)],
        "url string, warc_ts timestamp, seen_ts timestamp, v double",
    ).write.parquet(src)
    store = FeatureStore(spark, root=str(tmp_path / "reg"))
    store.apply(
        FeatureView(
            name="seen", entity=Entity("url", "url"), source=src,
            features=[FeatureSpec("seen_ts", "timestamp"),
                      FeatureSpec("v", "double")],
            timestamp_field="warc_ts",
        )
    )
    dest = str(tmp_path / "store")
    MaterializeJob(spark, store.get_view("seen"), dest, n_buckets=4).run(
        "2023-01-01", "2025-01-01"
    )
    head = layout.current_snapshot(dest)
    row = {"url": "a", "warc_ts": "2023-06-01T00:00:00",
           "seen_ts": "2024-06-01T00:00:00", "v": 2.0}
    df = spark.createDataFrame([row]).withColumns(
        {c: F.col(c).cast("timestamp") for c in ("warc_ts", "seen_ts")}
    )
    with pytest.raises(ValueError, match="seen_ts"):
        push_to_online(spark, dest, df, ts_col="seen_ts")
    srv = FeatureServer(store, {"seen": dest}).start()
    try:
        code, err = _post(srv.port, "/push", {
            "push_source_name": "seen", "ts_col": "seen_ts",
            "df": {c: [v] for c, v in row.items()},
        })
    finally:
        srv.stop()
    assert code == 400 and "seen_ts" in err["error"], err
    assert layout.current_snapshot(dest) == head
    got = read_online(spark, dest).collect()
    assert [(r["url"], r["warc_ts"], r["v"]) for r in got] == [
        ("a", datetime(2024, 1, 5), 1.0)
    ]


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
    # a push and a keyed read: the store's own commits record event times
    # from INT96 files too
    push_to_online(s, dest, rows([("b", "2024-02-01 00:00:00", 5.0)]), ts_col="ts")
    got = {r["url"]: r["v"] for r in read_online(s, dest, ["b", "c"]).collect()}
    assert got == {"b": 5.0, "c": 3.0}
    files = layout.current_snapshot(dest)["files"]
    assert files and all(f["min_ts"] and f["max_ts"] for f in files)


def test_empty_store_read_is_not_found(spark, tmp_path):
    """A store materialized over a range with no events is a snapshot
    with no files; a keyed read of it answers NOT_FOUND, not a 500."""
    store, _ = _scores_store(spark, tmp_path)
    dest = str(tmp_path / "empty_store")
    MaterializeJob(spark, store.get_view("scores"), dest, n_buckets=4).run(
        "2020-01-01", "2021-01-01"
    )
    assert layout.current_snapshot(dest)["files"] == []
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
