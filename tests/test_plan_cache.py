"""The server's plan cache: a repeated SaneQL text is bound and planned once.

``POST /query`` keeps the executed DataFrame of each successful query,
keyed by the database generation, the data version, the text and the
response format, and runs that same DataFrame again for a repeat. Every
request still runs its own Spark job under its own job group. These tests
pin the rules the cache keeps: a store change drops old entries, only a
stream that ran to its end is cached, only an error evicts a cached entry,
a plan bound from the wall clock or one that keeps shuffle or broadcast
output between runs is never cached, the two response formats are
separate entries, and the least recently used entry leaves first.
"""

from __future__ import annotations

import io
import json
import os
import threading

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import lapis_silo_spark.saneql as saneql
from lapis_silo_spark import server
from lapis_silo_spark.server import ARROW_MIME, create_app
from lapis_silo_spark.storage import load_version, save_version
from store_layouts import multi_file_copy

AGGREGATED = (
    "default.filter(country = 'Switzerland' && date >= '2021-01-15'::date)"
    ".groupBy({count := count()}, {pango_lineage})"
)
DETAILS = (
    "default.filter(age >= 18).project({primary_key, date, age, country})"
    ".orderBy({date, primary_key}).limit(25)"
)
FLAG = (
    "default.filter(hasMutation(position := 3, sequenceName := 'main') && "
    "date >= '2021-01-01'::date).groupBy({count := count()})"
)


@pytest.fixture(scope="module")
def root(example_db, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("plan_cache") / "store")
    save_version(example_db, root)
    return root


@pytest.fixture(scope="module")
def multi_root(spark, root, tmp_path_factory):
    return multi_file_copy(
        spark, root, str(tmp_path_factory.mktemp("plan_cache") / "multi")
    )


@pytest.fixture
def db(spark, root):
    """A fresh single-split load per test: some tests register tables."""
    db = load_version(spark, root)
    assert db.single_partition
    return db


@pytest.fixture
def binds(monkeypatch) -> list[str]:
    """The texts bound so far; the server looks ``bind_query`` up on the
    ``saneql`` module for each request."""
    calls: list[str] = []
    bind_query = saneql.bind_query

    def counting(db, text):
        calls.append(text)
        return bind_query(db, text)

    monkeypatch.setattr(saneql, "bind_query", counting)
    return calls


def _post(client, text, rid=None, arrow=False):
    """``POST /query``, with the body read to its end as a client would."""
    headers = {"X-Request-Id": rid} if rid else {}
    if arrow:
        headers["Accept"] = ARROW_MIME
    resp = client.post("/query", data=text, headers=headers)
    resp.get_data()
    return resp


def _stats(app) -> dict[str, int]:
    return app.extensions["plan_cache"].stats()


def test_repeated_text_binds_once(db, binds):
    app = create_app(db)
    client = app.test_client()
    responses = [_post(client, AGGREGATED) for _ in range(3)]
    assert [r.status_code for r in responses] == [200] * 3
    assert binds == [AGGREGATED]
    first = responses[0]
    assert first.get_data()
    for r in responses[1:]:
        assert r.get_data() == first.get_data()
        for h in ("result-ordering", "data-version", "Content-Type"):
            assert r.headers[h] == first.headers[h]
    assert _stats(app) == {"hits": 2, "misses": 1, "evictions": 0,
                           "entries": 1}


def test_register_table_makes_next_request_rebind(db, binds):
    app = create_app(db)
    client = app.test_client()
    text = "default.groupBy({count := count()})"
    before = json.loads(_post(client, text).get_data())
    assert before["count"] > 2
    db.register_table("default", db.table("default").limit(2))
    after = _post(client, text)
    assert after.status_code == 200
    assert json.loads(after.get_data()) == {"count": 2}
    assert binds == [text, text]
    # the first lookup after the change dropped the old generation's entry
    assert _stats(app) == {"hits": 0, "misses": 2, "evictions": 1,
                           "entries": 1}


def test_timed_out_request_leaves_no_entry(db, binds, monkeypatch):
    app = create_app(db)
    client = app.test_client()
    stream = server._stream_with_timeout
    timeouts = [0]  # the first request gets query_timeout=0

    def first_times_out(spark, chunks_fn, seconds, tag, on_end):
        seconds = timeouts.pop() if timeouts else seconds
        return stream(spark, chunks_fn, seconds, tag, on_end)

    monkeypatch.setattr(server, "_stream_with_timeout", first_times_out)
    timed_out = _post(client, AGGREGATED)
    assert timed_out.status_code == 500
    assert "timed out" in timed_out.get_json()["message"]
    assert _stats(app)["entries"] == 0

    answered = _post(client, AGGREGATED)
    assert answered.status_code == 200
    expected = _post(create_app(db).test_client(), AGGREGATED)
    assert answered.get_data() == expected.get_data()
    assert binds == [AGGREGATED] * 3
    assert _stats(app)["entries"] == 1


def test_timeout_or_disconnect_of_cached_entry_keeps_it(db, binds,
                                                         monkeypatch):
    app = create_app(db)
    client = app.test_client()
    want = _post(client, AGGREGATED)
    assert want.status_code == 200

    stream = server._stream_with_timeout
    timeouts = [0]

    def next_times_out(spark, chunks_fn, seconds, tag, on_end):
        seconds = timeouts.pop() if timeouts else seconds
        return stream(spark, chunks_fn, seconds, tag, on_end)

    monkeypatch.setattr(server, "_stream_with_timeout", next_times_out)
    timed_out = _post(client, AGGREGATED)
    assert timed_out.status_code == 500
    assert "timed out" in timed_out.get_json()["message"]
    # a client that closes the response before reading its end
    client.post("/query", data=AGGREGATED, buffered=False).close()
    answered = _post(client, AGGREGATED)
    assert answered.status_code == 200
    assert answered.get_data() == want.get_data()
    assert binds == [AGGREGATED]
    assert _stats(app) == {"hits": 3, "misses": 1, "evictions": 0,
                           "entries": 1}


def test_disconnect_before_the_end_leaves_no_entry(db, binds):
    app = create_app(db)
    client = app.test_client()
    client.post("/query", data=AGGREGATED, buffered=False).close()
    assert _stats(app)["entries"] == 0
    assert _post(client, AGGREGATED).status_code == 200
    assert binds == [AGGREGATED] * 2
    assert _stats(app)["entries"] == 1


def test_least_recently_used_entry_leaves_first(db, binds, monkeypatch):
    monkeypatch.setattr(server, "PLAN_CACHE_ENTRIES", 2)
    app = create_app(db)
    client = app.test_client()
    for text in (AGGREGATED, DETAILS, AGGREGATED, FLAG, AGGREGATED, DETAILS):
        assert _post(client, text).status_code == 200
    # FLAG pushed out DETAILS, the entry used least recently
    assert binds == [AGGREGATED, DETAILS, FLAG, DETAILS]
    assert _stats(app) == {"hits": 2, "misses": 4, "evictions": 2,
                           "entries": 2}


def test_error_while_running_cached_entry_evicts_it(db, binds, tmp_path):
    marker = str(tmp_path / "fail")

    @F.udf("int")
    def checked(age):
        if os.path.exists(marker):
            raise RuntimeError("injected failure")
        return age

    db.register_table(
        "flaky", db.table("default").withColumn("checked", checked("age")),
    )
    text = "flaky.filter(checked >= 18).groupBy({count := count()})"
    app = create_app(db)
    client = app.test_client()
    good = _post(client, text)
    assert good.status_code == 200
    assert _stats(app)["entries"] == 1

    open(marker, "w").close()
    failed = _post(client, text)
    assert failed.status_code == 500
    assert "injected failure" in failed.get_json()["message"]
    assert _stats(app) == {"hits": 1, "misses": 1, "evictions": 1,
                           "entries": 0}

    os.remove(marker)
    again = _post(client, text)
    assert again.status_code == 200
    assert again.get_data() == good.get_data()
    assert binds == [text, text]


def test_unseeded_randomize_binds_on_every_request(db, binds):
    app = create_app(db)
    client = app.test_client()
    unseeded = "default.randomize().project({primary_key})"
    seeded = "default.randomize(seed := 7).project({primary_key})"
    for text in (unseeded, unseeded, seeded, seeded):
        assert _post(client, text).status_code == 200
    assert binds == [unseeded, unseeded, seeded]
    assert _stats(app)["entries"] == 1


def test_ndjson_and_arrow_are_separate_entries(db, binds):
    app = create_app(db)
    client = app.test_client()
    uncached = create_app(db).test_client()
    for arrow in (False, True):
        want = _post(uncached, DETAILS, arrow=arrow)
        assert want.status_code == 200
        for _ in range(2):
            got = _post(client, DETAILS, arrow=arrow)
            assert got.status_code == 200
            assert got.get_data() == want.get_data()
            assert got.headers["Content-Type"] == want.headers["Content-Type"]
    table = pa.ipc.open_stream(io.BytesIO(got.get_data())).read_all()
    assert table.num_rows > 0
    # two binds by the uncached app, one per format by the cached one
    assert binds == [DETAILS] * 4
    assert _stats(app) == {"hits": 2, "misses": 2, "evictions": 0,
                           "entries": 2}


@pytest.mark.parametrize("layout", ["single", "multi"])
def test_concurrent_requests_share_one_cached_plan(spark, root, multi_root,
                                                   layout):
    """On the single-split store the plan of ``FLAG`` has no exchange: 8
    concurrent hits share it and each runs one job in its own group. On
    the multi-file store it shuffles and broadcasts, and running it again
    would skip the map stages and reuse the broadcast of the first run, so
    it is not cached and each request runs every job of a first run."""
    db = load_version(spark, root if layout == "single" else multi_root)
    app = create_app(db)
    warm = _post(app.test_client(), FLAG, rid=f"cache-warm-{layout}")
    assert warm.status_code == 200
    bodies: dict[str, bytes] = {}

    def request(i: int) -> None:
        r = _post(app.test_client(), FLAG,
                  rid=f"cache-concurrent-{layout}-{i}")
        assert r.status_code == 200
        bodies[r.headers["X-Request-Id"]] = r.get_data()

    threads = [threading.Thread(target=request, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(bodies) == 8
    assert set(bodies.values()) == {warm.get_data()}
    tracker = spark.sparkContext.statusTracker()
    warm_jobs = len(
        tracker.getJobIdsForGroup(f"http-query-cache-warm-{layout}")
    )
    jobs = [len(tracker.getJobIdsForGroup(f"http-query-{rid}"))
            for rid in bodies]
    if layout == "single":
        assert _stats(app) == {"hits": 8, "misses": 1, "evictions": 0,
                               "entries": 1}
        assert jobs == [1] * 8
    else:
        assert _stats(app) == {"hits": 0, "misses": 9, "evictions": 0,
                               "entries": 0}
        assert warm_jobs > 1
        assert jobs == [warm_jobs] * 8
