"""``POST /query`` streams a multi-partition result in order, NDJSON and
Arrow alike, through ``toLocalIterator`` over the session's Unix socket."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from lapis_silo_spark import session
from lapis_silo_spark.catalog import Database
from lapis_silo_spark.saneql import bind_query
from lapis_silo_spark.server import ARROW_MIME, create_app

N_ROWS = 2000
QUERY = "default.filter(n >= 0)"


@pytest.fixture(scope="module")
def client(spark):
    db = Database(spark)
    db.register_table(
        "default",
        spark.range(N_ROWS, numPartitions=4).selectExpr(
            "concat('k', lpad(cast(id as string), 5, '0')) as primary_key",
            "id as n",
        ),
    )
    # the result keeps the scan's 4 partitions: toLocalIterator fetches 4
    assert bind_query(db, QUERY).df.rdd.getNumPartitions() == 4
    return create_app(db).test_client()


def test_session_streams_over_unix_socket(spark):
    conf = spark.sparkContext.getConf()
    enabled = conf.get("spark.python.unix.domain.socket.enabled", "false")
    # TCP only when this process's socket path would not fit AF_UNIX
    assert (enabled == "true") == bool(session._socket_dir)


def test_ndjson_streams_every_row_in_order(client):
    resp = client.post("/query", data=QUERY)
    assert resp.status_code == 200
    rows = [json.loads(line) for line in resp.get_data(as_text=True).splitlines()]
    assert [r["n"] for r in rows] == list(range(N_ROWS))
    assert rows[7] == {"primary_key": "k00007", "n": 7}


def test_arrow_streams_every_row_in_order(client):
    resp = client.post("/query", data=QUERY, headers={"Accept": ARROW_MIME})
    assert resp.status_code == 200
    table = pa.ipc.open_stream(resp.get_data()).read_all()
    assert table.column("n").to_pylist() == list(range(N_ROWS))
    assert table.column("primary_key").to_pylist()[-1] == f"k{N_ROWS - 1:05d}"
