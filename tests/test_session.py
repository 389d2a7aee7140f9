"""local_relation contract: pure-JVM LocalRelation plan shape for the
common case, NaN preservation via the classic-path fallback (round-10
ADVICE: the pandas/Arrow route coerces float NaN -> NULL)."""

import math

from lapis_silo_spark.session import local_relation


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_local_relation_is_jvm_side(spark):
    df = local_relation(
        spark, [(1, "a"), (2, None)], "id long, name string"
    )
    assert "LocalRelation" in _plan(df)
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, None)]


def test_local_relation_empty_keeps_shape(spark):
    df = local_relation(spark, [], "id long, name string")
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<id:bigint,name:string>"


def test_local_relation_preserves_nan(spark):
    # pandas would store NaN in a float64 column and Arrow reads it as
    # null; the helper must detect the NaN and take the classic path so
    # NaN survives as NaN (not NULL)
    df = local_relation(
        spark, [(1, float("nan")), (2, 0.5), (3, None)], "id long, x double"
    )
    got = {r["id"]: r["x"] for r in df.collect()}
    assert math.isnan(got[1])
    assert got[2] == 0.5
    assert got[3] is None
    # and NaN-free float frames still take the LocalRelation route
    clean = local_relation(spark, [(1, 0.5)], "id long, x double")
    assert "LocalRelation" in _plan(clean)


# -- Python<->JVM sockets over a Unix-domain socket --------------------------

def test_socket_dir_fits_the_af_unix_limit():
    from lapis_silo_spark.session import _socket_dir_fits

    # Spark binds <dir>/.<uuid4>.sock: 43 characters after the directory,
    # and sun_path holds 107 of them
    assert _socket_dir_fits("/tmp/udsabcdefgh")
    assert _socket_dir_fits("/" + "d" * 63)
    assert not _socket_dir_fits("/" + "d" * 64)


def test_long_temp_dir_keeps_tcp(tmp_path, monkeypatch):
    import tempfile

    from lapis_silo_spark import session

    long_base = tmp_path / ("x" * 60)
    long_base.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(long_base))
    monkeypatch.setattr(session, "_socket_dir", None)
    assert session._unix_socket_conf() == {}
    assert session._socket_dir == ""
    assert list(long_base.iterdir()) == []  # the trial directory is gone


def test_no_socket_file_outlives_the_process():
    """A process that exits without ``spark.stop()`` leaves no ``.sock``
    file behind, and its results did travel over the Unix socket."""
    import os
    import shutil
    import subprocess
    import sys
    import tempfile
    from pathlib import Path

    base = Path(tempfile.mkdtemp(prefix="uds-test-"))
    script = (
        "from lapis_silo_spark import session\n"
        "from pyspark.sql import functions as F\n"
        "spark = session.get_spark(shuffle_partitions=2)\n"
        "conf = spark.sparkContext.getConf()\n"
        "assert conf.get('spark.python.unix.domain.socket.enabled') == 'true'\n"
        "rows = list(spark.range(40, numPartitions=4).toLocalIterator())\n"
        "assert [r.id for r in rows] == list(range(40))\n"
        "plus = F.udf(lambda x: x + 1, 'long')\n"
        "assert spark.range(4, numPartitions=2).select(plus('id')).count() == 4\n"
        "print(session._socket_dir)\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    env = {**os.environ, "TMPDIR": str(base),
           "PYTHONPATH": os.pathsep.join(
               p for p in (repo, os.environ.get("PYTHONPATH")) if p)}
    try:
        out = subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True,
            text=True, timeout=240,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        socket_dir = Path(out.stdout.strip().splitlines()[-1])
        assert socket_dir.parent == base
        assert not socket_dir.exists()
        assert list(base.rglob("*.sock")) == []
    finally:
        shutil.rmtree(base, ignore_errors=True)
