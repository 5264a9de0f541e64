"""Unix-socket transport between the JVM and Python (session.get_spark).

Pins the directory rule end to end in a fresh process: under a temp dir too
long for Spark's limit, every kind of Python<->JVM traffic still works, the
sockets live in a private 0700 directory of at most 60 characters, and the
directory is gone once the process exits. Also pins that a non-local master
gets no Unix-socket conf at all.
"""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import textwrap

import pytest

from map_reduce_ruby_spark.session import SOCKET_DIR_MAX_LEN, python_socket_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_socket_dir_rule_under_a_long_tmpdir(tmp_path):
    long_tmp = tmp_path / ("t" * max(1, SOCKET_DIR_MAX_LEN + 1 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) > SOCKET_DIR_MAX_LEN
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import json
        import os
        import stat
        import sys

        sys.path.insert(0, {REPO!r})
        from pyspark.sql.functions import pandas_udf

        from map_reduce_ruby_spark.session import get_spark

        spark = get_spark(app_name="sockets", master="local[2]", shuffle_partitions=2)
        sc = spark.sparkContext
        conf = sc.getConf()
        socket_dir = conf.get("spark.python.unix.domain.socket.dir")
        acc = sc.accumulator(0)
        sc.parallelize(range(10), 2).foreach(lambda x: acc.add(x))

        @pandas_udf("long")
        def plus_one(s):
            return s + 1

        df = spark.range(10)
        out = {{
            "enabled": conf.get("spark.python.unix.domain.socket.enabled"),
            "dir": socket_dir,
            "mode": stat.S_IMODE(os.stat(socket_dir).st_mode),
            "rdd": sc.parallelize(range(10), 2).map(lambda x: x * 2).sum(),
            "accumulator": acc.value,
            "local_iterator": sum(sc.parallelize(range(10), 3).toLocalIterator()),
            "map_in_arrow": df.mapInArrow(lambda batches: batches, df.schema).count(),
            "pandas_udf": int(df.select(plus_one("id").alias("v")).toPandas()["v"].sum()),
        }}
        spark.stop()
        print(json.dumps(out))
    """))
    env = dict(os.environ, TMPDIR=str(long_tmp))
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["enabled"] == "true"
    assert len(out["dir"]) <= SOCKET_DIR_MAX_LEN, out["dir"]
    assert out["mode"] == stat.S_IRWXU, oct(out["mode"])
    assert (out["rdd"], out["accumulator"], out["local_iterator"]) == (90, 45, 45)
    assert (out["map_in_arrow"], out["pandas_udf"]) == (10, 55)
    assert not os.path.exists(out["dir"])


def test_unix_socket_conf_only_for_local_masters():
    def no_dir_expected():
        pytest.fail("a non-local master must not make a socket directory")

    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        assert python_socket_conf(master, no_dir_expected) == {}
    assert python_socket_conf("local[2]", lambda: None) == {}
    assert python_socket_conf("local[2]", lambda: "/tmp/spark-uds-x") == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": "/tmp/spark-uds-x",
    }
