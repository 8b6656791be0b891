"""Session sizing and Connection isolation.

The sizing tests exercise the pure derivation with monkeypatched host
facts and start no SparkSession; the isolation test reuses the suite's
session."""

from __future__ import annotations

import inspect
import io
import os
import sys
import threading

from hashquery_spark import Model, connection
from hashquery_spark.connection import (
    Connection,
    default_session,
    host_memory_bytes,
    host_session_resources,
    session_resources,
)

GIB = 1 << 30


def test_session_resources_take_affinity_and_half_of_memory():
    assert session_resources({0, 1, 2, 3}, 16 * GIB) == (4, "8192m")
    assert session_resources({5}, 3 * GIB) == (1, "1536m")


def test_session_resources_cap_heap_at_16g():
    assert session_resources(set(range(64)), 256 * GIB) == (64, "16384m")
    assert session_resources({0, 1}, 32 * GIB) == (2, "16384m")


def test_session_resources_heap_override():
    assert session_resources({0, 1}, 256 * GIB, "2g") == (2, "2g")


def test_host_session_resources_read_affinity_memory_and_env(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 3})
    monkeypatch.setattr(connection, "host_memory_bytes", lambda: 6 * GIB)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")  # no longer read
    assert host_session_resources() == (3, "3072m")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert host_session_resources() == (3, "2g")


def test_host_memory_bytes_honours_a_lower_cgroup_limit(monkeypatch):
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")

    def cgroup(limit):
        def fake_open(path, *args, **kwargs):
            if path == "/sys/fs/cgroup/memory.max":
                return io.StringIO(limit + "\n")
            raise FileNotFoundError(path)

        return fake_open

    monkeypatch.setattr(connection, "open", cgroup(str(GIB)), raising=False)
    assert host_memory_bytes() == min(physical, GIB)
    monkeypatch.setattr(connection, "open", cgroup("max"), raising=False)
    assert host_memory_bytes() == physical


def test_default_session_is_sized_from_the_host(spark):
    assert list(inspect.signature(default_session).parameters) == ["app_name"]
    cores, heap = host_session_resources()
    conf = spark.sparkContext.getConf()
    assert spark.sparkContext.master == f"local[{cores}]"
    assert conf.get("spark.driver.memory") == heap
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)


def test_raw_sql_compiles_against_its_own_connection_under_threads(spark):
    """Two Connections on one session register different frames under one
    name; raw-SQL Models compiled from more threads than cores must each
    bind their own Connection's frame (bare names resolve through
    session-global temp views)."""
    name = "_raw_sql_isolation_probe"
    cols = ("a_only", "b_only")
    conns = {
        col: Connection(spark).register_table(name, spark.range(1).withColumnRenamed("id", col))
        for col in cols
    }
    n_threads = len(os.sched_getaffinity(0)) + 1
    start, wrong = threading.Barrier(n_threads), []

    def compile_many(col):
        start.wait()
        for _ in range(10):
            got = Model(conns[col], sql_query=f"SELECT * FROM {name}").to_df().columns
            if got != [col]:
                wrong.append((col, got))

    threads = [
        threading.Thread(target=compile_many, args=(cols[i % 2],)) for i in range(n_threads)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
        spark.catalog.dropTempView(name)
    assert not any(t.is_alive() for t in threads)
    assert not wrong, f"{len(wrong)} compiles bound the other Connection's frame: {wrong[:3]}"
