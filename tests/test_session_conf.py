"""Session-factory conf policy: scratch-dir defaults and
query-local cache hygiene (optimization rounds 11-12)."""

from __future__ import annotations

import os

from lakehouse_test_spark import session as S


def test_local_dir_defaults_to_tmpfs_only_for_local_master(monkeypatch):
    """RAM-backed scratch is a single-box convenience: a cluster
    master must keep Spark's default local.dir (spill into tmpfs at
    scale is an OOM machine) unless the operator opts in."""
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    has_shm = os.path.isdir("/dev/shm")
    # local masters may use tmpfs (when the host has one)
    for m in ("local[*]", "local[8]", "local"):
        got = S._default_local_dir(m)
        assert got == ("/dev/shm/spark-local" if has_shm else None)
    # cluster masters never default into tmpfs
    for m in ("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        assert S._default_local_dir(m) is None


def test_local_dir_env_override_wins_everywhere(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/mnt/nvme0/spark")
    assert S._default_local_dir("yarn") == "/mnt/nvme0/spark"
    assert S._default_local_dir("local[4]") == "/mnt/nvme0/spark"
    # "none" sentinel passes through (get_spark skips setting the conf)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "none")
    assert S._default_local_dir("local[4]") == "none"


def test_release_query_caches_unpersists_registered(spark):
    df = spark.range(100).cache()
    S.register_query_cache(df)
    df.count()
    assert df.storageLevel.useMemory
    S.release_query_caches()
    assert not df.storageLevel.useMemory
    assert S._QUERY_CACHES == []
