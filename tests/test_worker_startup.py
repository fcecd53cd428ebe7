"""Python-worker start-up is owned by ``session.get_spark``: workers on
the driver's host run the driver's interpreter without Spark's
``pyspark.zip`` / py4j zip on their path, so they import the installed,
byte-compiled pyspark."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from lakehouse_test_spark import session as S


def _wrapper_in_use(spark) -> bool:
    """Whether ``get_spark`` put the wrapper in ``PYSPARK_PYTHON``. When
    it did not, the rule must have said no for this environment."""
    env = os.environ.get("PYSPARK_PYTHON")
    if S._worker_wrapper is not None and env == S._worker_wrapper:
        return True
    noexec = S._worker_wrapper is not None and not os.access(S._worker_wrapper, os.X_OK)
    assert noexec or S._worker_python_to_wrap(spark.sparkContext.master, env) is None
    return False


def test_python_worker_imports_pyspark_outside_any_zip(spark):
    if not _wrapper_in_use(spark):
        pytest.skip("PYSPARK_PYTHON names another interpreter; workers keep Spark's zips")

    @F.udf(ArrayType(StringType()))
    def worker_paths():
        import pyspark

        return [pyspark.__file__, *sys.path]

    pyspark_file, *worker_path = spark.range(1).select(worker_paths()).first()[0]
    # the interpreter's own stdlib entry (pythonXY.zip) is listed but absent
    assert not [e for e in worker_path if ".zip" in e and os.path.exists(e)]
    assert ".zip" not in pyspark_file
    assert os.path.isfile(pyspark_file)


def test_another_interpreter_is_left_alone(tmp_path):
    other = tmp_path / "python3"
    other.write_text("#!/bin/sh\nexit 0\n")
    other.chmod(0o755)
    assert S._worker_python_to_wrap("local[2]", str(other)) is None
    assert S._worker_python_to_wrap("local[2]", str(tmp_path / "missing")) is None
    # unset, or the driver's own interpreter: wrap the driver's interpreter
    for master in ("local", "local[*]", "local-cluster[2,1,1024]"):
        assert S._worker_python_to_wrap(master, None) == sys.executable
        assert S._worker_python_to_wrap(master, sys.executable) == sys.executable
    # executors on other hosts cannot run a file of the driver's host
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert S._worker_python_to_wrap(master, None) is None


def test_second_get_spark_keeps_the_wrapper(spark):
    in_use = _wrapper_in_use(spark)
    before = os.environ.get("PYSPARK_PYTHON")
    assert S.get_spark("pytest", shuffle_partitions=8) is spark
    assert os.environ.get("PYSPARK_PYTHON") == before
    assert (before == S._worker_wrapper) == in_use


def test_wrapper_starts_no_probe_and_drops_only_the_zips(monkeypatch, tmp_path):
    def no_process(*a, **k):
        raise AssertionError("a probe process was started")

    with monkeypatch.context() as m:
        m.setattr(subprocess, "run", no_process)
        m.setattr(subprocess, "Popen", no_process)
        m.setattr(S, "_worker_wrapper", None)
        m.setattr(S, "_unwrapped_python", None)
        m.setattr("tempfile.tempdir", str(tmp_path))
        m.delenv("PYSPARK_PYTHON", raising=False)
        S._use_zipless_workers("local[2]")
        wrapper = os.environ["PYSPARK_PYTHON"]
    assert wrapper.startswith(str(tmp_path))

    zips = "/spark/python/lib/pyspark.zip:/spark/python/lib/py4j-0.10.9.9-src.zip"
    show = "import json, os, sys; print(json.dumps([sys.executable, os.environ['PYTHONPATH']]))"
    out = subprocess.run(
        [wrapper, "-c", show],
        env={**os.environ, "PYTHONPATH": f"{zips}:{tmp_path}"},
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert json.loads(out) == [sys.executable, str(tmp_path)]


def test_cluster_master_leaves_pyspark_python_unset(monkeypatch, tmp_path):
    monkeypatch.setattr(S, "_worker_wrapper", None)
    monkeypatch.setattr(S, "_unwrapped_python", None)
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    for master in ("yarn", "spark://host:7077"):
        S._use_zipless_workers(master)
        assert "PYSPARK_PYTHON" not in os.environ
    assert S._worker_wrapper is None
    # a cluster session after a local one gets back the value the wrapper replaced
    S._use_zipless_workers("local[2]")
    wrapper = os.environ["PYSPARK_PYTHON"]
    S._use_zipless_workers("local[2]")
    assert os.environ["PYSPARK_PYTHON"] == wrapper
    S._use_zipless_workers("yarn")
    assert "PYSPARK_PYTHON" not in os.environ
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    S._use_zipless_workers("local")
    assert os.environ["PYSPARK_PYTHON"] == wrapper == S._worker_wrapper
    S._use_zipless_workers("spark://host:7077")
    assert os.environ["PYSPARK_PYTHON"] == sys.executable
