from __future__ import annotations

import os
import stat
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lakehouse_test_spark.session import get_spark

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: Spark puts its bundled ``pyspark.zip`` and py4j zip first on every
#: Python worker's PYTHONPATH. Zip imports cannot use cached bytecode,
#: so each worker it launches (every Python DataSource planning call,
#: every Python streaming source run) recompiles pyspark: about 1 s per
#: launch. This interpreter wrapper drops the two zips so workers import
#: the installed package of the same version, byte-compiled.
_WORKER_SH = """#!/bin/sh
set -f
IFS=:
p=
for e in $PYTHONPATH; do
  case "$e" in
    */pyspark.zip|*/py4j-*-src.zip) ;;
    *) p="${p:+$p:}$e" ;;
  esac
done
export PYTHONPATH="$p"
exec "%s" "$@"
"""


def _fast_python_workers(tmp: Path) -> None:
    """Point PYSPARK_PYTHON at the wrapper above, around the worker
    interpreter already configured, when that interpreter imports the
    same pyspark version without the zips."""
    import py4j
    import pyspark

    exe = os.environ.get("PYSPARK_PYTHON") or "python3"
    if any(".zip" in m.__file__ for m in (pyspark, py4j)):
        return
    try:
        found = subprocess.run(
            [exe, "-c", "import py4j, pyspark; print(pyspark.__version__)"],
            capture_output=True,
            text=True,
            timeout=120,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return
    if found != pyspark.__version__:
        return
    wrapper = tmp / "python"
    wrapper.write_text(_WORKER_SH % exe)
    wrapper.chmod(wrapper.stat().st_mode | stat.S_IXUSR)
    os.environ["PYSPARK_PYTHON"] = str(wrapper)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    _fast_python_workers(tmp_path_factory.mktemp("pyworker"))
    spark = get_spark("pytest", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF_DIR
