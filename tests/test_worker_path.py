"""Python workers import the package whatever the working directory.

A script that puts the repository on ``sys.path`` itself (as
``scripts/check_correctness.py`` and ``scripts/plan_shapes.py`` do) and
runs from another directory used to fail in every Python worker with
``ModuleNotFoundError: prosnet_prefect_pipelines_spark``: a ``sys.path``
entry of the calling process does not reach the workers the JVM
launches. ``session.get_spark`` exports the package root on
``PYTHONPATH`` before the JVM starts.
"""

from __future__ import annotations

import os
import subprocess
import sys

from prosnet_prefect_pipelines_spark.session import PACKAGE_ROOT

SCRIPT = f"""
import sys
sys.path.insert(0, {PACKAGE_ROOT!r})
from pyspark.sql.functions import udf
from pyspark.sql.types import StringType
from prosnet_prefect_pipelines_spark.session import get_spark

@udf(StringType())
def package_file(_):
    import prosnet_prefect_pipelines_spark
    return prosnet_prefect_pipelines_spark.__file__

spark = get_spark("worker_path", cpus=1)
print(spark.range(1).select(package_file("id")).first()[0])
spark.stop()
"""


def test_python_workers_import_the_package_off_the_repo_root(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m")
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
             if p and os.path.abspath(p) != PACKAGE_ROOT]
    env["PYTHONPATH"] = os.pathsep.join(paths)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1].startswith(PACKAGE_ROOT + os.sep)
