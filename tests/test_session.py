"""``session.get_spark`` makes the package importable in its Python workers.

Each case starts its own Spark driver in a subprocess whose working
directory is outside the repository, with the package on the driver's
``sys.path`` only, and runs a pandas-UDF query there."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from entity_matchers_spark.session import PACKAGE_PARENT

SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from entity_matchers_spark.functions.similarity import jaro_winkler_udf
from entity_matchers_spark.session import get_spark

spark = get_spark(app_name="worker-path", master="local[1]")
df = spark.createDataFrame([("martha", "marhta")], "a string, b string")
jw = df.select(jaro_winkler_udf(F.col("a"), F.col("b"))).first()[0]
paths = spark.sparkContext.parallelize([0], 1).map(lambda _: __import__("sys").path).first()
spark.stop()
print(json.dumps({{"jw": jw, "paths": paths}}))
"""


@pytest.mark.parametrize("inherited", [None, "extra"])
def test_workers_import_the_package_without_pythonpath(tmp_path, inherited):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "512m"
    extra = None
    if inherited:
        extra = str(tmp_path / inherited)
        os.makedirs(extra)
        env["PYTHONPATH"] = extra
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=PACKAGE_PARENT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["jw"] == pytest.approx(0.9611, abs=1e-4)
    assert PACKAGE_PARENT in out["paths"]
    if extra:
        assert extra in out["paths"]
