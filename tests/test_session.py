"""Session construction from outside the repository: the defaults a
caller gets when it sets nothing."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO_ROOT

_SCRIPT = """
import os, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import functions as F
from wikidata2pg_spark.session import get_session

spark = get_session("session-defaults")
print("parallelism", spark.sparkContext.defaultParallelism)

@F.pandas_udf("string")
def package_name(s: pd.Series) -> pd.Series:
    import wikidata2pg_spark
    return s.map(lambda _: wikidata2pg_spark.__name__)

print("udf", spark.range(1).select(package_name(F.col("id").cast("string"))).first()[0])
spark.stop()
"""


def test_session_defaults_from_another_directory(tmp_path):
    """With the working directory outside the repo, the package only on
    this process's sys.path and SPARK_GRAFT_CPUS unset, get_session sizes
    local[N] to the cores this process may use, and a pandas UDF's
    Python worker can import the package."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO_ROOT
    )
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO_ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    assert lines["parallelism"] == str(len(os.sched_getaffinity(0)))
    assert lines["udf"] == "wikidata2pg_spark"
