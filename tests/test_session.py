"""The session factory's master rule: a spark-submit launch keeps the
master it was given; a plain python process runs local[cores], and a
later session in the same process gets its own core count."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
from timezone_boundary_builder_spark.session import get_spark
for cores in map(int, sys.argv[1:]):
    spark = get_spark("tzbb-master-probe", cores=cores)
    print("MASTER", spark.sparkContext.master, flush=True)
    spark.stop()
"""


def _spark_submit():
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    return os.path.join(home, "bin", "spark-submit")


def _masters(cmd, tmp_path):
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "spark-local")
    r = subprocess.run(
        cmd, env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return [ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("MASTER ")]


@pytest.fixture
def probe(tmp_path):
    path = tmp_path / "probe.py"
    path.write_text(PROBE)
    return str(path)


def test_spark_submit_master_is_kept(probe, tmp_path):
    cmd = [_spark_submit(), "--master", "local[2]", probe, "3"]
    assert _masters(cmd, tmp_path) == ["local[2]"]


def test_plain_python_runs_local_cores_per_session(probe, tmp_path):
    masters = _masters([sys.executable, probe, "3", "2"], tmp_path)
    assert masters == ["local[3]", "local[2]"]
