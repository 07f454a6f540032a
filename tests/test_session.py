"""build_session: PySpark's call-site capture is off, and under spark-submit
the submitted master and confs win over the session defaults."""

import json
import os
import subprocess
import sys

from pyspark.errors.utils import is_debugging_enabled

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_submit() -> str:
    """spark-submit of $SPARK_HOME, else the one pip's pyspark ships."""
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    return os.path.join(home, "bin", "spark-submit")


def submit_env() -> dict:
    return {
        **os.environ,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
    }


def test_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_submitted_conf_wins(tmp_path):
    """--master, --driver-memory and --conf reach the session unchanged;
    the defaults build_session adds still apply where nothing was
    submitted."""
    script = tmp_path / "conf.py"
    script.write_text(
        "import json\n"
        "from cs3103_gocrawler_spark.session import build_session\n"
        "spark = build_session()\n"
        "conf = dict(spark.sparkContext.getConf().getAll())\n"
        "conf['debugging'] = spark.conf.get("
        "'spark.python.sql.dataFrameDebugging.enabled')\n"
        "print(json.dumps(conf))\n"
        "spark.stop()\n"
    )
    p = subprocess.run(
        [spark_submit(), "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.sql.shuffle.partitions=3", str(script)],
        capture_output=True, text=True, timeout=300, env=submit_env(),
    )
    assert p.returncode == 0, p.stderr[-2000:]
    conf = json.loads([ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1])
    assert conf["spark.master"] == "local[2]"
    assert conf["spark.driver.memory"] == "1g"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    # derived from the submitted master, not from the host's cores
    assert conf["spark.default.parallelism"] == "2"
    assert conf["debugging"] == "false"
