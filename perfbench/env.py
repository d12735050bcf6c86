"""Process environment shared by the benchmark and its corpus generator.

Everything the benchmark and Spark write stays inside the checkout:
generated inputs under ``perfbench/.data``, work files, Spark local dirs,
JVM and Python temp files under ``perfbench/.work``, result files under
``perfbench/.out``.
"""

from __future__ import annotations

import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, ".data")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, ".out")
TMP_DIR = os.path.join(WORK_DIR, "tmp")

# one closed-loop client on 4 cores, whatever the host has: results stay
# comparable between machines with different core counts
CPUS = "4"
DRIVER_MEM = "2g"


def prepare() -> None:
    """Point every temp/scratch location into the checkout and make the
    package importable here and in Spark's Python workers."""
    for d in (DATA_DIR, WORK_DIR, OUT_DIR, TMP_DIR):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP_DIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf() -> dict[str, str]:
    """Session settings that keep Spark's own files inside the checkout."""
    return {
        "spark.local.dir": os.path.join(WORK_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP_DIR} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def package_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("collection_templates_spark") is not None
