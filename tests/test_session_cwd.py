"""The package runs from any working directory: Python workers import
graphkb_spark through the PYTHONPATH that ``get_spark`` hands them, so
module-level pandas UDFs work even when the driver's cwd is not the
repo root and PYTHONPATH is unset."""

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from graphkb_spark.functions.hgvs import parse_variant_udf
from graphkb_spark.session import get_spark

spark = get_spark("cwd_probe", cpus=1)
df = spark.createDataFrame([("KRAS:p.G12D",)], "n string")
v = df.select(parse_variant_udf("n").alias("v")).collect()[0].v
print("parsed", v.variant_type, v.error)
spark.stop()
"""


def test_pandas_udf_from_foreign_cwd():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=str(REPO))],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "parsed missense None" in out.stdout
    assert "ModuleNotFoundError" not in out.stderr
