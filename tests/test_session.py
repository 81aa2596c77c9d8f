"""Session factory: Python workers of a local master import rios_spark
from any working directory; the default driver heap fits the host."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from rios_spark.session import get_spark

def kern(batches):
    import rios_spark.spatial
    for pdf in batches:
        yield pdf.assign(ok=rios_spark.spatial.EARTH_RADIUS_KM > 0)

spark = get_spark("worker_path", master="local[1]", shuffle_partitions=1)
rows = spark.range(3).mapInPandas(kern, "id long, ok boolean").collect()
assert [r.ok for r in rows] == [True, True, True], rows
spark.stop()
print("WORKERS_OK")
"""


def test_local_workers_import_package_outside_checkout(tmp_path):
    """The driver imports the package through sys.path only, from a cwd
    outside the checkout and with no PYTHONPATH: the mapInPandas kernel
    that imports rios_spark on the worker must still run."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "WORKERS_OK" in proc.stdout, proc.stderr[-3000:]


def test_driver_memory_default_fits_host(monkeypatch):
    """$SPARK_DRIVER_MEM wins; unset, the heap is min(24g, RAM / 2)."""
    from rios_spark.session import _driver_memory

    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    mb = int(_driver_memory().rstrip("m"))
    assert abs(mb - min(24 * 1024, total_mb // 2)) <= 1
