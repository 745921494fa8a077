"""Self-distribution of the engine to executor Python workers.

On a real cluster the engine ships as ``spark-submit --py-files
stellar_etl_spark.zip job.py`` (the deployment mode the north_rule
names). Functions used inside applyInPandasWithState / pandas UDFs are
cloudpickled *by reference* to this package, so every Python worker
must be able to import it — ``ship_package`` zips the package once per
application and registers it with ``sc.addPyFile``, which is exactly
what --py-files does. Idempotent and cheap: the zip holds the
package's 53 .py files, stored uncompressed (~527 KB); building it
takes ~5 ms and a first ship_package, zip plus addPyFile, 17-27 ms on a
4-vCPU host (perfbench's traced `deploy.ship_package_s`).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def build_zip(dest: str | None = None) -> str:
    """Zip this package (py files only) for --py-files / addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    dest = dest or os.path.join(tempfile.gettempdir(), "stellar_etl_spark.zip")
    with zipfile.ZipFile(dest, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return dest


def ship_package(spark: SparkSession) -> None:
    """Make the engine importable on all Python workers of this app."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED:
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"stellar_etl_spark-{app}.zip"
    )
    if not os.path.exists(zpath):
        build_zip(zpath)
    sc.addPyFile(zpath)
    _SHIPPED.add(app)
