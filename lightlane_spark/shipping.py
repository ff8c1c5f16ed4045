"""Ship the package to Python workers.

Closures sent to executors (mapInPandas / applyInPandasWithState) may
reference module-level functions of this package; cloudpickle pickles
those BY REFERENCE, so the worker process must be able to import
``lightlane_spark``. When the driver runs from a checkout that isn't
on the executors' PYTHONPATH (spark-submit from another cwd, a
notebook, the correctness driver), that import fails with
``ModuleNotFoundError`` inside the worker.

``ensure_package_shipped`` zips the package and ``addPyFile``s it —
the Spark-native way to deploy driver-side code to executors; workers
add the zip to ``sys.path``. Idempotent per SparkContext.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from lightlane_spark.cache import session_memo


def ensure_package_shipped(spark) -> None:
    session_memo(spark, "package_shipped", lambda: _ship(spark.sparkContext))


def _ship(sc) -> str:
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"lightlane_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    rel = os.path.join(
                        "lightlane_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    return zpath
