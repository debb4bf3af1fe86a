"""Ship this package to Spark Python workers.

Any Pandas-UDF / mapInPandas closure defined in this package is
cloudpickled *by reference* to its module, so executors must be able to
import ``hdb_resale_price_data_pipeline_spark``. On a cluster that means
``--py-files``; programmatically it means ``sc.addPyFile`` with a zip of
the package. Called lazily (and idempotently per session) by every
operator that crosses the Python boundary.
"""

from __future__ import annotations

import os
import weakref
import zipfile

from pyspark.sql import SparkSession

from .operators.index_cache import stage_dir

# Weak registry, NOT id()-keyed: a CPython id is reused after GC, so an
# id-set would mark a brand-new session at a recycled address as
# already-shipped and every executor-side import would fail. Dead
# sessions fall out of a WeakSet automatically.
_SHIPPED_SESSIONS: "weakref.WeakSet[object]" = weakref.WeakSet()


def _package_zip() -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_dir = stage_dir("pkg", (), pkg_dir)  # one per checkout
    os.makedirs(zip_dir, exist_ok=True)
    zip_path = os.path.join(zip_dir, f"{pkg_name}.zip")
    # rebuild when any source file is newer than the zip
    sources = [
        os.path.join(root, f)
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    ]
    if os.path.exists(zip_path) and all(
        os.path.getmtime(s) <= os.path.getmtime(zip_path) for s in sources
    ):
        return zip_path
    tmp = zip_path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for src in sources:
            arcname = os.path.join(pkg_name, os.path.relpath(src, pkg_dir))
            zf.write(src, arcname)
    os.replace(tmp, zip_path)
    return zip_path


def ensure_package_shipped(spark: SparkSession) -> None:
    """Idempotently ship the package zip to executors.

    Classic sessions go through ``sc.addPyFile`` (py4j gateway). Under
    Spark Connect the client has no SparkContext, so the artifact API
    (``spark.addArtifacts(..., pyfile=True)``) ships the same zip."""
    try:
        sc = spark.sparkContext
    except Exception:
        sc = None  # Spark Connect client: no gateway-side context
    if sc is not None:
        if sc in _SHIPPED_SESSIONS:
            return
        sc.addPyFile(_package_zip())
        _SHIPPED_SESSIONS.add(sc)
        return
    if spark in _SHIPPED_SESSIONS:
        return
    spark.addArtifacts(_package_zip(), pyfile=True)
    _SHIPPED_SESSIONS.add(spark)
