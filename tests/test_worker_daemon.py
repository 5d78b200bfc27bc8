"""worker_daemon: Python workers re-read a zip on ``sys.path`` only
when the archive changed, instead of on every task's
``importlib.invalidate_caches()``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from football_etl_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from Python 3.13"
)


def _publish(zp: str, modules: dict[str, str]) -> None:
    """Write a zip holding package ``zpkg`` with ``modules`` and
    publish it over ``zp`` with ``os.replace``, as ship_package does."""
    tmp = f"{zp}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"zpkg/{name}.py", src)
    os.replace(tmp, zp)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """JVM-free: two importers on one zip (the archive's and the
    package's). Repeated invalidations of an unchanged archive read
    its directory zero times; after it is rewritten with a new module,
    one invalidation reads it once for both importers and the module
    imports."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    reads: list[str] = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda archive: reads.append(archive) or stock_read(archive)
    )
    zp = str(tmp_path / "lib.zip")
    _publish(zp, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(zp)
    for mod in ("zpkg", "zpkg.a", "zpkg.b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zpkg.a").X == 1
    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == zp
    ]
    assert len(importers) == 2

    importlib.invalidate_caches()  # first sight of the archive: one read
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zp) == 0

    _publish(zp, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(zp) == 1
    assert importlib.import_module("zpkg.b").Y == 2


def test_python_workers_run_the_patched_importer(spark):
    """Python workers of the test session fork from worker_daemon, so
    a task sees its invalidate_caches in place of zipimport's."""

    @F.pandas_udf("string")
    def where(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    rows = spark.range(4).select(where("id").alias("m")).distinct().collect()
    assert [r.m for r in rows] == ["football_etl_spark.worker_daemon"]
