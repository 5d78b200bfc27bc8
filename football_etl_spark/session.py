"""SparkSession factory with engine defaults.

The engine pins the handful of configs that its semantics rely on
(SURVEY.md §7.4):

- ``spark.sql.ansi.enabled=false`` — the reference's pandas
  ``to_numeric(errors='coerce')`` / permissive date parsing semantics
  (null-on-failure) require non-ANSI casts; the expression library
  additionally uses ``try_*`` forms so it stays correct either way.
- ``spark.sql.session.timeZone=UTC`` — oracle comparison against
  DuckDB's UTC-naive timestamps.
- AQE on — runtime partition coalescing + skew-join handling is the
  scale story for skewed keys (big leagues / hot customers).
- On a local master, streaming checkpoints go through
  ``FileSystemBasedCheckpointFileManager``. Without the native
  libhadoop, Hadoop's local file system forks a ``readlink`` process
  for every FileContext rename (about 8 per offset, commit or source
  log file) and a ``chmod`` process for every file it creates. The
  FileSystem-based manager renames with ``File.renameTo``, one atomic
  rename(2) on a local disk, so each micro-batch's three log writes
  fork nothing. The trade-off: FileContext's rename refuses to
  overwrite, so it keeps two drivers writing one checkpoint at once
  from both committing the same batch. Two concurrent drivers on one
  checkpoint are unsupported either way. An ``extra_conf`` value for
  the key wins.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from types import SimpleNamespace
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

_PKG_ROOT = os.path.dirname(os.path.abspath(__file__))


def default_parallelism() -> int:
    """Worker threads for local mode (driver-set via SPARK_GRAFT_CPUS)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# The entries session_memo holds: one application's at a time, since a
# process runs at most one live SparkContext.
_memo = SimpleNamespace(app=None, entries={})


def application_id(spark: SparkSession) -> str:
    """The id of ``spark``'s application; unique per SparkContext."""
    return spark.sparkContext.applicationId


def session_memo(
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], T],
    *,
    token: Hashable = None,
    release: Callable[[T], object] | None = None,
) -> T:
    """``build()``, memoised per application under ``key`` — the one
    cache of driver-side values the engine keeps (prepared plans,
    loaded tables, collected control-plane rows, broadcasts, the
    shipped package).

    - Per application: entries live as long as the SparkContext that
      built them, so a stopped-and-recreated session never sees its
      predecessor's plans or broadcasts.
    - Dead applications evicted: a miss under a new application drops
      every entry of the old one (its context, and anything it
      broadcast, is already gone, so nothing is released).
    - Token supersedes: an entry stored with a different ``token``
      (e.g. a digest of the content it was built from) is rebuilt.
    - Release on supersede: the replaced value is passed to
      ``release`` (e.g. ``Broadcast.unpersist``), so one live value
      remains per key.

    String parts of a tuple ``key`` drop trailing slashes, so
    ``sf_dir`` and ``sf_dir + "/"`` share entries. A hit is one dict
    lookup."""
    app = application_id(spark)
    if isinstance(key, tuple):
        key = tuple(k.rstrip("/") if isinstance(k, str) else k for k in key)
    if _memo.app != app:
        _memo.app, _memo.entries = app, {}
    hit = _memo.entries.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    value = build()
    _memo.entries[key] = (token, value)
    if hit is not None and release is not None:
        release(hit[1])
    return value


def ship_package(spark: SparkSession) -> None:
    """Distribute the engine's package source to executor Python
    workers — the in-process twin of ``spark-submit --py-files``.

    Code that pickles BY REFERENCE (Python DataSource classes,
    module-level helpers) needs ``football_etl_spark`` importable on
    the worker side; when the driver found the repo via ``sys.path``
    alone (foreign cwd, no PYTHONPATH export — exactly how the
    correctness driver invokes the contract module), workers cannot.
    Zipping the package and ``addPyFile``-ing it puts the archive on
    every worker's ``sys.path`` before task deserialization; it runs
    once per application (:func:`session_memo`). On a real cluster
    the same archive rides ``--py-files``/``spark.submit.pyFiles`` and
    this helper is a harmless re-add."""
    session_memo(spark, "ship_package", lambda: _ship(spark))


def _ship(spark: SparkSession) -> bool:
    import tempfile
    import zipfile

    parent = os.path.dirname(_PKG_ROOT)
    zp = os.path.join(tempfile.gettempdir(), f"fes_pkg_{os.getpid()}.zip")
    # Always (re)build: an archive left by a recycled pid or an older
    # checkout must never ship stale code to executors. The build is
    # ~60 small files; os.replace keeps the publish atomic.
    tmp = f"{zp}.{application_id(spark)}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _, files in os.walk(_PKG_ROOT):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, parent))
    os.replace(tmp, zp)
    spark.sparkContext.addPyFile(zp)
    return True


def get_spark(
    app_name: str = "football-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count — the right
    size for local mode; on a real cluster the engine relies on AQE
    coalescing from a larger initial number, so callers pass it
    explicitly there.

    On a local master the Python workers fork from
    :mod:`football_etl_spark.worker_daemon` rather than
    ``pyspark.daemon`` (it spares each task a re-read of every zip on
    the worker's path), with the package's parent directory appended
    to the workers' ``PYTHONPATH`` so the daemon imports from any cwd.
    Other masters keep the stock daemon: their executors may not have
    the package. Local masters also take the fork-free checkpoint file
    manager of the module docstring; other masters keep Spark's
    default.
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    conf = dict(extra_conf or {})
    if master == "local" or master.startswith("local["):
        conf.setdefault("spark.python.daemon.module", "football_etl_spark.worker_daemon")
        conf.setdefault(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        path = conf.get("spark.executorEnv.PYTHONPATH")
        parent = os.path.dirname(_PKG_ROOT)
        conf["spark.executorEnv.PYTHONPATH"] = f"{path}{os.pathsep}{parent}" if path else parent
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
