"""Python worker daemon with heavyweight imports preloaded.

``pyspark.daemon`` forks one child per worker; a forked child inherits
the parent's imported modules copy-on-write. Stock daemons import only
pyspark, so EVERY fresh worker pays the pandas + pyarrow(+compute) +
numpy import chain (~0.3-0.5 s CPU measured via the UDF perf profiler:
``marshal.loads`` / ``_imp.exec_dynamic`` / ``pyarrow.compute.
_make_global_functions`` dominate) before its first batch. A 32-core
local session that fans a stage out to 32 fresh workers burns ~10-16 s
of process CPU on imports alone — guide §4.5 (initialise heavyweight
state once) applied at the daemon level, where it amortises across
every worker instead of once per worker.

Failures are swallowed: a missing optional module must never take down
worker creation — the fork just pays that import lazily as before.

The daemon also freezes zipimport cache invalidation for the archives of
the Spark install on its ``sys.path`` — ``pyspark.zip``, ``py4j-*.zip``
and ``spark-core_*.jar``, which Spark lists there because it carries
Python files and which is the largest of the three. Every task would
otherwise re-read each archive's central directory (see below).
"""

from __future__ import annotations

for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.compute",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
):
    try:  # noqa: SIM105
        __import__(_mod)
    except Exception:  # pragma: no cover - optional dependency missing
        pass

# ---------------------------------------------------------------------------
# Freeze zipimport cache invalidation for the Spark install's archives.
# pyspark.worker_util.setup_spark_files calls importlib.invalidate_caches()
# ON EVERY TASK; for every archive on sys.path the zipimporter then
# re-reads its whole central directory. The worker's sys.path holds
# pyspark.zip (3.5 MB), py4j-*.zip and spark-core_*.jar: Spark puts the
# jar there because it carries Python files too, and with ~5,400 entries
# it is the most expensive of the three — profiled at ~12 of 13.5 s for
# an empty 32-task mapInPandas (zipimport._read_directory). These
# archives are part of the immutable install, so re-reading them can
# never observe a change.
#
# The frozen set is every .zip/.jar on the daemon's sys.path whose
# realpath lies under realpath($SPARK_HOME), computed ONCE here: forked
# workers inherit it, and a per-task realpath would cost ~3 ms a task.
# Archives that are not on sys.path at daemon start — zips shipped with
# ``sc.addPyFile``/``--py-files``, which the worker adds per task — keep
# the stock invalidation, as does directory (FileFinder) invalidation.
# ---------------------------------------------------------------------------
try:
    import os
    import sys
    import zipimport

    def _install_archives(paths: list[str], spark_home: str | None) -> frozenset:
        """The .zip/.jar entries of ``paths`` that resolve into the Spark
        install at ``spark_home`` (none when it is unset)."""
        if not spark_home:
            return frozenset()
        root = os.path.join(os.path.realpath(spark_home), "")
        return frozenset(
            p
            for p in paths
            if p.endswith((".zip", ".jar"))
            and os.path.realpath(p).startswith(root)
        )

    _FROZEN_ARCHIVES = _install_archives(sys.path, os.environ.get("SPARK_HOME"))
    _orig_invalidate = zipimport.zipimporter.invalidate_caches

    def _invalidate_unless_spark_install(self):  # type: ignore[no-untyped-def]
        """Skip invalidation ONLY for the Spark-install archives found
        at daemon start; any other zip falls through to the original
        method, so dynamic code shipping keeps its stock semantics."""
        if getattr(self, "archive", None) in _FROZEN_ARCHIVES:
            return
        _orig_invalidate(self)

    zipimport.zipimporter.invalidate_caches = (  # type: ignore[method-assign]
        _invalidate_unless_spark_install
    )
    # drop sys.path zip entries that do not exist (a stale
    # lib/python311.zip ships in this interpreter's default path):
    # every per-task invalidate/stat cycle probes them for nothing
    sys.path[:] = [
        p
        for p in sys.path
        if not (p.endswith(".zip") and not os.path.exists(p))
    ]
except Exception:  # pragma: no cover - zipimport internals moved
    pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
