"""Spark's Python worker daemon, started without Spark's archives on ``sys.path``.

Every Python task calls ``importlib.invalidate_caches()``, and CPython's
``zipimporter`` re-reads its archive's whole directory on that call: the
pyspark and py4j zips under ``$SPARK_HOME/python/lib`` plus the Spark jar
cost each task about 0.3 s. Without them workers import the driver's own
pyspark, whose version ``session.build_session`` checks against the JVM's.
``pyspark.daemon`` reads ``sys.argv[1]`` at import, so it is imported last.
"""

import os
import sys
import zipimport

_LIB = os.path.realpath(os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib"))


def _is_spark_archive(path: str) -> bool:
    return path.endswith(".jar") or (
        path.endswith(".zip") and os.path.dirname(os.path.realpath(path)) == _LIB
    )


if __name__ == "__main__":
    sys.path[:] = [p for p in sys.path if not _is_spark_archive(p)]
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and _is_spark_archive(finder.archive):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()
