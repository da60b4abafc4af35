"""Python workers start from ``highspeedrailwaybigdatasystem_spark.pydaemon``:
no Spark zip or jar on their ``sys.path`` (each task's
``importlib.invalidate_caches()`` re-read those archives' directories), and
they import the driver's own pyspark, whose version must be the JVM's."""

from __future__ import annotations

import os

import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home

from highspeedrailwaybigdatasystem_spark.session import check_pyspark_version


def test_version_split_fails_loud():
    check_pyspark_version("4.1.2", "4.1.2")
    with pytest.raises(RuntimeError, match=r"pyspark 4\.1\.2 .* Spark 4\.0\.1"):
        check_pyspark_version("4.1.2", "4.0.1")


def test_worker_imports_without_spark_archives(spark):
    def probe(batches):
        import sys

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        kinds = sorted({type(f).__name__ for f in sys.path_importer_cache.values()})
        yield pa.RecordBatch.from_pydict(
            {"path": [sys.path], "importers": [kinds], "pyspark": [pyspark.__file__]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "path array<string>, importers array<string>, pyspark string")
        .collect()[0]
    )
    lib = os.path.realpath(os.path.join(_find_spark_home(), "python", "lib"))
    assert "zipimporter" not in row.importers, row.importers
    assert not [p for p in row.path if p.endswith(".jar")], row.path
    assert not [
        p for p in row.path
        if p.endswith(".zip") and os.path.dirname(os.path.realpath(p)) == lib
    ], row.path
    assert row.pyspark == pyspark.__file__
