"""The Python daemon of engine-built sessions: workers import pyspark and
py4j from the interpreter, not from Spark's archives, so the per-task
``importlib.invalidate_caches()`` re-reads no zip directory."""

from __future__ import annotations

from flink_notebooks_spark.daemon import _own_pyspark, worker_path

SPARK_PATH = [
    "/work",
    "/s/python/lib/pyspark.zip",
    "/s/python/lib/py4j-0.10.9.9-src.zip",
    "/s/jars/spark-core_2.13-4.1.2.jar",
    "/repo",
    "/x/deps.zip",
    "/usr/lib/python311.zip",
    "/usr/lib/python3.11/site-packages",
]


def test_python_task_finds_no_zipimporter(spark):
    def probe(_):
        import importlib
        import sys
        import time
        import zipimport

        import pyspark

        zips = [
            k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
        ]
        ms = []
        for _ in range(3):
            t = time.perf_counter()
            importlib.invalidate_caches()
            ms.append((time.perf_counter() - t) * 1000)
        yield zips, min(ms), pyspark.__version__

    zips, ms, version = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    assert zips == []
    assert ms <= 1.0
    assert version == spark.version


def test_worker_path_keeps_spark_default_unless_own_modules_match(tmp_path):
    kept = worker_path(SPARK_PATH, "4.1.2", True)
    # a user archive on PYTHONPATH stays; only the JVM's three entries go
    assert kept == [p for p in SPARK_PATH if p.startswith(("/work", "/repo", "/x/", "/usr/"))]
    assert worker_path(SPARK_PATH, "4.0.1", True) == SPARK_PATH  # version mismatch
    assert worker_path(SPARK_PATH, None, True) == SPARK_PATH  # no own pyspark
    assert worker_path(SPARK_PATH, "4.1.2", False) == SPARK_PATH  # py4j missing
    no_jar = [p for p in SPARK_PATH if not p.endswith(".jar")]
    assert worker_path(no_jar, "4.1.2", True) == no_jar  # Spark's version unknown
    # the interpreter's own version is read from its pyspark/version.py
    pkg = tmp_path / "site" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text("__version__: str = '4.1.2'\n")
    assert _own_pyspark([str(tmp_path / "site")]) == "4.1.2"
    assert _own_pyspark([str(tmp_path)]) is None
