"""Python daemon of engine-built sessions (``spark.python.daemon.module``).

The JVM puts ``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core jar
ahead of site-packages on the workers' path. pyspark's worker calls
``importlib.invalidate_caches()`` once per task, and each cached
zipimporter then re-reads its archive's directory: 120-140 ms per task on
a 4-vCPU host. When this interpreter's own pyspark has the jar's version and
its own py4j imports, the daemon drops those entries before
``pyspark.daemon.manager()`` runs; the workers it forks inherit the path.
Otherwise Spark's default path stays as it is.
"""

import os
import re
import sys
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or re.fullmatch(r"py4j-.*-src\.zip|.*\.jar", name) is not None


def worker_path(path: list[str], own_pyspark: str | None, own_py4j: bool) -> list[str]:
    """``path`` without the JVM's archives, or unchanged when the
    interpreter's pyspark (``own_pyspark``, its ``__version__``) is not the
    spark-core jar's version or its py4j is not importable."""
    jars = [re.fullmatch(r"spark-core_[^-]+-(.+)\.jar", os.path.basename(p)) for p in path]
    spark = {m.group(1) for m in jars if m}
    if spark != {own_pyspark} or not own_py4j:
        return list(path)
    return [p for p in path if not _is_spark_archive(p)]


def _own_pyspark(path: list[str]) -> str | None:
    """``__version__`` of the pyspark package found on ``path``, unimported."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            m = re.search(r"""__version__.*?['"](.+?)['"]""", f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def main() -> None:
    own = [p for p in sys.path if not _is_spark_archive(p)]
    kept = worker_path(sys.path, _own_pyspark(own), PathFinder.find_spec("py4j", own) is not None)
    dropped = set(sys.path) - set(kept)
    sys.path[:] = kept
    inside = tuple(d + os.sep for d in dropped)  # e.g. the jar's /org subpath
    for key in [k for k in sys.path_importer_cache if k in dropped or k.startswith(inside)]:
        del sys.path_importer_cache[key]
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
