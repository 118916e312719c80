"""Query registry shared by the declared-query modules.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus (optionally)
an equivalent ANSI-SQL oracle string for DuckDB. The driver hash-compares the
two at sf0.01 (CORRECTNESS gate); entries without an oracle get a weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).

Float determinism contract: wherever an aggregate sums binary-inexact doubles
(money-like columns with 2 decimals), BOTH sides sum via DECIMAL(18,2) — an
exact, order-independent sum — then cast to double once. This makes results
bit-identical regardless of partitioning/shuffle order, so the engine remains
correct at any parallelism (local[32] today, 1000 executors at 100 TB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# name -> (application id, key, value): one slot per shared cache
_SESSION_CACHES: dict[str, tuple] = {}


def session_cache(spark, name: str, key, build, level: StorageLevel | None = None):
    """The value ``build()`` made for ``key`` in this Spark application,
    shared by every query that reads the cache ``name``.

    Each name keeps one slot: the latest key of the live session. A miss
    (another key, or an entry left by a stopped session) unpersists the
    value it replaces and stores ``build()``'s result, persisted at
    ``level`` when one is declared. A hit whose blocks ``clearCache()`` or
    ``unpersist()`` dropped (``storageLevel`` NONE) is persisted again at
    ``level`` instead of being served uncached. Values built without a
    level (``localCheckpoint`` tuples) are stored as they are.

    There is no lock: concurrent callers (``warm_shared_caches``) each use
    a different name."""
    app = spark.sparkContext.applicationId
    slot = _SESSION_CACHES.get(name)
    if slot is not None and slot[:2] == (app, key):
        value = slot[2]
        if level is not None and value.storageLevel == StorageLevel.NONE:
            value.persist(level)
        return value
    if slot is not None and level is not None:
        try:
            slot[2].unpersist()
        except Exception:  # noqa: BLE001
            pass  # session already stopped; blocks are gone with it
    value = build()
    if level is not None:
        value = value.persist(level)
    _SESSION_CACHES[name] = (app, key, value)
    return value


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def dsum(col: str, alias: str):
    """Order-independent exact sum of a 2-decimal double column → double."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


def davg(col: str, alias: str):
    """Deterministic average: exact decimal sum cast to double, / count."""
    return (
        F.sum(F.col(col).cast("decimal(18,2)")).cast("double") / F.count(F.col(col))
    ).alias(alias)


def sql_dsum(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def sql_davg(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({col}) AS {alias}"
