"""Iceberg connector adapter (SURVEY.md S7; reference CONNECTORS.md:29-59).

The reference wires Iceberg hadoop/Glue catalogs into Flink; the Spark
equivalent is the ``iceberg-spark-runtime`` package registering a
``SparkCatalog``. That jar is not bundled in this environment, so this
module raises a clear, early error instead of an opaque classpath failure.
A deployment registers the catalog with the usual static
``spark.sql.catalog.<name>`` confs at session build. With the
jar present, Iceberg tables need nothing else from this engine — they are
ordinary Spark-catalog tables reachable through the same SQL surface
(`USE CATALOG`, `SHOW TABLES`, queries, `INSERT`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

RUNTIME_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def runtime_available(spark: SparkSession) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(RUNTIME_CLASS)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001
        return False


def _require(spark: SparkSession) -> None:
    if not runtime_available(spark):
        raise RuntimeError(
            "Iceberg support requires the iceberg-spark-runtime jar on the "
            "session classpath (spark.jars.packages="
            "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version>); "
            "not bundled in this environment"
        )


def build_batch(spark: SparkSession, table) -> DataFrame:
    _require(spark)
    return spark.table(table.options.get("table-name", table.name))


def build_stream(spark: SparkSession, table) -> DataFrame:
    _require(spark)
    return (
        spark.readStream.format("iceberg")
        .load(table.options.get("table-name", table.name))
    )
