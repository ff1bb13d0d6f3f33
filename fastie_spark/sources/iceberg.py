"""Iceberg table I/O behind an import-try (SURVEY.md §7.1 step 9).

The sandbox image has no Iceberg runtime jars, so the engine's table layer
(materialize.py) uses hash-bucketed parquet with dynamic-partition-overwrite
+ an atomic JSON manifest — functionally the same commit semantics as an
Iceberg ``replacePartitions`` snapshot. On a cluster with
``iceberg-spark-runtime`` on the classpath, this module is the one-function
swap: ``writer()``/``reader()`` route to the catalog, and
materialize.materialize_snapshot's write call is the only site to change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_table(df: DataFrame, name: str, parquet_fallback: str,
                mode: str = "append") -> str:
    """Write to the Iceberg catalog table if the runtime is present, else to
    the parquet fallback path. Returns the sink actually used."""
    spark = df.sparkSession
    if iceberg_available(spark):
        writer = df.writeTo(f"graph.{name}")
        if mode != "append":
            writer.createOrReplace()
        else:
            try:
                writer.append()
            except Exception:  # first write: table does not exist yet
                writer.create()
        return f"iceberg:graph.{name}"
    df.write.mode("overwrite" if mode != "append" else "append").parquet(
        parquet_fallback
    )
    return f"parquet:{parquet_fallback}"


def read_table(spark: SparkSession, name: str, parquet_fallback: str) -> DataFrame:
    if iceberg_available(spark):
        return spark.read.table(f"graph.{name}")
    return spark.read.parquet(parquet_fallback)
