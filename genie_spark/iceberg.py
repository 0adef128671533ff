"""Iceberg integration: the production table layer, guarded for sandboxes.

The north-rule deployment writes pages/extractions/graph to Apache Iceberg
tables. Without the iceberg-spark runtime jar every entry point degrades
to the Parquet-directory layout with identical partitioning. (Resumable
runs, checkpoint.py, write Parquet directories only; their commit point
is the chunk lineage record, not an Iceberg snapshot.) On a cluster,
enable with:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.genie=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.genie.type=hadoop \
      --conf spark.sql.catalog.genie.warehouse=<warehouse-path> ...

All helpers check availability at call time; nothing imports Iceberg
classes eagerly.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is reachable in this session.
    Asks Spark whether the class loads instead of catching
    ``Class.forName``'s exception: converting a Java exception costs
    about 80 py4j round trips."""
    utils = spark.sparkContext._jvm.org.apache.spark.util.Utils
    return bool(utils.classIsLoadable("org.apache.iceberg.spark.SparkCatalog"))


def write_table(
    df: DataFrame,
    identifier: str,
    path_fallback: str,
    mode: str = "append",
    partition_by: Optional[str] = None,
) -> str:
    """Write to the Iceberg table ``identifier`` when the runtime is
    present (atomic snapshot commit; readers get serializable isolation),
    else to ``path_fallback`` as partitioned Parquet with the same layout.
    Returns 'iceberg' or 'parquet' so callers can record the sink kind in
    lineage."""
    spark = df.sparkSession
    if iceberg_available(spark):
        writer = df.writeTo(identifier)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(F.col(partition_by))
        if mode == "overwrite":
            writer.createOrReplace()
        elif spark.catalog.tableExists(identifier):
            # existence decides create-vs-append explicitly: a bare
            # try/append-except/create would mask a genuine append failure
            # (schema drift, commit conflict) behind TableAlreadyExists
            writer.append()
        else:
            writer.create()
        return "iceberg"
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path_fallback)
    return "parquet"


def read_table(
    spark: SparkSession, identifier: str, path_fallback: str
) -> DataFrame:
    if iceberg_available(spark):
        return spark.read.table(identifier)
    return spark.read.parquet(path_fallback)
