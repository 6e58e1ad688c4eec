"""JDBC source (SURVEY.md §2.4 S5) — the reference's SQL Server
database (reference main.py:22-36, sqlalchemy+pyodbc), as Spark's JDBC
connector.

No JDBC driver jar ships with the package, so the reader is
import-safe and fails with an actionable message only when actually
invoked without a driver. The partitioned-read options are the part
that matters at scale: without partitionColumn/num_partitions a JDBC
read is one task on one executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_available(spark: SparkSession, driver: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(driver)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    driver: str = "com.microsoft.sqlserver.jdbc.SQLServerDriver",
    **options: str,
) -> DataFrame:
    """Range-partitioned parallel JDBC read: ``num_partitions`` tasks
    each scan one slice of ``partition_column``. The single-task
    default is the classic JDBC-at-scale mistake."""
    if not jdbc_available(spark, driver):
        raise RuntimeError(
            f"JDBC driver {driver!r} not on the classpath; add the jar via "
            "spark.jars / spark.jars.packages to use the JDBC source."
        )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
        .options(**options)
        .load()
    )

