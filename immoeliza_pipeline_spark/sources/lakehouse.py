"""Lakehouse-format connectors (Delta / Iceberg / Hudi) — gated.

These formats need their runtime jars on the Spark classpath; this
image ships vanilla Spark, so each writer probes for the format and
raises a clear error when absent. The call sites and partitioning
contracts are real: drop the jar in, nothing else changes. MERGE/CDC
semantics are available jar-free via plans.prep.registry_merge_status
(full-outer emulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class FormatUnavailable(RuntimeError):
    pass


def _format_available(spark: SparkSession, fmt: str, probe_class: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(probe_class)  # noqa: SLF001
        return True
    except Exception:
        return False


_PROBES = {
    "delta": "org.apache.spark.sql.delta.DeltaLog",
    "iceberg": "org.apache.iceberg.Table",
    "hudi": "org.apache.hudi.DataSourceWriteOptions",
}


def write_lakehouse(df: DataFrame, path: str, fmt: str = "delta",
                    mode: str = "append",
                    partition_by: tuple[str, ...] = ()) -> None:
    """Write to a lakehouse table format (ACID, time travel, MERGE).
    Raises FormatUnavailable with the missing jar named when the
    format's runtime is not on the classpath."""
    if fmt not in _PROBES:
        raise ValueError(f"unknown lakehouse format: {fmt!r}")
    if not _format_available(df.sparkSession, fmt, _PROBES[fmt]):
        raise FormatUnavailable(
            f"{fmt} runtime jar not on the classpath; add the "
            f"{fmt}-spark runtime package to spark.jars.packages")
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)

