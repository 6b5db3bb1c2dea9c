"""Cell-partitioned corpus layout — the ANN probe path at 100 TB.

``ivf_topk`` (functions/similarity.py) shows the query shape; this module
is the LAYOUT half of the design: the corpus is written ONCE partitioned
by its IVF cell, so a probe for ``nprobe`` cells scans only those
directories — partition pruning eliminates the other |cells|-nprobe
fractions of the data before any I/O happens. The same helper serves any
categorical partition key (date, language, source bucket), and
``write_range_clustered`` tightens one column's row-group statistics.
Multi-column clustering is ``functions/layout.py:zorder_layout``: write
its output to get row-group statistics that prune every z-ordered column.

tests/test_scale_tools.py asserts the pruning actually reaches the scan
(PartitionFilters on the FileScan, not a post-scan Filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_col: str, mode: str = "overwrite") -> None:
    """Write parquet hive-partitioned by ``partition_col``. One directory
    per value: the physical contract that makes probe-time pruning free."""
    df.write.partitionBy(partition_col).mode(mode).parquet(path)


def read_cells(spark: SparkSession, path: str, partition_col: str, cells: list) -> DataFrame:
    """Read only the named partitions. The ``isin`` on the partition column
    becomes a PartitionFilter (directory pruning), never a row filter."""
    return spark.read.parquet(path).where(F.col(partition_col).isin(cells))


def write_range_clustered(
    df: DataFrame, path: str, cluster_col: str, files: int = 8, mode: str = "overwrite"
) -> None:
    """Range-cluster on ``cluster_col`` before writing: repartitionByRange
    + sortWithinPartitions makes every parquet row-group's min/max stats a
    narrow slice of the value domain, so range predicates skip most
    row-groups at scan time (PushedFilters + statistics = I/O elimination,
    the single biggest lever for time-filtered queries over 100 TB).
    tests/test_scale_tools.py measures the stat tightening directly."""
    (
        df.repartitionByRange(files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )
