"""Range-partitioned parallel JDBC reads (the reference's JDBC source,
SURVEY.md §2.1)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_col: str,
    num_partitions: int = 8,
    quote: str = '"',
    quote_table: bool = False,
    **options,
) -> DataFrame:
    """Range-partitioned parallel JDBC read (reference
    src/baskerville/models/pipeline_tasks/tasks.py:458-530: bounds query →
    numPartitions/lowerBound/upperBound).

    One cheap MIN/MAX bounds query, then the table read fans out into
    ``num_partitions`` disjoint range scans — each executor opens its own
    connection instead of one connection streaming the whole table through
    the driver. Falls back to a single-partition read when the table is
    empty or the bounds collapse.
    """
    def rd():
        r = spark.read.format("jdbc").option("url", url)
        for k, v in options.items():
            r = r.option(k, v)
        return r

    # The bounds query goes to the external engine verbatim — this is the one
    # string-built SQL in the repo. `table` / `partition_col` must be trusted
    # identifiers from config, never user-supplied strings; they are validated
    # against an identifier grammar so a non-identifier fails loudly here
    # instead of reaching the engine. The table name is left UNQUOTED to match
    # how Spark's JDBC writer creates tables (unquoted → engine case-folding);
    # pass quote_table=True for engines/tables that need exact-case quoting.
    ident = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)*$")
    for name in (table, partition_col):
        if not ident.match(name):
            raise ValueError(f"not a valid SQL identifier: {name!r}")
    qc = f"{quote}{partition_col}{quote}"
    qt = (
        ".".join(f"{quote}{part}{quote}" for part in table.split("."))
        if quote_table
        else table
    )
    bounds = (
        rd()
        .option(
            "query",
            f"SELECT MIN({qc}) AS lo, MAX({qc}) AS hi FROM {qt}",
        )
        .load()
        .collect()[0]
    )
    lo, hi = bounds[0], bounds[1]  # positional: engines fold alias case
    base = rd().option("dbtable", table)
    if lo is None or lo == hi:
        return base.load()
    return (
        base.option("partitionColumn", partition_col)
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi))
        .option("numPartitions", str(num_partitions))
        .load()
    )
