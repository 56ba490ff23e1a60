"""Range-partitioned parallel JDBC reads (the reference's JDBC source,
SURVEY.md §2.1)."""

from __future__ import annotations

import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _gate_tmp_detach, _t


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


# ---------------------------------------------------------------------------
# Q47 — JDBC scan under the hash gate: parquet → embedded Derby → range-
#       partitioned JDBC read → aggregate, oracle on the original parquet
# ---------------------------------------------------------------------------

def q47_jdbc_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Puts the JDBC source path (reference's Postgres training/cache scans,
    src/baskerville/models/pipeline_tasks/tasks.py:458-530) under the
    DuckDB hash gate, not just pytest: the customer table is written into
    an embedded Derby database, read back through ``read_jdbc_partitioned``
    (one MIN/MAX bounds query fanning into 4 disjoint range scans — each
    executor opens its own connection), and aggregated per market segment.
    The oracle computes the same aggregate on the original parquet, so a
    green row proves the partitioned JDBC scan returns exactly the stored
    rows. The Derby scratch dir lives under /tmp and is not reused."""
    derby = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    tmp = tempfile.mkdtemp(prefix="q47_derby_")
    url = f"jdbc:derby:{tmp}/db;create=true"
    (
        cust.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "customer_jdbc")
        .options(**derby)
        .save()
    )
    df = read_jdbc_partitioned(
        spark, url, "customer_jdbc", partition_col="c_custkey", num_partitions=4, **derby
    )
    # _gate_tmp_detach (defined below, resolved at call time): persist the
    # tiny aggregate, then drop the embedded-Derby workspace — the frame
    # would otherwise re-query the deleted database on later actions
    return _gate_tmp_detach(
        df.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        ),
        tmp,
    )


Q47_SQL = """
SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_cust,
       ROUND(CAST(SUM(c_acctbal) AS DOUBLE), 2) AS sum_acctbal
FROM customer GROUP BY c_mktsegment
"""
