"""Source reads and table layout: range-partitioned JDBC, bucketed joins."""

from __future__ import annotations


DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_jdbc_range_partitioned_read(spark, tmp_path):
    """Real JDBC round-trip against embedded Derby (ships in Spark's jars):
    the bounds query must fan the read out into disjoint range partitions."""
    from baskerville_spark.gates.registry import read_jdbc_partitioned

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    src = spark.range(1000).selectExpr(
        "CAST(id AS BIGINT) AS rid", "CAST(id % 7 AS INT) AS grp"
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .options(**DERBY)
        .save()
    )

    df = read_jdbc_partitioned(
        spark, url, "events", partition_col="rid", num_partitions=4, **DERBY
    )
    assert df.rdd.getNumPartitions() == 4          # parallel range scans
    assert df.count() == 1000
    assert df.agg({"rid": "sum"}).collect()[0][0] == 999 * 1000 // 2


def test_bucketed_join_avoids_shuffle(spark):
    """Bucketed tables co-locate join keys at WRITE time: a sort-merge join
    of two tables bucketed+sorted on the key needs NO exchange on either
    side — the shuffle is paid once when the table lands, not per query
    (the 100 TB answer for repeated fact-fact joins)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        a = spark.range(1000).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(1000).selectExpr("id AS k", "id * 3 AS vb")
        a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_a")
        b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_b")
        j = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides pre-bucketed: no shuffle
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")
