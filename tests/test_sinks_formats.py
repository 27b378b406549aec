"""Connector round-trips (csv/json/partitioned/bucketed) + skew tools."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from another_map_reduce_spark.operators.skew import salted_agg, salted_join
from another_map_reduce_spark.sinks import (
    write_bucketed_table,
    write_partitioned,
)
from another_map_reduce_spark.sources.formats import read_csv, read_json


@pytest.fixture(scope="module")
def kv(spark):
    return spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("a", 3, "x"), ("c", 4, "z")],
        "k string, v int, part string",
    )


def test_csv_roundtrip(spark, kv, tmp_path):
    p = str(tmp_path / "csv")
    kv.write.mode("overwrite").option("header", True).csv(p)
    back = read_csv(spark, p, "k string, v int, part string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, kv.collect()))


def test_csv_permissive_malformed(spark, tmp_path):
    p = tmp_path / "bad"
    p.mkdir()
    (p / "data.csv").write_text("k,v\na,1\nbroken_no_comma\nb,2\n")
    back = read_csv(spark, str(p), "k string, v int").collect()
    vals = {(r.k, r.v) for r in back}
    assert ("a", 1) in vals and ("b", 2) in vals  # good rows survive
    assert ("broken_no_comma", None) in vals  # bad row → typed nulls


def test_json_roundtrip(spark, kv, tmp_path):
    p = str(tmp_path / "json")
    kv.write.mode("overwrite").json(p)
    back = read_json(spark, p, "k string, v int, part string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, kv.collect()))


def test_orc_roundtrip_and_pushdown(spark, kv, tmp_path):
    from another_map_reduce_spark.sources.formats import read_orc, write_orc

    p = str(tmp_path / "orc")
    write_orc(kv, p)
    back = read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, kv.collect()))
    # predicate reaches the ORC scan (same pushdown contract as parquet)
    plan = (
        read_orc(spark, p)
        .where("v > 1")
        .select("k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,1)]" in plan


def test_partitioned_write_prunes(spark, kv, tmp_path):
    p = str(tmp_path / "part")
    write_partitioned(kv, p, ["part"])
    back = spark.read.parquet(p).where(F.col("part") == "x")
    assert back.count() == 2
    # the filter must become partition pruning, not a data filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan


def test_bucketed_table_join_no_shuffle(spark, kv, tmp_path):
    # bucketed tables live in the session's default warehouse dir
    # (spark-warehouse/, gitignored); dropped at the end of the test
    write_bucketed_table(kv, "t_left", "k", 4, sort_col="k")
    write_bucketed_table(kv.withColumnRenamed("v", "v2"), "t_right", "k", 4)
    j = spark.table("t_left").join(spark.table("t_right"), "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    # co-bucketed join: no Exchange on either side
    assert "Exchange hashpartitioning(k" not in plan, plan
    assert j.count() > 0
    spark.sql("DROP TABLE t_left")
    spark.sql("DROP TABLE t_right")


def test_salted_agg_matches_plain(spark, kv):
    plain = {
        (r.k): (r.n, r.s)
        for r in kv.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r.k): (r.n, r.s)
        for r in salted_agg(
            kv,
            ["k"],
            [F.count("*").alias("_n"), F.sum("v").alias("_s")],
            [F.sum("_n").alias("n"), F.sum("_s").alias("s")],
            salt=4,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, kv):
    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta"), ("c", "gamma")], "k string, name string"
    )
    plain = sorted(map(tuple, kv.join(dim, "k").select("k", "v", "name").collect()))
    salted = sorted(
        map(
            tuple,
            salted_join(kv, dim, ["k"], salt=4).select("k", "v", "name").collect(),
        )
    )
    assert salted == plain


def test_sorted_layout_pushes_range_filter(spark, sf_dir, tmp_path):
    """The sorted-layout read-back must push the range predicate to
    the parquet scan (row-group min/max skipping depends on it)."""
    from another_map_reduce_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_returnflag", "l_extendedprice"
    )
    path = str(tmp_path / "sorted_li")
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.parquet(path)
    )
    back = spark.read.parquet(path).where("l_shipdate >= '1998-06-01'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200]
