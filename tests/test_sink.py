"""S8/X7 sink tests: partitioned layout, file-size bounding, clustering."""

from __future__ import annotations

import glob
import re
from collections import Counter

from pyspark.sql import functions as F

from idb_backend_spark.export.sink import compact, write_index_table


def test_write_index_table_layout(spark, tmp_path):
    df = spark.range(0, 10000).select(
        F.col("id").alias("uuid"),
        F.when(F.col("id") % 3 == 0, "records")
        .otherwise("mediarecords")
        .alias("type"),
        (F.col("id") % 100).alias("recordset"),
    )
    path = str(tmp_path / "idx")
    write_index_table(
        df,
        path,
        partition_by=["type"],
        cluster_by=["recordset"],
        max_records_per_file=1000,
    )
    # hive layout with both partitions
    parts = {p.split("=")[-1].split("/")[0]
             for p in glob.glob(f"{path}/type=*")}
    assert parts == {"records", "mediarecords"}
    # file sizes bounded: >= ceil(rows/1000) files per partition overall
    files = glob.glob(f"{path}/type=*/part-*.parquet")
    assert len(files) >= 10
    # roundtrip + partition pruning
    back = spark.read.parquet(path)
    assert back.count() == 10000
    plan = (
        back.filter(F.col("type") == "records")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(type" in plan


def _small_frame(spark):
    """1,000 rows spread over 8 input partitions: the upstream task count
    a producer-shaped write would turn into 8 files."""
    return spark.range(0, 1000, numPartitions=8).select(
        F.col("id").alias("uuid"),
        F.when(F.col("id") % 3 == 0, "records")
        .otherwise("mediarecords")
        .alias("type"),
    )


def _rows(df):
    return Counter(tuple(r) for r in df.select("uuid", "type").collect())


def test_unclustered_write_sizes_files_by_bytes(spark, tmp_path):
    df = _small_frame(spark)
    assert df.rdd.getNumPartitions() == 8
    path = str(tmp_path / "idx")
    write_index_table(df, path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 1
    assert _rows(spark.read.parquet(path)) == _rows(df)


def test_unclustered_partitioned_write_is_one_file_per_value(
    spark, tmp_path
):
    df = _small_frame(spark)
    path = str(tmp_path / "idx")
    write_index_table(df, path, partition_by=["type"])
    files = Counter(
        f.split("type=")[1].split("/")[0]
        for f in glob.glob(f"{path}/type=*/part-*.parquet")
    )
    assert files == {"records": 1, "mediarecords": 1}
    assert _rows(spark.read.parquet(path)) == _rows(df)


def _write_plan(spark, path: str) -> str:
    """The physical plan of the last SQL execution that wrote ``path``,
    as the SQL status store recorded it (this works with the UI off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        executions.apply(i).physicalPlanDescription()
        for i in range(executions.size())
    ]
    plans = [
        p for p in plans if "InsertIntoHadoopFsRelationCommand" in p and path in p
    ]
    assert plans, f"no write of {path} in the status store"
    return plans[-1]


def test_clustered_write_has_only_the_range_exchange(spark, tmp_path):
    """The clustered path's range repartition already sizes the write:
    no rebalance may stack a second exchange on top of it."""
    path = str(tmp_path / "idx")
    write_index_table(
        _small_frame(spark), path, partition_by=["type"], cluster_by=["uuid"]
    )
    plan = _write_plan(spark, path)
    # the tree above the initial plan is the one that ran; each node's
    # arguments are listed below it under the node's number
    ids = re.findall(r"Exchange \((\d+)\)", plan.split("== Initial Plan ==")[0])
    assert len(ids) == 1, plan
    args = re.search(
        rf"^\({ids[0]}\) Exchange\n(?:.*\n)*?Arguments: (.*)$", plan, re.M
    ).group(1)
    assert args.startswith("rangepartitioning("), args
    assert "REBALANCE" not in plan, plan


def test_compact_reduces_partitions(spark):
    df = spark.range(0, 1000).repartition(64)
    assert compact(df, 4).rdd.getNumPartitions() == 4


def test_parent_routing_pins(spark):
    """indexer.py:292-301 — first-link routing, the literal '0' orphan
    sentinel, delete-reuses-indexed-parent with NULL = silent skip."""
    from pyspark.sql import functions as F

    from idb_backend_spark.export.sink import parent_routing

    df = spark.createDataFrame(
        [
            ("m1", ["r1", "r2"], False, None),   # first link wins
            ("m2", [], False, None),             # orphan -> '0'
            ("m3", None, False, None),           # NULL links -> '0'
            ("m4", ["r9"], True, "rX"),          # delete ignores links
            ("m5", ["r9"], True, None),          # delete of unindexed: skip
        ],
        "id string, records array<string>, del boolean, indexed string",
    )
    got = {
        r["id"]: r["o"]
        for r in df.select(
            "id",
            parent_routing(
                F.col("records"), F.col("del"), F.col("indexed")
            ).alias("o"),
        ).collect()
    }
    assert got == {"m1": "r1", "m2": "0", "m3": "0", "m4": "rX", "m5": None}
