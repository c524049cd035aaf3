"""S8/X7 — the analytical-table sink: partitioned, size-controlled,
clustered writes (the role the ES bulk indexer plays in the reference,
idb/indexing/indexer.py:273-330 with its 500-doc/10 MB chunking and
refresh toggling).

On Spark the equivalent knobs are output layout, not request batching:
* ``partitionBy(type)`` (X2) so every downstream query prunes,
* file count follows bytes, not the producer's task layout: the write
  goes through a shuffle that AQE sizes by bytes (a rebalance, or the
  range repartition of a clustered write), and ``maxRecordsPerFile``
  caps rows per file (the 10 MB chunk analog),
* optional sort-within-partitions clustering so range predicates on the
  cluster key skip row groups via parquet min/max stats.

The rebalance is one extra shuffle per build. It pays on an index whose
producer runs more tasks than its bytes need: the search index (4,000
rows from an 8-bucket store) goes from 8 files to 1, and every request
that scans it costs less. It only costs where the producer's tasks are
already file-sized: a 600,000-row enrichment output lands in 4 files
either way and its write takes about a fifth longer. SCALING.md holds
both measurements.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_index_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write the typed analytical table with a scan-friendly layout.

    Without ``cluster_by`` the rows are rebalanced on ``partition_by``:
    AQE coalesces the write shuffle by bytes (toward
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, and under the
    default ``coalescePartitions.parallelismFirst`` no smaller than
    ``minPartitionSize``) and splits skewed partitions. So a small table
    lands as one file per ``partition_by`` value whatever the number of
    upstream tasks; writing the producer's partitions as they are would
    put one file per upstream task into every partition value, and every
    later scan would open each. A 600,000-row table still lands as one
    file per shuffle partition (``spark.sql.shuffle.partitions``).

    ``cluster_by`` sorts within partitions so parquet row-group min/max
    statistics actually skip data for range/equality predicates on those
    columns (unsorted data has full-range stats everywhere — useless).
    Its range repartition is the write's only exchange.
    """
    out = df
    if not cluster_by:
        out = out.hint("rebalance", *(partition_by or []))
    else:
        shuffle_keys = (partition_by or []) + cluster_by
        # RANGE-partition on (partition, cluster) keys: each task then
        # holds one contiguous key range — almost always a single hive
        # partition value — so the write emits O(partitions + tasks)
        # files with TIGHT per-file cluster-key min/max (file-level AND
        # row-group skipping). A hash repartition on the same keys keeps
        # the cluster wide but scatters every hive partition across all
        # tasks: ~tasks-per-partition small files, each spanning the
        # full cluster-key range. The trailing hash tie-breaker splits
        # runs of IDENTICAL key tuples across tasks (a range partitioner
        # otherwise sends all ties to one task — low-cardinality cluster
        # keys would collapse parallelism to the distinct-tuple count)
        # without loosening the per-file key min/max.
        # NB: repartitionByRange adds a sampling pass that evaluates the
        # input plan once before the write — persist() an expensive
        # upstream pipeline before calling this.
        tie = F.xxhash64(*[F.col(c) for c in df.columns])
        out = out.repartitionByRange(
            *[F.col(c) for c in shuffle_keys], tie
        )
        out = out.sortWithinPartitions(*shuffle_keys)
    writer = out.write.mode(mode).option(
        "maxRecordsPerFile", max_records_per_file
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def compact(
    spark_df: DataFrame, target_partitions: int | None = None
) -> DataFrame:
    """Small-file compaction pass (the OPTIMIZE analog): coalesce a table
    rewritten by many incremental merges back to healthy file counts.
    AQE already coalesces shuffle output; this is for explicit rewrites."""
    n = target_partitions or max(
        1, spark_df.sparkSession.sparkContext.defaultParallelism // 2
    )
    return spark_df.coalesce(n)


def parent_routing(
    records: Column, delete: Column, indexed_parent: Column
) -> Column:
    """The mediarecords parent-routing rule of the bulk formater
    (indexer.py:292-301; single-doc twin :238-247): the routing key that
    co-locates a media doc with its parent record.

    Pins: a mediarecord routes by its FIRST ``records`` link; one with
    no links routes to the literal STRING-rendered sentinel ``0`` (the
    reference passes the int 0 — every orphan lands in one routing
    bucket, a deliberate hot-spot the engine inherits as a value, though
    partition-wise Spark's hash of one key is one task, so orphan-heavy
    batches should salt); a DELETE op ignores the row's links and reuses
    the parent the INDEX already has — and when the index holds nothing
    (``indexed_parent`` NULL) the delete is silently SKIPPED
    (:294-297 ``continue``), which this models as NULL routing: callers
    filter ``delete AND routing IS NULL`` out of the op stream.

    On Spark the routing key is the repartition column for the index
    write, so parent/child co-location (the ES has_parent/has_child
    analog J5 exploits) survives the sink."""
    return (
        F.when(delete, indexed_parent)
        .when(F.size(F.coalesce(records, F.array())) > 0, records[0])
        .otherwise(F.lit("0"))
    )
