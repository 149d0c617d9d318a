"""Partition spec, merge-on-read, and rename evolution on v2
manifest tables (round 19 — sources/commit.py).

Two round-19 capabilities on one date-partitioned orders table, with a
merge-on-read upsert between them:

* a declared PARTITION SPEC (`partition_by` + day/month transform):
  reads prune whole partitions before any file-stats pass, and
  `table_drop_partition` is the metadata-only "drop a day" retention
  primitive;
* RENAME EVOLUTION (`table_rename_column`): metadata-only; files
  written before the rename are read through their rename epoch.

Run:  python examples/17_partitioned_tables.py [sf_dir]   (default sf0.001)
"""
import sys
import tempfile

from pyspark.sql import functions as F

from pyspark_analytics_library_spark import load_tables
from pyspark_analytics_library_spark.sources import commit as cm


def main(spark, sf_dir):
    orders = load_tables(spark, sf_dir)["orders"]
    cols = orders.columns
    with tempfile.TemporaryDirectory() as d:
        target = f"{d}/orders_by_month"
        print(
            "init:",
            cm.table_init(
                orders,
                target,
                "o_orderkey",
                n_buckets=8,
                partition_by="o_orderdate",
                partition_transform="month",
            ),
        )
        st = cm.table_stats(target)
        print(f"partitions={st['partitions']} files={st['files']}")

        # Partition-pruned read: a range predicate on the partition
        # column drops whole months from planning BEFORE stats — the
        # pruned months' manifest parts are never even parsed (metered
        # by cm.MANIFEST_IO).
        lo, hi = orders.agg(
            F.min("o_orderdate"), F.max("o_orderdate")
        ).first()
        cm.MANIFEST_IO.update(reads=0, part_reads=0, bytes=0)
        one = cm.table_read(spark, target, where=("o_orderdate", lo, lo))
        n_one = one.count()
        print(
            f"first-day read: {n_one} rows, parsed "
            f"{cm.MANIFEST_IO['part_reads']} manifest parts"
        )

        # Merge-on-read upsert: the commit writes delta files, each also
        # listed as its bucket's key tombstone; reads mask older rows
        # with a broadcast anti-join.
        batch = (
            orders.orderBy("o_orderkey")
            .limit(5)
            .withColumn("o_orderpriority", F.lit("9-UPDATED"))
            .select(*cols)
        )
        print("mor:", cm.table_merge_mor(spark, target, batch))
        got = cm.table_read(spark, target)
        print(
            "updated rows:",
            got.filter(F.col("o_orderpriority") == "9-UPDATED").count(),
        )

        # Metadata-only rename; old files read through their epoch.
        print("rename:", cm.table_rename_column(target, "o_orderpriority", "o_priority"))
        renamed = cm.table_read(spark, target)
        print(
            "post-rename updated rows:",
            renamed.filter(F.col("o_priority") == "9-UPDATED").count(),
        )

        # Drop the newest month (metadata-only, time-travel
        # reversible until the generation ages out).
        last_month = str(hi)[:7]
        print("drop:", cm.table_drop_partition(target, last_month))

        out = cm.table_read(spark, target).agg(
            F.count("*").alias("rows_after_drop"),
            F.countDistinct(F.date_format("o_orderdate", "yyyy-MM")).alias(
                "months_left"
            ),
        )
        out.show()
        return spark.createDataFrame(out.collect(), out.schema)


if __name__ == "__main__":
    from pyspark_analytics_library_spark.session import get_spark

    main(
        get_spark(app_name="example-partitioned-tables"),
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
    )
