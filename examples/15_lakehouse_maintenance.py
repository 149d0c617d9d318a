"""Lakehouse maintenance on per-file manifest tables (round 17 —
sources/commit.py): fast append, merge-on-read upserts and deletes,
compaction, metadata-only schema evolution, and stats-pruned range
reads.

The trade these ops implement (measured in SCALE.md round-17):
copy-on-write `table_merge` rewrites every touched bucket (87.5 % of
table bytes for a scattered 151-row batch), while merge-on-read
`table_merge_mor` lands the same batch as delta files at 4.3 % (each
delta file is also listed as its bucket's tombstone) — reads then pay a broadcast anti-join until `table_compact`
applies the tombstones and bin-packs small files back to one per
bucket.  `table_add_columns` evolves the schema without touching a
data file; `table_read(where=...)` skips files whose footer min/max
cannot intersect a range predicate.

Run:  python examples/15_lakehouse_maintenance.py [sf_dir]   (default sf0.001)
"""
import sys
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from pyspark_analytics_library_spark import load_tables
from pyspark_analytics_library_spark.sources import commit as cm


def main(spark, sf_dir):
    orders = load_tables(spark, sf_dir)["orders"]
    cols = orders.columns
    with tempfile.TemporaryDirectory() as d:
        target = f"{d}/orders_table"
        # cluster_by sorts each bucket by the column and splits files
        # on row count — per-file stats become near-disjoint, so the
        # range read below prunes files WITHIN buckets too.
        print(
            "init:",
            cm.table_init(
                orders,
                target,
                "o_orderkey",
                n_buckets=8,
                cluster_by="o_totalprice",
                max_records_per_file=200,
            ),
        )

        # Fast append: new files only — the high-rate ingest path.
        late = orders.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
        ).limit(50)
        print("append:", cm.table_append(spark, target, late))

        # Merge-on-read upsert: scattered batch, no bucket rewritten.
        upd = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_orderpriority", F.lit("9-UPDATED"))
            .select(*cols)
        )
        print("mor upsert:", cm.table_merge_mor(spark, target, upd))

        # Tombstone-only delete: O(keys) commit.
        doomed = [
            r["o_orderkey"]
            for r in orders.orderBy("o_orderkey").limit(3).collect()
        ]
        print("delete:", cm.table_delete(spark, target, doomed))
        assert cm.table_lookup(spark, target, doomed).count() == 0

        # Compaction: apply tombstones, one file per bucket again.
        print("compact:", cm.table_compact(spark, target))

        # Metadata-only schema evolution; old rows read NULL.
        print(
            "evolve:",
            cm.table_add_columns(
                spark, target, [StructField("o_channel", StringType(), True)]
            ),
        )

        # Stats-pruned range read on a non-bucket column.
        out = cm.table_read(
            spark, target, where=("o_totalprice", 100_000.0, None)
        ).agg(
            F.count("*").alias("n_expensive"),
            F.sum(F.col("o_totalprice").isNull().cast("int")).alias("nulls"),
        )
        out.show()
        # Materialize before the tempdir (and its data files) vanish —
        # the returned frame must not hold a plan over deleted paths.
        return spark.createDataFrame(out.collect(), out.schema)


if __name__ == "__main__":
    from pyspark_analytics_library_spark.session import get_spark

    main(
        get_spark(app_name="example-lakehouse-maintenance"),
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
    )
