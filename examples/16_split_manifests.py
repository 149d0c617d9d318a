"""Manifest lists, retention, vacuum, and z-order clustering
(sources/commit.py).

At 100 TB (millions of files) one JSON manifest listing every data
file would be hundreds of MB parsed on the driver per commit, so every
table commits the Iceberg manifest-list core: a small root (one
~125-byte ref per non-empty bucket) plus per-bucket part files, and a
merge or lookup parses the root + ONLY the touched buckets' parts
(metered by `commit.MANIFEST_IO` — printed below).  Retention is a table property
(`keep_generations`, changeable by `table_set_retention`); orphan
cleanup is `table_vacuum`, the one deliberately O(table-manifest)
maintenance job.  `cluster_by=[a, b]` z-orders each bucket (quantile-
rank bit interleave) so range bands on EITHER column prune files;
`where_in` / `prefix_range` give point and LIKE-'p%' predicates the
same file-level stats service.

Run:  python examples/16_split_manifests.py [sf_dir]   (default sf0.001)
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
        target = f"{d}/orders_split"
        print(
            "init (z-ordered, retention 3):",
            cm.table_init(
                orders,
                target,
                "o_orderkey",
                n_buckets=8,
                keep_generations=3,
                cluster_by=["o_totalprice", "o_custkey"],
                max_records_per_file=500,
            ),
        )
        man = cm._load_manifest(target)[1]
        print(
            f"root: {len(man['parts'])} part refs; "
            f"layout keys: {sorted(man['parts'][0])}"
        )

        # A 1-key upsert parses the root + ONE part (metered).
        cm.MANIFEST_IO.update(reads=0, part_reads=0, bytes=0)
        batch = orders.limit(1).withColumn(
            "o_orderpriority", F.lit("9-UPDATED")
        ).select(*cols)
        print("merge-on-read 1 key:", cm.table_merge_mor(spark, target, batch))
        print("manifest I/O for that commit:", dict(cm.MANIFEST_IO))

        # Point lookups parse one bucket's part and prune files by the
        # key's per-file [min, max].
        key = orders.first()["o_orderkey"]
        cm.MANIFEST_IO.update(reads=0, part_reads=0, bytes=0)
        print(
            f"lookup({key}):",
            cm.table_lookup(spark, target, [key]).count(),
            "row;",
            dict(cm.MANIFEST_IO),
        )

        # Z-order payoff: a band on EITHER clustered column prunes.
        q = orders.agg(
            F.percentile_approx("o_totalprice", [0.45, 0.55]).alias("p")
        ).first()["p"]
        band = cm.table_read(spark, target, where=("o_totalprice", q[0], q[1]))
        print("price-band rows:", band.count())
        # IN-list and prefix predicates use the same stats service.
        print(
            "where_in rows:",
            cm.table_read(spark, target, where_in=("o_orderkey", [key])).count(),
        )
        lo, hi = cm.prefix_range("1-")
        print(
            "priority LIKE '1-%' rows:",
            cm.table_read(spark, target, where=("o_orderpriority", lo, hi))
            .filter(F.col("o_orderpriority").startswith("1-"))
            .count(),
        )

        # Retention + vacuum: history is the stated SLA; vacuum sweeps
        # what no retained manifest references (in-flight grace 0 here
        # because everything is freshly committed and referenced).
        cm.table_append(spark, target, orders.limit(5))
        print("history:", len(cm.table_history(target)), "retained roots")
        print("set retention 1:", cm.table_set_retention(target, 1))
        cm.table_append(spark, target, orders.limit(5))
        print("history after lowering:", cm.table_history(target))
        print("vacuum:", cm.table_vacuum(target, older_than_s=0.0))
        out = cm.table_read(spark, target).agg(
            F.count("*").alias("rows_after_maintenance")
        )
        out.show()
        # Materialize before the tempdir (and its data files) vanish —
        # the returned frame must not hold a plan over deleted paths.
        return spark.createDataFrame(out.collect(), out.schema)


if __name__ == "__main__":
    from pyspark_analytics_library_spark.session import get_spark

    spark = get_spark(app_name="split-manifests-example")
    spark.sparkContext.setLogLevel("ERROR")
    main(spark, sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
