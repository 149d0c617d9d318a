"""pyspark_analytics_library_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first implementation of the analytics-operator
surface of ``kuanpern/PySpark-Analytics-Library``; the operator
inventory in SURVEY.md §2 is the authoritative capability contract.

Design stance (SURVEY.md §7):
- The engine is an *operator layer* over the public PySpark DataFrame
  API; Catalyst/Tungsten/AQE own optimization and physical execution.
- Everything expressible with built-in ``pyspark.sql.functions`` stays
  JVM-side inside whole-stage codegen; pandas UDFs are the escape hatch.
- Every declared query is registered in :mod:`.registry` together with
  its DuckDB oracle SQL, which the driver cross-checks at sf0.01.
"""

from pyspark_analytics_library_spark.registry import REGISTRY, query, QuerySpec
from pyspark_analytics_library_spark.sources.io import load_tables, register_views, TABLES
from pyspark_analytics_library_spark.session import get_spark
from pyspark_analytics_library_spark.functions.coercion import (
    ensure_column,
    ensure_columns,
)

__version__ = "0.2.0"

#: Lazily re-exported helpers, per defining module.  Importing them
#: eagerly would pull every operator module (and their pandas/numpy
#: imports) on package import; the registry's ``load_all_query_modules``
#: stays the one place that does that on purpose.
_LAZY = {
    "operators.udf": ("gapply",),
    "operators.windows": ("topk_per_group", "lag_lead"),
    "operators.dedup": (
        "dedup_exact_keep_min",
        "minhash_lsh_pairs",
        "connected_components",
        "reclaim_iteration_scratch",
        "word_shingles",
        "jaccard",
    ),
    "operators.similarity": ("cosine_sim", "build_index", "brute_topk"),
    "operators.text": ("tokenize",),
    "operators.timeseries": ("tumbling_agg", "sessionize"),
    # v2 lakehouse table surface
    "sources.commit": (
        "table_init",
        "table_read",
        "table_lookup",
        "table_merge",
        "table_merge_mor",
        "table_append",
        "table_delete",
        "table_compact",
        "table_add_columns",
        "table_history",
        "table_stats",
        "table_vacuum",
        "table_set_retention",
        "table_drop_partition",
        "table_rename_column",
        "table_drop_column",
        "with_commit_retry",
        "prefix_range",
        "resolve_table",
    ),
}
_LAZY_MODULE = {name: mod for mod, names in _LAZY.items() for name in names}

__all__ = [
    "REGISTRY",
    "QuerySpec",
    "query",
    "load_tables",
    "register_views",
    "TABLES",
    "get_spark",
    "ensure_column",
    "ensure_columns",
    *_LAZY_MODULE,
    "__version__",
]


def __getattr__(name: str):
    """PEP 562 lazy attributes: ``import pyspark_analytics_library_spark``
    stays cheap while users still get the flat API the reference exposes
    (``from pyspark_analytics_library_spark import gapply, cosine_sim``)."""
    if name in _LAZY_MODULE:
        import importlib

        mod = importlib.import_module(f"{__name__}.{_LAZY_MODULE[name]}")
        return getattr(mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
