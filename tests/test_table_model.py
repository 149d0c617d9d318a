"""Model-based property test of the v2 table lifecycle (round 18).

Hypothesis drives random op sequences — append (duplicate keys
coexist), merge-on-read upsert, tombstone-only delete, compaction —
with NULL keys in the mix, and compares every visible state against a 30-line in-memory
model of the masking semantics: a row committed at gen g is visible
unless some tombstone with its key (null-safe) carries gen > g;
compaction rewrites the visible rows and clears tombstones.  Retained
history snapshots are replayed through ``table_read(at=...)`` so time
travel is model-checked too, not just the live view.

This is the test that catches interaction bugs the per-op tests
cannot: a clean/dirty mask-split error, a part carried stale, a
compaction that resurrects a masked row — any divergence between the
lakehouse machinery and the semantics it claims shows up as a model
mismatch on a minimal counterexample.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark_analytics_library_spark.sources import commit as cm

_SCHEMA = StructType(
    [
        StructField("k", LongType(), True),
        StructField("v", StringType(), True),
    ]
)

# Small key domain (collisions and re-updates are the point) + NULL.
_KEYS = st.one_of(st.integers(min_value=0, max_value=14), st.none())

_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(_KEYS, min_size=1, max_size=4)),
    st.tuples(
        st.just("mor"),
        st.lists(_KEYS, min_size=1, max_size=4, unique=True),
    ),
    st.tuples(
        st.just("delete"),
        st.lists(_KEYS, min_size=1, max_size=3, unique=True),
    ),
    st.tuples(st.just("compact"), st.just(None)),
)


def _visible(rows, tombs):
    """The model: newest-wins masking with null-safe key equality."""
    return [
        (k, v)
        for (k, v, g) in rows
        if not any(tk == k and tg > g for (tk, tg) in tombs)
    ]


def _df(spark, pairs):
    return spark.createDataFrame(pairs, _SCHEMA)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_OP, min_size=1, max_size=5), data=st.data())
def test_v2_table_matches_model(spark, tmp_path_factory, ops, data):
    target = str(tmp_path_factory.mktemp("model") / "t")
    serial = iter(range(10_000))

    init_keys = data.draw(st.lists(_KEYS, min_size=1, max_size=5))
    rows = [(k, f"v{next(serial)}", 0) for k in init_keys]
    tombs: list = []
    cm.table_init(
        _df(spark, [(k, v) for (k, v, _) in rows]),
        target,
        "k",
        n_buckets=2,
        keep_generations=2,
    )
    gen = 0
    snapshots = {cm.table_history(target)[0]: _visible(rows, tombs)}

    def check(expect):
        got = sorted(
            ((r["k"], r["v"]) for r in cm.table_read(spark, target).collect()),
            key=repr,
        )
        assert got == sorted(expect, key=repr)

    check(_visible(rows, tombs))
    for op, arg in ops:
        if op == "append":
            gen += 1
            batch = [(k, f"v{next(serial)}") for k in arg]
            cm.table_append(spark, target, _df(spark, batch))
            rows += [(k, v, gen) for (k, v) in batch]
        elif op == "mor":
            gen += 1
            batch = [(k, f"v{next(serial)}") for k in arg]
            cm.table_merge_mor(spark, target, _df(spark, batch))
            rows += [(k, v, gen) for (k, v) in batch]
            tombs += [(k, gen) for (k, _) in batch]
        elif op == "delete":
            gen += 1
            st_out = cm.table_delete(spark, target, arg)
            if st_out["tombstone_files"] == 0:
                gen -= 1  # empty batch = no commit
            else:
                tombs += [(k, gen) for k in arg]
        elif op == "compact":
            st_out = cm.table_compact(spark, target, min_files=2)
            if st_out["compacted_buckets"]:
                gen += 1
                # Every tombstone bucket is a candidate by the engine's
                # rule, so a full compact (no max_buckets) clears ALL
                # tombstones and physically keeps exactly the visible
                # rows.  Model gens stay as-is: model and engine gens
                # both increase strictly in op order, and masking only
                # compares relative order, so future tombstones outrank
                # every existing row on both sides identically.
                rows = [
                    (k, v, g)
                    for (k, v, g) in rows
                    if not any(tk == k and tg > g for (tk, tg) in tombs)
                ]
                tombs = []
        check(_visible(rows, tombs))
        hist = cm.table_history(target)
        snapshots[hist[0]] = _visible(rows, tombs)
        # Time travel: every retained snapshot still reads exactly.
        for name in hist:
            if name in snapshots:
                got = sorted(
                    (
                        (r["k"], r["v"])
                        for r in cm.table_read(spark, target, at=name).collect()
                    ),
                    key=repr,
                )
                assert got == sorted(snapshots[name], key=repr), (
                    f"time travel to {name} diverged from the model"
                )
