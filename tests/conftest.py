"""Shared fixtures: one SparkSession per test run + a DuckDB oracle.

The differential harness here mirrors the driver's t2 check
(SURVEY.md §5.1): row-count + schema + order-insensitive value
comparison between each declared Spark query and its DuckDB oracle,
run locally at sf0.001 (override with SPARKALYTICS_TEST_SF) so
failures surface before the driver runs at sf0.01.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import sys
import types

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_analytics_library_spark.session import get_spark
from pyspark_analytics_library_spark.sources.io import TABLES

TEST_SF_DIR = os.environ.get("SPARKALYTICS_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="sparkalytics-tests", cores=4, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the fixture tables registered as views."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{TEST_SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _canon_value(v):
    """Canonicalize one cell for cross-engine multiset comparison."""
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def canon_rows(df: pd.DataFrame):
    """Sorted multiset of canonicalized rows, columns ordered by name."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [
        tuple(_canon_value(v) for v in row) for row in df.itertuples(index=False)
    ]
    return sorted(rows, key=repr)


def assert_query_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    """The t2 mechanism: schema + row-count + order-insensitive values."""
    sdf = spark_df.toPandas()
    odf = con.execute(sql).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"[{name}] schema mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"[{name}] row count: spark={len(sdf)} oracle={len(odf)}"
    srows, orows = canon_rows(sdf), canon_rows(odf)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
    ]
    assert not mismatches, (
        f"[{name}] value mismatch ({len(mismatches)}/{len(srows)} rows); first 3:\n"
        + "\n".join(f"  spark={a}\n  duck ={b}" for _, a, b in mismatches[:3])
    )


def manifest_listing(target: str, man: dict | None = None):
    """(data files, tombstones) a manifest table lists — the live root,
    or ``man`` when given — read through the commit layer's one
    listing accessor, so tests never depend on the root's layout."""
    from pyspark_analytics_library_spark.sources import commit

    if man is None:
        man = commit._load_manifest(target)[1]
    return commit._man_entries(target, man)


def stamp_legacy_dv(target: str, text: str | None = None) -> str:
    """Make the newest merge-on-read commit look as the removed
    positional-deletion-vector writer left it: each of its tombstones
    names a ``data/dv-*.json`` document in a ``dv`` field.  By default
    the document lists every older data file of the touched buckets
    with no positions, which that writer's reader took as proof the
    file was clean, so it would have kept the masked rows.  ``text``
    replaces the document's contents.  Returns its table-relative path."""
    from pyspark_analytics_library_spark.sources import commit

    man = commit._load_manifest(target)[1]
    gen = int(man["seq"])
    files, tombs = commit._man_entries(target, man)
    buckets = {t["bucket"] for t in tombs if int(t["gen"]) == gen}
    if text is None:
        clean = [e["path"] for e in files if e["bucket"] in buckets and int(e["gen"]) < gen]
        text = json.dumps({"files": {p: [] for p in clean}})
    rel = f"{commit.DATA_DIR}/dv-{gen:012d}.json"
    with open(os.path.join(target, rel), "w", encoding="utf-8") as f:
        f.write(text)
    for ref in man["parts"]:
        path = os.path.join(target, ref["path"])
        with open(path, encoding="utf-8") as f:
            part = json.load(f)
        newest = [t for t in part["tombstones"] if int(t["gen"]) == gen]
        for t in newest:
            t["dv"] = rel
        if newest:
            with open(path, "w", encoding="utf-8") as f:
                json.dump(part, f)
    return rel


@contextlib.contextmanager
def py4j_commands():
    """Count the py4j commands the Python driver sends to the JVM inside
    the block — one per Column/DataFrame call that crosses the gateway,
    so a plan build's driver cost can be pinned as a number.  Yields a
    namespace whose ``count`` is live while the block runs."""
    from py4j.clientserver import ClientServerConnection

    sent = types.SimpleNamespace(count=0)
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        sent.count += 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield sent
    finally:
        ClientServerConnection.send_command = send
