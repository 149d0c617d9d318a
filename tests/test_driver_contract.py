"""Differential test: every registered query vs its DuckDB oracle.

This is exactly what the driver does at sf0.01 (SURVEY.md §0.3), run
locally at sf0.001.  Rows-only queries (oracle=None) are still executed
and must return a well-formed DataFrame.
"""

from __future__ import annotations

import os

import pytest

from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from tests.conftest import TEST_SF_DIR, assert_query_matches_oracle

load_all_query_modules()

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


def _assert_boundary_has_no_complex_columns(df, name: str) -> None:
    """SURVEY §5.3 rule 11, enforced structurally: the driver's
    canonicalizer collects rows and sorts them with pandas, which
    crashes on list/dict cells (CORRECTNESS_r06 `agg_freqitems`,
    ``TypeError: unhashable type: 'list'``).  Every declared query must
    therefore serialize container outputs — ``to_json(sort_array(...))``
    for order-free arrays — so the boundary emits only atomic columns.
    Asserted on schema alone (no action), for oracled and rows-only
    queries alike, so the NEXT such query fails here, not in the
    driver."""
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"[{name}] declared-query boundary emits complex-typed columns "
        f"{complex_cols} — serialize them (e.g. F.to_json(F.sort_array(c)))"
        f" so the driver canonicalizer sees atomic cells"
    )


def _temp_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.isTemporary]


def _drop_temp_views(spark) -> None:
    for name in _temp_views(spark):
        spark.catalog.dropTempView(name)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, oracle, name):
    # No query may rely on a temp view an earlier call left behind: SQL
    # text names its own tables through io.register_views.
    _drop_temp_views(spark)
    spec = REGISTRY[name]
    df = spec.fn(spark, TEST_SF_DIR)
    _assert_boundary_has_no_complex_columns(df, name)
    assert_query_matches_oracle(df, oracle, spec.oracle, name=name)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, TEST_SF_DIR)
    # Schema must be stable and the query must execute end-to-end.
    assert df.columns, f"[{name}] produced no columns"
    _assert_boundary_has_no_complex_columns(df, name)
    assert df.count() >= 0


def test_load_tables_registers_no_views(spark, monkeypatch):
    """Loading the fixture tables builds frames and changes no catalog
    state, cold cache or warm."""
    from pyspark_analytics_library_spark.sources import io as io_mod

    monkeypatch.setattr(io_mod, "_CACHE", {})
    _drop_temp_views(spark)
    io_mod.load_tables(spark, TEST_SF_DIR)
    io_mod.load_tables(spark, TEST_SF_DIR)
    assert _temp_views(spark) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_every_oracle_name_has_query():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)


def _vacuity_sf_dirs() -> list[str]:
    """Every fixture SF dir the vacuity guard must cover, deduped.

    Globs ALL sibling ``sf*`` dirs of the conftest fixture root (plus
    TEST_SF_DIR itself and the SPARKALYTICS_DRIVER_SF override if set)
    — ADVICE r10: the round-10 vacuity bug was found at sf0.1, which
    the previous driver/pytest two-way parametrization left unguarded.
    Dirs are deduped by resolved path so overlapping env overrides
    don't double-scan (ADVICE r10 #3).
    """
    import glob as _glob

    root = os.path.dirname(TEST_SF_DIR.rstrip("/"))
    dirs = [TEST_SF_DIR]
    if "SPARKALYTICS_DRIVER_SF" in os.environ:
        dirs.append(os.environ["SPARKALYTICS_DRIVER_SF"])
    dirs.extend(sorted(_glob.glob(os.path.join(root, "sf*"))))
    out, seen = [], set()
    for d in dirs:
        r = os.path.realpath(d)
        if r not in seen and os.path.isdir(d):
            seen.add(r)
            out.append(d)
    # ADVICE r11: no fallback to TEST_SF_DIR here — it bypassed the
    # isdir filter, so a fixtureless checkout hit FileNotFoundError in
    # _sf_dir_bytes instead of skipping.  An empty list makes pytest
    # emit the parametrized tests as skipped, which is the intent.
    return out


#: DuckDB scan cost over the full oracle set at sf0.1 (~17 MB parquet)
#: is ~2 min; by default the guard runs the two cheap SFs (sf0.001
#: pytest / sf0.01 driver) every time and the expensive ones only when
#: SPARKALYTICS_VACUITY_ALL_SF=1 (set in the round's full-contract
#: replay, not per-commit pytest).
_VACUITY_CHEAP_BYTES = 8 * 1024 * 1024


def _sf_dir_bytes(sf_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )


@pytest.mark.parametrize("sf_dir", _vacuity_sf_dirs())
def test_no_oracle_is_vacuous(sf_dir):
    """Every oracle must select at least one row at EVERY fixture SF:
    an empty result makes a value hash compare nothing — both engines
    vacuously agree on empty, and the green row attests no values.
    Caught live in round 9: ``sql_subquery_scalar``'s 4×-mean
    threshold selected zero rows at EVERY fixture SF (max/avg ≈ 2 in
    the synthetic orders table) and had been vacuously hash-green
    since round 2.  Caught live again in round 10 at the OTHER two
    SFs: ``query_important_stock`` (0.002×-of-total threshold beaten
    by sf0.1's part-count growth; nation with no sf0.001 supplier)
    and ``query_volume_shipping`` (nation pair with no sf0.001
    supplier) — hence the all-SF glob: the round-10 finds were at
    sf0.1, which a driver/pytest two-way parametrization misses.

    DuckDB-only (no Spark session): the point is the oracle's
    selectivity, and the differential tests already prove the Spark
    side matches it.
    """
    import duckdb

    import __spark_entry__ as e

    if (
        _sf_dir_bytes(sf_dir) > _VACUITY_CHEAP_BYTES
        and os.environ.get("SPARKALYTICS_VACUITY_ALL_SF") != "1"
    ):
        pytest.skip(
            f"{sf_dir} exceeds the cheap-scan budget; "
            "set SPARKALYTICS_VACUITY_ALL_SF=1 to include it"
        )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    empty = [
        name
        for name, sql in e.oracle_sql().items()
        if con.execute(f"SELECT count(*) FROM ({sql}) x").fetchone()[0] == 0
    ]
    assert empty == [], f"vacuous oracles at {sf_dir}: {empty}"


def test_missing_sf_dir_raises_clean_error(spark):
    """A bad data dir must fail eagerly with Spark's AnalysisException
    (path not found), not a worker-side crash mid-query."""
    import pytest
    from pyspark.errors import AnalysisException

    from pyspark_analytics_library_spark.sources.io import load_tables

    with pytest.raises(AnalysisException):
        load_tables(spark, "/root/testdata/sf_does_not_exist")["lineitem"].count()


def test_ordered_registry_frontloads_least_recently_attested():
    """The driver samples a 50-query prefix of ``ordered_registry()``;
    the ordering must spend that budget on queries with the stalest (or
    no) driver CORRECTNESS attestation."""
    from pyspark_analytics_library_spark.registry import (
        _driver_attestation_rounds,
        ordered_registry,
    )

    order = list(ordered_registry())
    assert set(order) == set(REGISTRY), "ordering must be a permutation"
    attested = _driver_attestation_rounds()
    never = [n for n in order if n not in attested]
    if len(never) >= 50:
        prefix_never = sum(1 for n in order[:50] if n not in attested)
        assert prefix_never >= 45, (
            f"only {prefix_never}/50 of the driver prefix are never-attested"
        )
    tiers = [attested.get(n, 0) for n in order]
    assert tiers == sorted(tiers), "attestation rounds must be non-decreasing"


def test_stalest_tier_fully_leads_rotation_after_pins():
    """The ENTIRE minimum-attestation tier must occupy the first slots,
    never interleaved with fresher tiers, so a single driver round
    always restores the attestation floor.  A burst of front-loaded
    queries once displaced part of the stalest tier out of the K=50
    sample, aging it one round past the R=4 freshness window."""
    from pyspark_analytics_library_spark.registry import (
        _driver_attestation_rounds,
        ordered_registry,
    )

    attested = _driver_attestation_rounds()
    order = list(ordered_registry())
    floor = min(attested.get(n, 0) for n in order)
    min_tier = {n for n in order if attested.get(n, 0) == floor}
    lead = order[: len(min_tier)]
    assert set(lead) == min_tier, (
        f"stalest tier (round {floor}) not contiguous at the front: "
        f"{sorted(min_tier - set(lead))} displaced"
    )


def test_driver_prefix_starves_recently_attested_queries():
    """The 50-query driver sample must never re-spend a slot on a query
    attested in either of the two most recent rounds while enough
    staler queries exist to fill the prefix: the starvation property
    the ordered_registry docstring promises."""
    from pyspark_analytics_library_spark.registry import (
        _driver_attestation_rounds,
        ordered_registry,
    )

    attested = _driver_attestation_rounds()
    if not attested:
        return  # outside the repo checkout: nothing to starve
    latest = max(attested.values())
    recent = {n for n, r in attested.items() if r >= latest - 1}
    order = list(ordered_registry())
    stale_pool = [n for n in order if n not in recent]
    if len(stale_pool) < 50:
        return  # not enough stale queries to fill the sample
    offenders = [n for n in order[:50] if n in recent]
    assert not offenders, (
        f"driver prefix wastes slots on recently-attested queries: {offenders}"
    )


def test_attestation_ignores_failing_rows(tmp_path):
    """A failed driver row must not count as attestation — the query
    should rotate back toward the sample prefix."""
    import json as _json
    import pathlib as _pathlib

    from pyspark_analytics_library_spark.registry import _driver_attestation_rounds

    rows = {
        "good_oracle": {"rows_match": True, "schema_match": True, "hash_match": True,
                        "spark_rows": 5, "oracle_rows": 5, "err": None},
        "rows_only": {"rows_match": None, "schema_match": None, "hash_match": None,
                      "spark_rows": 9, "oracle_rows": None, "err": "no_oracle"},
        "hash_fail": {"rows_match": True, "schema_match": True, "hash_match": False,
                      "spark_rows": 5, "oracle_rows": 5, "err": None},
        "crashed": {"rows_match": None, "schema_match": None, "hash_match": None,
                    "spark_rows": None, "oracle_rows": None, "err": "boom"},
    }
    (tmp_path / "CORRECTNESS_r07.json").write_text(_json.dumps(rows))
    att = _driver_attestation_rounds(root=_pathlib.Path(tmp_path))
    assert att == {"good_oracle": 7, "rows_only": 7}


def test_describe_always_self_checks(spark):
    """agg_describe's summary cells are checked for VALUES: summary()
    emits strings no oracle can hash, so the exact cells — count, mean,
    min, max; the percentile rows are approximate by contract — are
    parsed back and compared with the same aggregates computed
    directly.  Java's Double.toString round-trips, so parsed cells match
    to the ulp; mean gets rel_tol for the one summation-order divergence
    class rounding cannot absorb.  An all-null column yields None on
    BOTH sides (summary cell and direct aggregate): equal None passes,
    one-sided None fails."""
    import math

    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.sources.io import load_tables

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    out = REGISTRY["agg_describe"].fn(spark, TEST_SF_DIR)
    cells = {r["summary"]: r.asDict() for r in out.collect()}
    assert list(cells) == ["count", "mean", "stddev", "min", "25%", "50%", "75%", "max"]
    # Per-column F.count(c), NOT F.count(1): summary's count row is the
    # NON-NULL count, a different statistic on any fixture with nulls.
    exact = (
        load_tables(spark, TEST_SF_DIR)["lineitem"]
        .agg(
            *[F.count(c).alias(f"n_{c}") for c in cols],
            *[F.avg(c).alias(f"avg_{c}") for c in cols],
            *[F.min(c).alias(f"min_{c}") for c in cols],
            *[F.max(c).alias(f"max_{c}") for c in cols],
        )
        .collect()[0]
    )
    for c in cols:
        checks = {
            "count": (cells["count"][c], exact[f"n_{c}"], 0.0),
            "mean": (cells["mean"][c], exact[f"avg_{c}"], 1e-9),
            "min": (cells["min"][c], exact[f"min_{c}"], 0.0),
            "max": (cells["max"][c], exact[f"max_{c}"], 0.0),
        }
        for stat, (got, want, rt) in checks.items():
            if got is None or want is None:
                ok = got is None and want is None
            else:
                ok = math.isclose(float(got), float(want), rel_tol=rt, abs_tol=0.0)
            assert ok, f"summary {stat}({c}) = {got} diverges from the direct aggregate {want}"
