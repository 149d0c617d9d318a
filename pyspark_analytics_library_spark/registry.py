"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers exactly one
:class:`QuerySpec` here.  ``__spark_entry__.queries()`` and
``oracle_sql()`` are generated from this registry, so an operator is
"done" if and only if it has a row here (with ``oracle=None`` only for
the rows-only exclusions enumerated in SURVEY.md §5.3.5: sampling,
approximate/randomized algorithms, LSH, streaming, binary payloads).
"""

from __future__ import annotations

import json
import pathlib
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    """One declared query: a Spark callable plus its DuckDB oracle."""

    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for DuckDB; None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a declared query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


#: Module emission order for :func:`ordered_registry`.  Within each
#: attestation tier (see below), queries are emitted round-robin across
#: modules (one query from each, repeating) so any prefix of the registry
#: — e.g. a driver that samples the first N queries — spans every operator
#: family instead of exhausting one module at a time.
_MODULE_ORDER = (
    "timeseries",
    "windows",
    "stream_queries",
    "sql_surface",
    "graph",
    "aggregates",
    "setops",
    "similarity",
    "udf",
    "scalar",
    "scan_queries",
    "multimodal",
    "pipeline",
    "relational",
    "composite",
    "skew",
    "dedup",
    "text",
)


def _row_green(row: object) -> bool:
    """Whether a driver CORRECTNESS row records a PASS.

    Oracled rows pass on all three match flags; rows-only entries
    (err == "no_oracle") pass by running.  Anything else — a real err,
    or a false match flag — is a failure and must NOT count as
    attestation: a failed query should rotate back into the sample
    prefix, not age out of it as if it were verified.
    """
    if not isinstance(row, dict):
        return False
    err = row.get("err")
    if err == "no_oracle":
        return True
    if err is not None:
        return False
    return all(row.get(k) for k in ("rows_match", "schema_match", "hash_match"))


def _driver_attestation_rounds(root: pathlib.Path | None = None) -> dict[str, int]:
    """Latest round with a GREEN driver CORRECTNESS row, per query name.

    Parses the committed ``CORRECTNESS_r*.json`` artifacts at the repo
    root (two directories above this file).  A query absent from every
    file, or present only with failing rows, has never been
    driver-attested.  Missing or unparseable files are skipped, so
    outside the repo checkout this degrades to "nothing attested",
    which leaves the ordering well-defined.
    """
    rounds: dict[str, int] = {}
    if root is None:
        root = pathlib.Path(__file__).resolve().parent.parent
    for path in root.glob("CORRECTNESS_r*.json"):
        match = re.search(r"r(\d+)$", path.stem)
        if not match:
            continue
        rnd = int(match.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if _row_green(row):
                rounds[name] = max(rounds.get(name, 0), rnd)
    return rounds


def ordered_registry() -> dict[str, QuerySpec]:
    """REGISTRY ordered least-recently-driver-attested first.

    The driver's CORRECTNESS check samples a prefix of this ordering, so
    the order IS the attestation schedule: queries with no green driver
    row in any committed ``CORRECTNESS_r*.json`` come first, then
    queries whose latest attestation is oldest.  Within each tier,
    emission is round-robin across modules (see _MODULE_ORDER) so any
    prefix still spans operator families.  Registration order follows
    Python import order, which cross-module imports distort; this
    function is the stable, intent-bearing order used by
    ``__spark_entry__.queries()``.  A query whose semantics change is
    re-attested through this rotation.

    ROTATION INVARIANT (do not regress): with a driver sample of K
    queries per round and committed CORRECTNESS files as the only
    state, the attestation floor (min over queries of the latest green
    round) advances whenever the stalest tier has <= K members, because
    that whole tier sits in the K-prefix.  With 198 queries and K=50
    the steady state is a 4-round rotation (no query's latest green
    row is ever older than 4 rounds) PROVIDED (a) new queries are not
    added faster than K per round and (b) failing rows do NOT count as
    attestation (see :func:`_row_green`), so a failed query re-enters
    the prefix immediately instead of aging out.
    ``tests/test_driver_contract.py`` pins the prefix property
    (frontload, stalest-tier and starvation tests).

    HEADROOM: in the steady K·R rotation each tier holds ~total/R
    members, so the hard ceiling for an R-round floor cadence is
    total ≤ K·R: at 198 queries the 4-round rotation leaves exactly
    200−198 = 2 permanent new-query slots, and a round whose stalest
    tier is full-sized (49–50, as after any steady round) can afford
    zero new queries without stalling the floor.  Add queries only in
    a round whose stalest tier is measured small, via
    ``_driver_attestation_rounds()``.
    """
    attested = _driver_attestation_rounds()
    tiers: dict[int, dict[str, list[QuerySpec]]] = {}
    for spec in REGISTRY.values():
        tier = attested.get(spec.name, 0)
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        tiers.setdefault(tier, {}).setdefault(mod, []).append(spec)
    out: dict[str, QuerySpec] = {}
    for tier in sorted(tiers):
        by_module = tiers[tier]
        for specs in by_module.values():
            specs.sort(key=lambda s: s.name)
        module_cycle = [m for m in _MODULE_ORDER if m in by_module]
        module_cycle += sorted(m for m in by_module if m not in _MODULE_ORDER)
        queues = {m: list(by_module[m]) for m in module_cycle}
        while queues:
            for mod in list(module_cycle):
                if mod not in queues:
                    continue
                spec = queues[mod].pop(0)
                out[spec.name] = spec
                if not queues[mod]:
                    del queues[mod]
    return out


def load_all_query_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    # Imports are local to avoid circular imports at package-init time.
    import pyspark_analytics_library_spark.operators.relational  # noqa: F401
    import pyspark_analytics_library_spark.operators.composite  # noqa: F401
    import pyspark_analytics_library_spark.operators.skew  # noqa: F401
    import pyspark_analytics_library_spark.operators.pipeline  # noqa: F401
    import pyspark_analytics_library_spark.operators.aggregates  # noqa: F401
    import pyspark_analytics_library_spark.operators.windows  # noqa: F401
    import pyspark_analytics_library_spark.operators.setops  # noqa: F401
    import pyspark_analytics_library_spark.operators.timeseries  # noqa: F401
    import pyspark_analytics_library_spark.operators.dedup  # noqa: F401
    import pyspark_analytics_library_spark.operators.similarity  # noqa: F401
    import pyspark_analytics_library_spark.operators.text  # noqa: F401
    import pyspark_analytics_library_spark.operators.udf  # noqa: F401
    import pyspark_analytics_library_spark.operators.multimodal  # noqa: F401
    import pyspark_analytics_library_spark.operators.sql_surface  # noqa: F401
    import pyspark_analytics_library_spark.operators.graph  # noqa: F401
    import pyspark_analytics_library_spark.functions.scalar  # noqa: F401
    import pyspark_analytics_library_spark.sources.scan_queries  # noqa: F401
    import pyspark_analytics_library_spark.streaming.stream_queries  # noqa: F401
