"""Source lints that pin the engine's scale posture.

The package's contract (SCALE.md) is that driver-side materialization
is the exception: every ``.collect()`` / ``.toPandas()`` in operator
code must be one of the documented, size-guarded cases (scalar
convergence aggregates, the IndexTooLargeError-gated
broadcast index build, the capped dense-census path).  A new operator
that quietly collects its input would pass fixture-scale correctness
tests while being wrong at 100 TB — this lint makes that a visible,
reviewed decision instead of a silent regression: adding a
materialization means updating the whitelist below WITH a size guard
in the code.
"""

from __future__ import annotations

import ast
import inspect
import io
import os
import re
import tokenize

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.sources import io as io_mod

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pyspark_analytics_library_spark",
)

#: repo-relative file → exact count of driver-materialization call
#: sites (``.collect()`` + ``.toPandas()``).  Every entry is justified
#: in the file itself at the cited call site.  ``streaming/`` has no
#: entry: its queries return their sink tables and collect nothing.
WHITELIST = {
    # exact_quantile_guard's 1-row approx_count_distinct probe (HLL
    # sketch — fixed-size state and a single output row at any input
    # scale); plus binned_exact_percentiles' four bounded collects:
    # per-group count/min/max (one row per group), the per-round
    # histogram (≤ units × bins rows — fixed by conf, never
    # data-sized), the degenerate per-VALUE histogram (≤ ~bins
    # representable doubles in an underflowed-width interval), and the
    # leaf candidate pull (≤ units × leaf_limit values, the final
    # order-statistic read — per-rank units make that bound
    # unconditional).  agg_describe returns its summary() plan; its
    # values are checked in tests, not collected in the query.
    "operators/aggregates.py": 5,
    # dim probe (1 row) + IndexTooLargeError-gated index build +
    # IVF centroid sample's three driver pulls (the limit(sample+1)
    # small-table probe — CollectLimit, driver-bounded at sample+1 rows
    # at any partition count, ADVICE r14; the loop path's n count; the
    # hash-filter-bounded limit(sample) pull — all sample-capped by
    # construction, VERDICT r13 #5) + distributed k-means' two bounded
    # collects (k-row init; k×dim centroid update per iteration — the
    # PageRank-rank-vector size class)
    "operators/similarity.py": 6,
    # dense triangle census: degree table + edge list, both behind the
    # vertex AND edge caps that dispatch to the sparse path; plus the
    # sparse path's 1-row triangle-sum collect (lets the census delete
    # its scratch generation before returning — ADVICE r9)
    "operators/graph.py": 3,
    # connected_components driver union-find dispatch (round 19): ONE
    # limit(cap+1)-bounded edge collect (cap =
    # spark.analytics.cc.driverUnionFindMaxEdges, default 500k pairs;
    # past it the distributed group-min loop runs unchanged) — the same
    # guarded-driver-branch discipline as the dense triangle census
    "operators/dedup.py": 1,
    # _insert_key_offset: one 1-row scalar aggregate (max merge key —
    # parquet column stats make the scan metadata-speed) shared by both
    # merge queries, ADVICE r13's collision-free insert-key derivation
    "sources/scan_queries.py": 1,
    # table_merge's touched-bucket probe (a distinct bucket-id collect,
    # ≤ n_buckets ints by construction); _buckets_for_keys' lookup
    # bucket derivation (one bucket id per probe key over a keys-sized
    # local frame, deduplicated on the driver); plus _zorder_expr's
    # 1-row quantile-boundary aggregate (percentile_approx: 63
    # boundaries per clustering column — ≤189 doubles at 3 columns —
    # the z-rank cell edges)
    "sources/commit.py": 3,
}

#: every DataFrame → driver materialization spelling, not just the two
#: common ones: toLocalIterator/first/take/head pull rows to the driver
#: just as surely as collect (none are currently used — count 0 keeps
#: them out of the whitelist until someone consciously adds one).
#: ``.first()`` matches only the no-arg DataFrame action — F.first(col)
#: is the window aggregate, worker-side.  A worker-side pandas
#: .head(n)/.take(n) inside a UDF would false-positive here; that is
#: deliberate — it forces a whitelist entry with a justifying comment.
_CALL = re.compile(
    r"\.(?:collect|toPandas|toLocalIterator|first)\(\)|\.(?:take|head)\("
)
_PYUDF = re.compile(r"\bF\.udf\(")


def _package_sources():
    """(path relative to the package, source) of every package module."""
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(root, fname)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, PKG).replace(os.sep, "/"), f.read()


def test_driver_materialization_sites_are_whitelisted():
    found = {
        rel: n
        for rel, src in _package_sources()
        if (n := len(_CALL.findall(_code_only(src))))
    }
    assert found == WHITELIST, (
        "driver-side materialization sites changed — if the new site is "
        f"size-guarded, update the whitelist: {found} != {WHITELIST}"
    )


_SELF_CHECK = re.compile(r"""raise AssertionError|["']selfcheck["']""")


def test_queries_return_results_and_tests_check_them():
    """A declared query returns its result; its checks live in the
    tests (tests/test_streaming.py, tests/test_driver_contract.py), so
    no package module raises AssertionError or stamps a ``selfcheck``
    column.  An embedded check costs driver-side jobs on every call
    and adds a column the result does not own."""
    offenders = [rel for rel, src in _package_sources() if _SELF_CHECK.search(src)]
    assert offenders == [], f"move the check into a test: {offenders}"


def test_row_at_a_time_udfs_only_in_the_udf_demo_module():
    """Row-at-a-time ``F.udf`` is the slow path (per-row Python↔JVM
    serialization); the engine's rule is built-in expressions or
    Arrow-batched pandas UDFs everywhere EXCEPT operators/udf.py, whose
    whole point is demonstrating the UDF machinery tiers side by side
    (plain / arrow / pandas, each with the same CASE oracle)."""
    offenders = [
        rel
        for rel, src in _package_sources()
        if rel != "operators/udf.py" and _PYUDF.search(src)
    ]
    assert not offenders, f"row-at-a-time F.udf outside the demo module: {offenders}"


_STAGING_SCHEME = re.compile(r'tempfile\.gettempdir|mkdtemp|"[.]scratch"|\bfs\.delete\(')


def test_scratch_has_one_owner():
    """Every file the package stages goes under the one per-process root
    that ``sources/io.py`` resolves and sweeps: no other module picks a
    temp dir, spells a checkout-relative scratch tree, or deletes
    through the Hadoop FileSystem API itself.  The scratch twin of the
    conf lint below."""
    offenders = [
        rel
        for rel, src in _package_sources()
        if rel != "sources/io.py" and _STAGING_SCHEME.search(src)
    ]
    assert offenders == [], f"stage files through sources/io.py: {offenders}"


_SESSION_CONF = re.compile(r"\.conf\.(get|set|unset)\(\s*([^,)]*)")
_CONF_READ = re.compile(r"\bconf\.get\(\s*spark,\s*\"([^\"]+)\"")


def _conf_writes(src: str) -> int:
    return sum(method != "get" for method, _ in _SESSION_CONF.findall(src))


def test_session_conf_is_read_and_scoped_one_way():
    """Every ``spark.analytics.*`` key is read through ``conf.get``:
    outside ``conf.py`` a session-conf call takes a literal Spark-owned
    key; session writes happen only in ``conf.scoped_conf`` and the
    loader's ``io._configure``; the local-master check is one function;
    every declared key is read somewhere (no dead keys); and every key
    is a size, count or path, never a mode switch."""
    ad_hoc, writes, local_checks, read = [], {}, [], set()
    for rel, src in _package_sources():
        read.update(_CONF_READ.findall(src))
        if 'master.startswith("local")' in src and rel != "conf.py":
            local_checks.append(rel)
        if _conf_writes(src):
            writes[rel] = _conf_writes(src)
        for _method, arg in _SESSION_CONF.findall(src):
            if rel != "conf.py" and not re.fullmatch(r'"spark\.(?!analytics\.)[^"]+"', arg):
                ad_hoc.append((rel, arg))
    assert ad_hoc == [], f"read spark.analytics.* keys with conf.get: {ad_hoc}"
    assert writes == {
        "conf.py": _conf_writes(inspect.getsource(conf.scoped_conf)),
        "sources/io.py": _conf_writes(inspect.getsource(io_mod._configure)),
    }, "flip session conf with conf.scoped_conf"
    assert local_checks == [], f"use conf.is_local_master: {local_checks}"
    assert read == set(conf.KEYS), (
        f"declared but never read: {sorted(set(conf.KEYS) - read)}; "
        f"read but not declared: {sorted(read - set(conf.KEYS))}"
    )
    switches = [
        k
        for k, v in conf.KEYS.items()
        if v.parse not in (int, float, conf.size_bytes, str)
    ]
    assert switches == [], (
        f"mode switches {switches}: a key that picks a code path needs two "
        "non-test callers that need different values; otherwise make the "
        "one value in use a constant"
    )


_HISTORY = re.compile(
    r"VERDICT|ADVICE|guide §|[Rr]ound[- ]?\d+|OPTIMIZATION_r\d+|\br\d{1,2}\b|SCALE\.md"
)


def _prose_lines(src: str):
    """(line number, start column, text) of every comment and docstring
    line; the prose runs from the start column to the end of the line."""
    tree = ast.parse(src)
    lines = src.splitlines()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = node.body[0] if node.body else None
            if (
                isinstance(doc, ast.Expr)
                and isinstance(doc.value, ast.Constant)
                and isinstance(doc.value.value, str)
            ):
                for n in range(doc.lineno, doc.end_lineno + 1):
                    yield n, 0, lines[n - 1]
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.start[1], tok.string


def _code_only(src: str) -> str:
    """``src`` with every comment token and docstring blanked, so a lint
    counts code, not prose that mentions the code."""
    lines = src.splitlines()
    for n, col, _text in _prose_lines(src):
        lines[n - 1] = lines[n - 1][:col]
    return "\n".join(lines)


def test_package_prose_states_the_contract_not_the_history():
    """Comments and docstrings say what the code does and why, not
    which review round or ledger entry changed it: the ledgers and git
    keep that history.  Code (identifiers such as ``r4``, error-message
    strings) is out of scope; only comment tokens and docstrings are
    read."""
    hits = [
        f"{rel}:{n}: {text.strip()}"
        for rel, src in _package_sources()
        for n, _col, text in _prose_lines(src)
        if _HISTORY.search(text)
    ]
    assert hits == [], "history citations in package prose:\n" + "\n".join(hits)


def _calls_by_function(src: str) -> dict[str, list[str]]:
    """Top-level function name → names of the functions it calls and of
    the subscript keys it reads (``man["schema"]`` reads ``"schema"``)."""
    out: dict[str, list[str]] = {}
    for fn in ast.parse(src).body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                f = node.func
                out.setdefault(fn.name, []).append(
                    f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
                )
            elif isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Constant):
                out.setdefault(fn.name, []).append(repr(node.slice.value))
    return out


def test_lakehouse_commits_through_one_path():
    """``sources/commit.py`` spells its optimistic-commit protocol once:
    ``_commit_manifest`` has one call site (``_commit``, which owns the
    next-seq rule, the part rewrite and the live-pointer check), and the
    manifest schema is parsed in ``_schema`` alone.  Data is written in
    one shape: ``_write_bucketed`` holds the layer's one shuffle and
    takes the table layout from the manifest it is given.  IN-list and
    lookup reads share one stats filter, in ``_scan``.  An op that
    hand-spells any of these would let the copies drift."""
    with open(os.path.join(PKG, "sources", "commit.py"), encoding="utf-8") as f:
        src = f.read()
    calls = _calls_by_function(src)
    committers = [fn for fn, names in calls.items() for n in names if n == "_commit_manifest"]
    parsers = [
        fn
        for fn, names in calls.items()
        for n in names
        if n in ("fromJson", "'schema'")
    ]
    assert committers == ["_commit"], f"commit through _commit: {committers}"
    assert set(parsers) == {"_schema"}, f"parse the manifest schema with _schema: {parsers}"
    # One write shape: the only shuffle is _write_bucketed's, and every
    # writer hands it the root its commit builds on, which carries the
    # table's layout, instead of spelling the layout as arguments.
    shuffles = [fn for fn, names in calls.items() for n in names if n == "repartition"]
    assert shuffles == ["_write_bucketed"], f"shuffle only in _write_bucketed: {shuffles}"
    assert _code_only(src).count(".repartition(") == 1
    writes = [
        node
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_write_bucketed"
    ]
    assert writes, "no _write_bucketed call found"
    for node in writes:
        kws = {k.arg for k in node.keywords}
        assert len(node.args) == 3 and kws <= {"layout"}, (
            f"line {node.lineno}: call _write_bucketed(df, target, man[, layout=])"
        )
    # One keyed read: the point-probe stats filter (lo and hi the same
    # value) that serves IN-lists and lookups is spelled once.
    probes = [
        fn.name
        for fn in ast.parse(src).body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "_stats_overlap"
        and len(node.args) >= 4
        and ast.dump(node.args[2]) == ast.dump(node.args[3])
    ]
    assert probes == ["_scan"], f"filter IN-list files in _scan only: {probes}"


def _two_struct_explodes(src: str) -> list[str]:
    """Top-level functions that explode a literal two-struct array
    (``explode(array(struct(...), struct(...)))``)."""

    def name(node):
        return isinstance(node, ast.Call) and getattr(node.func, "attr", None)

    return [
        fn.name
        for fn in ast.parse(src).body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if name(node) == "explode"
        and name(node.args[0]) == "array"
        and len(node.args[0].args) == 2
        and all(name(a) == "struct" for a in node.args[0].args)
    ]


def test_llm_stages_spelled_once():
    """Each LLM-data stage has one spelling, so copies cannot drift:
    embeddings are L2-normalized through ``similarity._safe_norm`` (the
    zero-norm guard), the content split hashes in
    ``pipeline._content_split``, stages are written and re-read through
    ``io.materialize``, and both directions of a pair list come from
    ``dedup.both_ways``."""
    norms, explodes, schema_reads = [], [], []
    for rel, src in _package_sources():
        calls = _calls_by_function(src)
        norms += [(rel, fn) for fn, names in calls.items() if "norm" in names]
        explodes += [(rel, fn) for fn in _two_struct_explodes(src)]
        if rel.startswith("operators/") and "read.schema(" in _code_only(src):
            schema_reads.append(rel)
        if rel == "operators/pipeline.py":
            hashers = [fn for fn, names in calls.items() if "sha2" in names]
    assert norms == [("operators/similarity.py", "_safe_norm")], (
        f"normalize embeddings with similarity._unit_rows / _safe_norm: {norms}"
    )
    assert hashers == ["_content_split"], f"split by pipeline._content_split: {hashers}"
    assert schema_reads == [], f"write and re-read a stage with io.materialize: {schema_reads}"
    assert explodes == [("operators/dedup.py", "both_ways")], (
        f"symmetrize pair lists with dedup.both_ways: {explodes}"
    )


def _str_coercions(src: str) -> list[str]:
    """Top-level functions that coerce a name to a Column by hand: an
    ``isinstance(x, str)`` test (statement or expression) whose taken
    branch calls ``col``."""

    def is_str_test(node):
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "isinstance"
            and getattr(node.args[1], "id", None) == "str"
        )

    def calls_col(body):
        return any(
            isinstance(n, ast.Call)
            and (getattr(n.func, "attr", None) or getattr(n.func, "id", None)) == "col"
            for part in (body if isinstance(body, list) else [body])
            for n in ast.walk(part)
        )

    return [
        top.name
        for top in ast.parse(src).body
        if isinstance(top, ast.FunctionDef)
        for node in ast.walk(top)
        if isinstance(node, (ast.If, ast.IfExp)) and is_str_test(node.test) and calls_col(node.body)
    ]


def test_views_and_coercion_have_one_owner():
    """Catalog state and the name-or-Column convention each have one
    owner.  ``io.register_views`` is the only function that registers a
    temp view, so only SQL text that names its tables sees any;
    ``load_tables`` takes just ``(spark, sf_dir)`` and changes no
    catalog state; and a column name becomes a Column only through
    ``functions/coercion.py``."""
    views, coercions = {}, []
    for rel, src in _package_sources():
        if n := _code_only(src).count("createOrReplaceTempView"):
            views[rel] = n
        if rel != "functions/coercion.py":
            coercions += [(rel, fn) for fn in _str_coercions(src)]
    with open(os.path.join(PKG, "sources", "io.py"), encoding="utf-8") as f:
        calls = _calls_by_function(f.read())
    registrars = [fn for fn, names in calls.items() if "createOrReplaceTempView" in names]
    assert views == {"sources/io.py": 1} and registrars == ["register_views"], (
        f"register temp views through io.register_views: {views} {registrars}"
    )
    assert list(inspect.signature(io_mod.load_tables).parameters) == ["spark", "sf_dir"]
    assert coercions == [], f"coerce column names with ensure_column(s): {coercions}"


def test_driver_literals_have_one_owner():
    """Driver values become a frame only through ``io.local_frame``, an
    Arrow local relation that needs no Spark job and no Python worker.
    A row-list ``createDataFrame`` elsewhere is a pickled Python RDD:
    collecting even a 1-row summary over it forks a Python daemon and
    workers for what is otherwise a JVM-only operator."""
    sites = {
        rel: n
        for rel, src in _package_sources()
        if (n := _code_only(src).count("createDataFrame"))
    }
    with open(os.path.join(PKG, "sources", "io.py"), encoding="utf-8") as f:
        calls = _calls_by_function(f.read())
    owners = [fn for fn, names in calls.items() if "createDataFrame" in names]
    assert sites == {"sources/io.py": 1} and owners == ["local_frame"], (
        f"build driver-literal frames with io.local_frame: {sites} {owners}"
    )
