"""Every ``spark.analytics.*`` key, declared once in :data:`KEYS`.

Read a key with :func:`get` (typed; a malformed value raises a
``ValueError`` naming the key), flip any session conf for one operation
with :func:`scoped_conf`, and gate local-only policy on
:func:`is_local_master`.  Spark-owned keys are read with
``spark.conf.get``; only flips of them go through :func:`scoped_conf`.
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager
from typing import Any, Callable, NamedTuple


def size_bytes(value: str) -> int:
    """Bytes in a size string, accepting what Spark's
    ``JavaUtils.byteStringAsBytes`` accepts (and its getters return):
    digits plus an optional case-insensitive b/k/m/g/t/p unit, optionally
    followed by ``b`` — ``134217728b``, ``4m``, ``256mb``, ``12g``."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", str(value).strip().lower())
    if not m:
        raise ValueError(
            f"unparseable size {value!r}: expected bytes or a k/m/g/t-suffixed "
            "value (e.g. 268435456, 256m, 12g)"
        )
    return int(m.group(1)) * 1024 ** " kmgtp".index(m.group(2) or " ")


class Key(NamedTuple):
    default: str | None
    parse: Callable[[str], Any]
    doc: str


# fmt: off
#: name -> (default, parser, doc); the README's Configuration table mirrors it.
KEYS: dict[str, Key] = {
    "spark.analytics.quantile.maxLocalStateBytes": Key("256m", size_bytes, "exact-percentile state above which the binned path runs"),
    "spark.analytics.cc.driverUnionFindMaxEdges": Key("500000", int, "CC driver union-find edge cap; 0 forces the loop"),
    "spark.analytics.scratchDir": Key(None, str, "Hadoop-visible base for every file the package stages"),
    "spark.analytics.graph.denseMatmulMaxVertices": Key("4096", int, "dense triangle census vertex cap"),
    "spark.analytics.graph.denseMatmulMaxEdges": Key("2000000", int, "dense triangle census edge cap"),
    "spark.analytics.graph.sparseMaxWork": Key("1e11", float, "sparse census work above which it refuses"),
    "spark.analytics.graph.broadcastNbrsMaxEdges": Key("50000000", int, "sparse census broadcast cap"),
    "spark.analytics.sim.maxIndexBytes": Key("2g", size_bytes, "build_index matrix size cap"),
}
# fmt: on


def get(spark, name: str) -> Any:
    """Parsed value of declared key ``name``, else its default."""
    raw = spark.conf.get(name, KEYS[name].default)
    try:
        return None if raw is None else KEYS[name].parse(raw)
    except ValueError as e:
        raise ValueError(f"invalid {name}={raw!r}: {e}") from None


_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark, overrides: dict[str, Any]):
    """Set ``overrides`` for the body, then restore each key exactly (an
    unset key is unset again).  One module lock spans the flip, so two
    threads sharing a session never restore each other's value."""
    with _LOCK:
        prev = {k: spark.conf.get(k, None) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, str(v))
            yield
        finally:
            for k, v in prev.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def is_local_master(spark) -> bool:
    """Driver and executors share one machine (``local[...]``)."""
    return spark.sparkContext.master.startswith("local")
