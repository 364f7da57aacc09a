"""Query registry: one place where every operator declares itself.

Each operator module registers a named query (a callable
``(spark, sf_dir) -> DataFrame``) together with its DuckDB oracle SQL
(or ``None`` for genuinely non-SQL-expressible operators, which the
driver checks rows-only). ``__spark_entry__.py`` just re-exports the
two dicts.

Registration happens at import time; ``load_all()`` imports every
operator module so the registry is complete.

The dicts are ordered by a static family weave over
``_OPERATOR_MODULES``: the first query of every module in list order,
then the second, and so on. The order is a pure function of that list
and each module's registration order, and the first
``len(_OPERATOR_MODULES)`` names cover every family.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
# Optional routing/description metadata per query (VERDICT r10 task
# #3): lane tags, operating-regime notes — whatever a driver-side
# consumer needs to pick between sibling queries WITHOUT opening
# source. Populated by the decorator's ``meta`` kwarg.
_META: dict[str, dict[str, str]] = {}
# Registration order per defining module: the lanes _ordered_names()
# weaves, keyed by the modules in _OPERATOR_MODULES.
_BY_MODULE: dict[str, list[str]] = {}

_OPERATOR_MODULES = [
    "mapreduce_lab_spark.operators.wordcount",
    "mapreduce_lab_spark.operators.indexer",
    "mapreduce_lab_spark.operators.reference_parity",
    "mapreduce_lab_spark.operators.relational",
    "mapreduce_lab_spark.operators.relational_extra",
    "mapreduce_lab_spark.operators.subqueries",
    "mapreduce_lab_spark.operators.skewjoin",
    "mapreduce_lab_spark.operators.joinprune",
    "mapreduce_lab_spark.operators.sql_surface",
    "mapreduce_lab_spark.operators.tpch_rest",
    "mapreduce_lab_spark.operators.windows",
    "mapreduce_lab_spark.operators.events",
    "mapreduce_lab_spark.operators.timeseries",
    "mapreduce_lab_spark.operators.lifecycle",
    "mapreduce_lab_spark.streaming.replay",
    "mapreduce_lab_spark.operators.dedup",
    "mapreduce_lab_spark.operators.similarity",
    "mapreduce_lab_spark.operators.clustering",
    "mapreduce_lab_spark.operators.semantic_ivf",
    "mapreduce_lab_spark.operators.linalg",
    "mapreduce_lab_spark.operators.textstats",
    "mapreduce_lab_spark.operators.classify",
    "mapreduce_lab_spark.operators.retrieval",
    "mapreduce_lab_spark.operators.graph",
    "mapreduce_lab_spark.operators.paths",
    "mapreduce_lab_spark.operators.ngrams",
    "mapreduce_lab_spark.operators.lm",
    "mapreduce_lab_spark.operators.drift",
    "mapreduce_lab_spark.operators.profiling",
    "mapreduce_lab_spark.operators.stats",
    "mapreduce_lab_spark.operators.layout",
    "mapreduce_lab_spark.operators.heavy_hitters",
    "mapreduce_lab_spark.operators.basket",
    "mapreduce_lab_spark.operators.sketches",
    "mapreduce_lab_spark.operators.sampling",
    "mapreduce_lab_spark.operators.attribution",
    "mapreduce_lab_spark.operators.anomaly",
    "mapreduce_lab_spark.operators.curation",
    "mapreduce_lab_spark.operators.selection",
    "mapreduce_lab_spark.operators.entity",
    "mapreduce_lab_spark.operators.contamination",
    "mapreduce_lab_spark.operators.chunking",
    "mapreduce_lab_spark.operators.packing",
    "mapreduce_lab_spark.operators.bpe",
    "mapreduce_lab_spark.operators.quality",
    "mapreduce_lab_spark.operators.mapreduce_contract",
    "mapreduce_lab_spark.multimodal.binary_ops",
    "mapreduce_lab_spark.multimodal.tarshard",
    "mapreduce_lab_spark.operators.pipeline",
    "mapreduce_lab_spark.sources.pysource",
    "mapreduce_lab_spark.sources.sinks",
]


def query(
    name: str,
    oracle: str | None = None,
    meta: dict[str, str] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as queries()[name] with its oracle SQL
    and optional routing metadata (surfaced through ``describe()``)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        if meta:
            _META[name] = dict(meta)
        _BY_MODULE.setdefault(fn.__module__, []).append(name)
        return fn

    return deco


def load_all() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def _ordered_names() -> list[str]:
    """Every registered name in the family-weave order (module docstring)."""
    load_all()
    lanes = [_BY_MODULE[m] for m in _OPERATOR_MODULES]
    depth = max(map(len, lanes))
    return [lane[i] for i in range(depth) for lane in lanes if i < len(lane)]


def queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _ordered_names()}


def oracles() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


def describe() -> dict[str, dict[str, str]]:
    """Per-query metadata a driver-side consumer can read without
    opening source: the docstring's first paragraph as ``description``,
    ``oracle`` ('full' vs 'rows-only'), the defining ``module``, and
    any explicit routing tags registered via ``@query(..., meta=...)``
    (e.g. the embedding near-dup lane split: which sibling serves
    tight vs loose cosine thresholds at scale)."""
    import sys

    out: dict[str, dict[str, str]] = {}
    for n in _ordered_names():
        fn = _QUERIES[n]
        doc = (fn.__doc__ or "").strip()
        if not doc:  # thin @query wrappers document at module level
            doc = (getattr(sys.modules.get(fn.__module__), "__doc__", "") or "").strip()
        first_par = " ".join(doc.split("\n\n", 1)[0].split())
        d: dict[str, str] = {
            "description": first_par,
            "oracle": "full" if n in _ORACLES else "rows-only",
            "module": fn.__module__,
        }
        d.update(_META.get(n, {}))
        out[n] = d
    return out
