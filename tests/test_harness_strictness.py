"""Regression tests for harness strictness and driver-coverage shape.

Round-1 driver gate caught two defects the local harness missed:

1. Shared Spark+DuckDB SQL of the form ``sum(bigint) / 100.0`` types
   DECIMAL(27,6) in Spark but DOUBLE in DuckDB. Both stringify to the
   same 6-dp text, so the old compare() passed while the driver's
   schema/hash check failed. compare() now checks column-type
   compatibility BEFORE canonicalizing; the old form must fail here.

2. The driver emitted correctness rows only for a prefix of
   queries()'s ordering, and the flat module-by-module ordering left
   whole families unsampled. The registry now interleaves families;
   pin that property so a reorder can't silently regress it.
"""

from __future__ import annotations

from mapreduce_lab_spark import registry
from mapreduce_lab_spark.functions.numeric import oracle_exact_sum
from mapreduce_lab_spark.sources.tables import load_table
from mapreduce_lab_spark.testing import compare


def _shared_sql_result(spark, sf_dir, sql):
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(sql)


def test_old_decimal_form_fails_dtype_gate(spark, duck, sf_dir):
    """sum(CAST .. AS BIGINT) / 100.0 → Spark DECIMAL vs DuckDB DOUBLE
    must now be rejected by the local harness (driver parity)."""
    old_form = """
    SELECT c_mktsegment,
           (sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0) AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """
    res = compare(
        "old_decimal_form", _shared_sql_result(spark, sf_dir, old_form), duck, old_form
    )
    assert not res.ok
    assert "dtype" in res.detail and "decimal" in res.detail


def test_new_exact_sum_form_is_shared_sql_safe(spark, duck, sf_dir):
    """oracle_exact_sum's output must type DOUBLE in BOTH engines and
    match value-for-value when the identical string runs in both."""
    sql = f"""
    SELECT c_mktsegment,
           {oracle_exact_sum('c_acctbal', 100)} AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """
    df = _shared_sql_result(spark, sf_dir, sql)
    assert dict(df.dtypes)["total_acctbal"] == "double"
    res = compare("new_exact_sum_form", df, duck, sql)
    assert res.ok, res.detail


def test_registry_prefix_samples_every_family():
    """The first len(_OPERATOR_MODULES) names of queries() span every
    family, and the lanes are exactly the listed modules: a module
    that registers queries without being listed (or is listed but
    registers none) fails here instead of dropping out of the weave."""
    names = list(registry.queries())
    assert set(registry._BY_MODULE) == set(registry._OPERATOR_MODULES)
    n_families = len(registry._OPERATOR_MODULES)
    prefix_mods = {registry._QUERIES[n].__module__ for n in names[:n_families]}
    assert prefix_mods == set(registry._OPERATOR_MODULES), (
        f"first {n_families} queries cover {len(prefix_mods)}/{n_families} families"
    )


def test_registry_order_immune_to_new_driver_artifacts(tmp_path):
    """META-TEST for the round-4 failure mode: the driver writes
    CORRECTNESS_r{N}.json AFTER the builder's last commit, so any
    queries() ordering derived from live-globbing those artifacts
    changes under the driver's feet mid-round (and flipped the plan-
    hygiene sweep). Ordering must depend only on the committed module
    list: dropping a synthetic new artifact at the repo root must not
    move a single query."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    synthetic = os.path.join(root, "CORRECTNESS_r99.json")
    assert not os.path.exists(synthetic)
    before = list(registry.queries())
    # Plausible artifact content: a green driver row for every query.
    import json

    payload = {n: {"rows_match": True} for n in before}
    try:
        with open(synthetic, "w") as f:
            json.dump(payload, f)
        after = list(registry.queries())
    finally:
        os.remove(synthetic)
    assert before == after


def test_every_query_has_unique_name_and_callable():
    q = registry.queries()
    assert len(q) >= 91
    for name, fn in q.items():
        assert callable(fn), name


def test_describe_surfaces_lane_routing():
    """VERDICT r10 task #3: a driver-side consumer must be able to read
    the embedding near-dup lane split (tight-threshold sign-LSH vs
    loose-threshold IVF) from registry metadata without opening
    operator source."""
    from mapreduce_lab_spark import registry

    d = registry.describe()
    assert set(d) == set(registry.queries()), "describe covers every query"
    for name, info in d.items():
        assert info["description"], f"{name}: empty description"
        assert info["oracle"] in ("full", "rows-only")
    assert d["near_dup_embedding_lsh"]["lane"] == "tight-threshold"
    assert "ivf_clusters" in d["near_dup_embedding_lsh"]["routing"]
    assert d["near_dup_embedding_ivf_clusters"]["lane"] == "loose-threshold"
    assert d["near_dup_embedding_ivf_pinned"]["lane"] == "oracle-contract"
    assert d["ivf_init_codebook"]["oracle"] == "full"
    assert d["ivf_train_codebook"]["oracle"] == "rows-only"
