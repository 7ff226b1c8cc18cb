"""Mechanized int64-headroom discipline (VERDICT r10 #5): the set of
queries emitting an explicit headroom_ok column is RE-DERIVED from the
operator sources by AST walk and must equal the registry in
emr_flink_example_spark/headroom.py exactly, every registry name must be
a real catalog query, and graph_hits — r10's asserted-not-guarded
straggler — must now be guarded end-to-end (column present in the result
schema, oracle mirrored)."""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest

from emr_flink_example_spark import headroom
from emr_flink_example_spark.plans import catalog

from conftest import SF_DIR

OPERATOR_GLOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "emr_flink_example_spark", "operators", "*.py",
)


def _emits_guard(seg: str) -> bool:
    return (
        'alias("headroom_ok")' in seg
        or "AS headroom_ok" in seg
        or re.search(r'withColumn\(\s*"headroom_ok"', seg) is not None
    )


def _discover_guarded() -> set[str]:
    """Every q_* builder whose source aliases a headroom_ok column —
    directly, or via a same-module extracted API core it calls (the r12
    wave-4 shims delegate to cohens_d/cuped/mann_whitney/roc_auc, which
    carry the guard for both the catalog and API callers)."""
    found = set()
    for path in glob.glob(OPERATOR_GLOB):
        src = open(path).read()
        if "headroom_ok" not in src:
            continue
        tree = ast.parse(src)
        emitters = set()
        q_nodes = []
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            seg = ast.get_source_segment(src, node) or ""
            if node.name.startswith("q_"):
                q_nodes.append((node, seg))
            elif _emits_guard(seg):
                emitters.add(node.name)
        for node, seg in q_nodes:
            calls = {
                n.func.id
                for n in ast.walk(node)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
            }
            if _emits_guard(seg) or (calls & emitters):
                found.add(node.name[2:])
    return found


def test_guarded_set_matches_sources():
    discovered = _discover_guarded()
    assert discovered == set(headroom.GUARDED_COLUMN), (
        "headroom registry out of sync with operator sources; "
        f"missing from registry: {discovered - set(headroom.GUARDED_COLUMN)}, "
        f"stale in registry: {set(headroom.GUARDED_COLUMN) - discovered}"
    )


def test_registry_names_are_catalog_queries():
    qs = catalog.all_queries()
    for name in headroom.GUARDED_COLUMN | set(headroom.ENFORCED_INLINE):
        assert name in qs, name
    for name in headroom.BOUNDED:
        if name.endswith("_edges"):  # audit-history entries, not queries
            continue
        assert name in qs, name


def test_classes_are_disjoint_and_bounds_nonempty():
    g, e, b = (
        set(headroom.GUARDED_COLUMN),
        set(headroom.ENFORCED_INLINE),
        set(headroom.BOUNDED),
    )
    assert not (g & e) and not (g & b) and not (e & b)
    for name, bound in {**headroom.ENFORCED_INLINE, **headroom.BOUNDED}.items():
        assert isinstance(bound, str) and len(bound) > 20, name


def test_docstring_flagged_ops_are_registered():
    """Any q_* docstring that talks about int64/headroom without emitting
    the guard column must appear in ENFORCED_INLINE or BOUNDED — a new
    integer-product op cannot ship with only prose."""
    registered = (
        set(headroom.GUARDED_COLUMN)
        | set(headroom.ENFORCED_INLINE)
        | set(headroom.BOUNDED)
    )
    for path in glob.glob(OPERATOR_GLOB):
        src = open(path).read()
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.FunctionDef) and node.name.startswith("q_")):
                continue
            doc = ast.get_docstring(node) or ""
            if "int64" in doc or "headroom" in doc:
                name = node.name[2:]
                if name in catalog.all_queries():
                    assert name in registered, name


@pytest.mark.usefixtures("spark")
def test_graph_hits_guard_in_schema(spark):
    df = catalog.all_queries()["graph_hits"](spark, SF_DIR)
    assert "headroom_ok" in df.columns
    rows = df.collect()
    assert rows and all(r.headroom_ok for r in rows)
    assert all(r.auth_micro is not None for r in rows)
