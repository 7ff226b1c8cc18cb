"""The one session memo registry (`cache.memo`): every model a builder
trains once and reuses is keyed on its input path and rebuilt when the
input's files change at that path."""

from __future__ import annotations

import ast
import pathlib
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from emr_flink_example_spark import cache
from emr_flink_example_spark.operators import similarity as S
from emr_flink_example_spark.plans import catalog
from emr_flink_example_spark.testing import compare, connect_oracle

from conftest import SF_DIR

#: every builder-side memo: each must go through `cache.memo`
MEMO_SITES = {
    "trained_codebook",
    "_coarse_codebook",
    "_coarse_lists",
    "_residual_codebook",
    "_bpe_rules",
    "_simhash_pairs_materialized",
}


def _module_dicts(tree: ast.Module) -> set[str]:
    """Names bound at module level to a dict."""
    out = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        v = node.value
        if isinstance(v, (ast.Dict, ast.DictComp)) or (
            isinstance(v, ast.Call) and getattr(v.func, "id", None) in ("dict", "defaultdict")
        ):
            out |= {t.id for t in targets if isinstance(t, ast.Name)}
    return out


def _written_name(node: ast.AST) -> str | None:
    """The name a subscript store/delete or a mutating dict method writes."""
    if isinstance(node, ast.Subscript) and isinstance(node.ctx, (ast.Store, ast.Del)):
        target = node.value
    elif isinstance(node, ast.Call) and getattr(node.func, "attr", None) in (
        "setdefault", "update", "pop", "popitem", "clear"
    ):
        target = node.func.value
    else:
        return None
    return target.id if isinstance(target, ast.Name) else None


def test_operators_memoize_only_through_the_registry():
    """No operator module keeps a module-level dict that a function writes
    into (a private memo), and every memo site calls `memo`."""
    ops = pathlib.Path(__file__).resolve().parents[1] / "emr_flink_example_spark/operators"
    offenders, sites = [], {}
    for path in sorted(ops.glob("*.py")):
        tree = ast.parse(path.read_text())
        dicts = _module_dicts(tree)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            offenders += [
                (path.name, fn.name, name)
                for name in map(_written_name, ast.walk(fn))
                if name in dicts
            ]
            if fn.name in MEMO_SITES:
                sites[fn.name] = any(
                    isinstance(n, ast.Call) and getattr(n.func, "id", None) == "memo"
                    for n in ast.walk(fn)
                )
    assert not offenders, f"module-level memo dicts: {offenders}"
    assert sites == dict.fromkeys(MEMO_SITES, True)


def _reverse_embeddings(t):
    i = t.schema.get_field_index("embedding")
    return t.set_column(i, "embedding", t["embedding"].take(list(range(t.num_rows))[::-1]))


def _half_documents(t):
    return t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0))


#: query -> (the input table of its memo, a replacement of that table)
STALE = {
    "ann_ivf_topk": ("embeddings", _reverse_embeddings),
    "bpe_train_merges": ("documents", _half_documents),
    "graph_adamic_adar": ("documents", _half_documents),
}


@pytest.mark.parametrize("name", STALE)
def test_memo_rebuilds_when_input_is_replaced(spark, tmp_path, name):
    """One session: the query matches its oracle, its input is replaced
    at the same path, and it must match the oracle on the new data."""
    d = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, d)
    q, oracle = catalog.all_queries()[name], catalog.all_oracles()[name]
    ok, msg = compare(spark, connect_oracle(d), q, oracle, d)
    assert ok, msg
    table, replace = STALE[name]
    path = f"{d}/{table}.parquet"
    pq.write_table(replace(pq.read_table(path)), path)
    ok, msg = compare(spark, connect_oracle(d), q, oracle, d)
    assert ok, f"{name} after replacing {table}: {msg}"


def test_copies_at_two_paths_fit_twice(spark, tmp_path, monkeypatch):
    """A `shutil.copytree` copy keeps names, sizes and mtimes, so only the
    path in the key tells two copies apart: each must fit its own
    codebook, and a repeat call on an unchanged copy must not."""
    fits = []
    fit = S.subspace_kmeans_fit
    monkeypatch.setattr(S, "subspace_kmeans_fit", lambda *a, **k: fits.append(a) or fit(*a, **k))
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    shutil.copytree(SF_DIR, a)
    shutil.copytree(SF_DIR, b)
    cw = S._coarse_codebook(spark, a)
    assert S._coarse_codebook(spark, a) is cw
    assert S._coarse_codebook(spark, b) == cw
    assert len(fits) == 2


def test_entries_of_a_deleted_input_are_released(spark, tmp_path):
    """A deleted copy's entries are never looked up again: the next build
    drops them and frees the inverted lists' checkpointed blocks."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    shutil.copytree(SF_DIR, a)
    shutil.copytree(SF_DIR, b)
    rdd = S._coarse_lists(spark, a)._jdf.queryExecution().logical().rdd().id()
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    assert persisted.containsKey(rdd)
    shutil.rmtree(a)
    S._coarse_lists(spark, b)
    paths = [p for key in cache._state(spark).memos for p in key[1:]]
    assert paths and not [p for p in paths if p.startswith(f"file:{a}/")]
    assert not spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd)
