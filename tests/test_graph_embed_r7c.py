"""Property tests for the r7-continuation graph/embedding operators:
Adamic-Adar link prediction and the matryoshka truncation-recall census.

Both are replicated EXACTLY in pure Python (same fold order, same integer
weight table, same tie-breaks), so these are independent end-to-end pins on
top of the DuckDB differential.
"""

from __future__ import annotations

from emr_flink_example_spark.io import load
from emr_flink_example_spark.operators.dedup import (
    AA_ADJ_CAP,
    AA_TOP_K,
    _aa_weights,
    q_graph_adamic_adar,
    q_simhash_hamming_pairs,
)
from emr_flink_example_spark.operators.similarity import (
    DIM,
    MATRYOSHKA_DIMS,
    MATRYOSHKA_K,
    MATRYOSHKA_NQ,
    q_embedding_matryoshka_recall,
)

from conftest import SF_DIR


def test_adamic_adar_matches_pure_python_replication(spark):
    pairs = [
        (r.doc_a, r.doc_b)
        for r in q_simhash_hamming_pairs(spark, SF_DIR).collect()
    ]
    assert pairs
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    wt = dict(_aa_weights())
    edge_set = set(pairs)
    capped = {w: sorted(nbrs)[:AA_ADJ_CAP] for w, nbrs in adj.items()}
    scores: dict[tuple[int, int], list[int]] = {}
    for w, nbrs in capped.items():
        d = len(adj[w])
        if d < 2:
            continue
        aw = wt[min(d, max(wt))]
        for i, u in enumerate(nbrs):
            for v in nbrs[i + 1 :]:
                if u == v:
                    continue
                key = (u, v) if u < v else (v, u)
                s = scores.setdefault(key, [0, 0])
                s[0] += aw
                s[1] += 1
    ranked = sorted(
        (
            (score, key[0], key[1], n)
            for key, (score, n) in scores.items()
            if key not in edge_set
        ),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:AA_TOP_K]
    got = q_graph_adamic_adar(spark, SF_DIR).collect()
    assert len(got) == min(AA_TOP_K, len(ranked))
    got_sorted = sorted(got, key=lambda r: (-r.aa_micro, r.doc_a, r.doc_b))
    for row, (score, a, b, n) in zip(got_sorted, ranked):
        assert (row.doc_a, row.doc_b) == (a, b)
        assert row.aa_micro == score
        assert row.n_common == n


def test_matryoshka_recall_matches_left_to_right_fold_replication(spark):
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load(spark, SF_DIR, "embeddings").collect()
        if any(x != 0.0 for x in r.embedding)
    }
    queries = sorted(v for v in emb if v < MATRYOSHKA_NQ)

    def fold_dot(a, b, d):
        acc = 0.0
        for i in range(d):
            acc = acc + a[i] * b[i]
        return acc

    import math

    def topk(qid, d):
        qe = emb[qid]
        qn = math.sqrt(fold_dot(qe, qe, d))
        scored = []
        for nid, ce in emb.items():
            if nid == qid:
                continue
            cn = math.sqrt(fold_dot(ce, ce, d))
            if qn * cn <= 0:
                continue
            scored.append((-(fold_dot(qe, ce, d) / (qn * cn)), nid))
        scored.sort()
        return {nid for _, nid in scored[:MATRYOSHKA_K]}

    expected = {}
    full = {q: topk(q, DIM) for q in queries}
    for d in MATRYOSHKA_DIMS:
        hits = 0
        n_topk = 0
        for q in queries:
            t = topk(q, d)
            n_topk += len(t)
            hits += len(t & full[q])
        expected[d] = (n_topk, hits)
    got = {r.dim: (r.n_topk, r.n_hits) for r in q_embedding_matryoshka_recall(spark, SF_DIR).collect()}
    assert got == expected
    # the full-dim row is its own anchor: perfect recall by construction
    assert got[DIM][0] == got[DIM][1] == len(queries) * MATRYOSHKA_K


def test_simhash_pairs_cache_evicts_stale_applications(spark):
    """ADVICE r8: the session memo registry must not pin entries from
    stopped SparkContexts for the process lifetime — a memo insert under
    the live application evicts every other application's state (and
    never the live application's own other-sf entries)."""
    from emr_flink_example_spark import cache
    from emr_flink_example_spark.operators import dedup as D

    app = spark.sparkContext.applicationId
    live = D._simhash_pairs_materialized(spark, SF_DIR)
    cache._STATE["dead-app-1234"] = cache._AppState(memos={"/some/sf": ((), live)})  # stand-in
    # a NEW key insert under the live app evicts the dead application's
    other = D._simhash_pairs_materialized(spark, "/root/testdata/sf0.01")
    assert other is not None
    assert all(k == app for k in cache._STATE)
    live_key = (("simhash_pairs",), f"file:{SF_DIR}/documents.parquet")
    assert live_key in cache._STATE[app].memos  # live entries survive
