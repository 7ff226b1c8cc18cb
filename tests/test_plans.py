"""Physical-plan shape assertions (the 100 TB posture, pinned as tests).

These don't check answers — the oracle harness does that — they check that
Catalyst produced the plan we designed for scale: filters reaching the
parquet scan, column pruning, broadcast joins for dims, map-side partial
aggregation, whole-stage codegen, and no row-at-a-time Python in any
JVM-path query.
"""

from __future__ import annotations

import pytest

from emr_flink_example_spark.operators import similarity as S
from emr_flink_example_spark.plans import catalog

SF = "/root/testdata/sf0.001"

#: queries whose semantics legitimately run Python workers (Arrow-batched)
ARROW_QUERIES = {
    "multimodal_decode_mapinpandas",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_audio_windows",
    # r9: the constellation peak extraction is the same Arrow kernel shape
    "multimodal_audio_fingerprint",
    "timeseries_dtw",
    # r14: holt_forecast / holt_winters left this list — the recurrences
    # now run as map-side SQL aggregate folds, no Python boundary
    "dedup_embedding_cosine_vectorized",
    "udf_pandas_norm",
    "udaf_pandas_mean_dim0",
    # r6: the ADC tier's PQ encode is a vectorized Arrow kernel (the HOF
    # fold is CodegenFallback — ~1.8 ms/row interpreted; bit-equality with
    # the relational form pinned in test_pq_training.py)
    "ann_pq_adc_topk",
    "ann_pq_adc_rerank_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk",
    # r15: the PQ compression encode joined the same Arrow-kernel family —
    # the relational getField(k)/getField(d2) pair paid the CodegenFallback
    # fold twice per subspace (bit-equality pinned in test_pq_training.py)
    "embedding_quantize_pq",
    # r14 batch 9: the integer-DCT census joined the Arrow-kernel family
    # (the HOF fold form is CodegenFallback — measured ~4x slower; kept as
    # the pinned-bit-equal reference in tests/reference_folds.py)
    "multimodal_phash",
    "multimodal_phash_pairs",
    # ann_ivf_topk and dedup_semantic_clusters left this list: both read
    # the IVF inverted lists materialized once per input, and the Arrow
    # routing kernel runs in the list build (test_ivf_assignment_*)
    # the member-count pass runs the Lloyd trainer's own Arrow argmin kernel
    "embedding_kmeans_centroids",
}

#: the one deliberate row-at-a-time Python surface demo (BatchEvalPythonUDTF)
UDTF_QUERIES = {"udtf_leading_tokens"}


def _plan(spark, name: str) -> str:
    # Order-independence is mechanical now: all_queries() wraps every
    # builder to drain the previous query's pinned frames before building
    # (cache.unpersist_all — VERDICT r9 #5), so a previously built query's
    # persist can no longer substitute InMemoryTableScans into THIS plan
    # (bit us in r8 when sketch_minhash_bbit's cached signatures absorbed
    # split_leakage_audit's parquet scan). A query's OWN pins re-register
    # during its build, so pins that expect their query's
    # InMemoryTableScan still hold.
    df = catalog.all_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_reaches_parquet_scan(spark):
    plan = _plan(spark, "filter_pushdown")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(p_size,10)" in plan
    assert "LessThanOrEqual(p_size,20)" in plan


def test_column_pruning(spark):
    """A 5-column projection must not read the other part columns."""
    plan = _plan(spark, "filter_pushdown")
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "p_retailprice" in scan
    assert "p_mfgr" not in scan and "p_comment" not in scan


def test_dim_joins_broadcast(spark):
    """Q5: nation/region (and supplier at this SF) broadcast — the fact
    table never shuffles for a dim join."""
    plan = _plan(spark, "join_regional_revenue_q5")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_partial_aggregation(spark):
    """Q1 aggregates map-side (partial) before the exchange."""
    plan = _plan(spark, "pricing_summary_q1")
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    # vectorized parquet reader feeding codegen ("Batched: true")
    assert "Batched: true" in plan


def test_minhash_single_scan(spark):
    """LSH candidate generation must not re-run the signature chain: one
    scan of documents, no self-join recompute."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert plan.count("Scan parquet") == 1


def test_knn_broadcasts_queries(spark):
    """Brute-force kNN broadcasts the small query side; the corpus is never
    shuffled."""
    plan = _plan(spark, "knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_join_hints_control_strategy(spark):
    """Join hints (merge / shuffle_hash / broadcast) override Catalyst's
    size-based choice — the manual lever when stats mislead at scale."""
    from pyspark.sql import functions as F

    from emr_flink_example_spark.io import load

    orders = load(spark, SF, "orders")
    customer = load(spark, SF, "customer")
    cond = orders.o_custkey == customer.c_custkey

    merge_plan = (
        orders.join(customer.hint("merge"), cond)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in merge_plan

    shuffle_hash_plan = (
        orders.join(customer.hint("shuffle_hash"), cond)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in shuffle_hash_plan

    broadcast_plan = (
        orders.join(F.broadcast(customer), cond)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in broadcast_plan


@pytest.mark.parametrize("name", sorted(catalog.all_queries()))
def test_no_row_at_a_time_python(spark, name):
    """No query uses row-at-a-time Python UDFs; Python appears only as
    Arrow-batched mapInPandas in the multimodal decode path."""
    plan = _plan(spark, name)
    if name not in UDTF_QUERIES:
        assert "BatchEvalPython" not in plan
    if name not in ARROW_QUERIES | UDTF_QUERIES:
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan
        assert "FlatMapGroupsInPandas" not in plan


def test_sampling_is_mapside(spark):
    """Hash-bucket split/sample decisions are pure per-row maps: no exchange
    anywhere in the plan — at 100 TB these cost one scan, zero shuffle."""
    for name in ("split_train_val_test", "sample_stratified"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        assert plan.count("Scan parquet") == 1, name


def test_fixed_k_sample_never_sorts_globally(spark):
    """Exact-k hash sample must be TakeOrdered (per-partition heaps merged
    at the driver), not a global Sort + Limit."""
    plan = _plan(spark, "sample_fixed_k")
    assert "TakeOrderedAndProject" in plan


def test_outlier_fence_broadcasts_bounds(spark):
    """Per-lang quantile bounds (a handful of rows) broadcast back onto the
    corpus — the documents table itself is never shuffled for the join."""
    plan = _plan(spark, "outlier_filter_quantile")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_cosine_single_scan(spark):
    """Bucketed cosine dedup groups per bucket — one scan of embeddings, no
    self-join recompute of the bucket+norm chain."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert plan.count("Scan parquet") == 1


def test_tfidf_no_token_window(spark):
    """df is an aggregated vocab table broadcast-joined back onto a persisted
    tf — NOT a count-over-Window.partitionBy(token), which would put a hot
    token's whole posting list in one task (VERDICT r1 item 4). The only
    Window left is the per-doc top-k rank; the df join must be broadcast and
    both df/tf branches must read the cached tf, not re-run the scan chain."""
    plan = _plan(spark, "tfidf_top_terms")
    assert plan.count("Window [") == 1  # doc_id rank only — no token window
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("InMemoryTableScan") == 2  # tf reused by both branches


def test_bm25_topk_no_token_window(spark):
    """Per-term df rides the broadcast corpus aggregate as scalars, so the
    plan has NO Window at all (r1 ranked df over Window.partitionBy(term)),
    and the top-20 executes as TakeOrderedAndProject (per-partition heaps),
    not a global sort of the scored postings."""
    plan = _plan(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window [") == 0


def _ivf_lists_plan(spark) -> str:
    """The IVF list builder's plan over the fixture's nonzero corpus."""
    lists = S._ivf_lists(S._nonzero_embeddings(spark, SF), S._coarse_codebook(spark, SF))
    return lists._jdf.queryExecution().executedPlan().toString()


def _streamed_side(plan: str, join: str) -> str:
    """The tail of `plan` from its first `join` node's last (streamed)
    child: that child's subtree when the join is the plan's last node
    with two children."""
    lines = plan.splitlines()
    j = next(i for i, line in enumerate(lines) if join in line)
    col = lines[j].index(join)  # where its children's markers sit
    k = next(i for i in range(j + 1, len(lines)) if lines[i][col : col + 3] == "+- ")
    return "\n".join(lines[k:])


def test_ivf_assignment_is_mapside(spark):
    """IVF corpus→centroid assignment is a map-side argmax against the
    centroids shipped in the kernel: the list builder routes the corpus
    with ZERO Exchange (VERDICT r1 item 6). The query reads the lists
    built once per input (`_coarse_lists`): its corpus side is the
    checkpointed scan, with no kernel, no fold and no Exchange. The only
    hash exchanges are the tiny probe-side rank (vec_id < 10 rows) and
    the final per-query top-k."""
    assert "Exchange" not in _ivf_lists_plan(spark)
    plan = _plan(spark, "ann_ivf_topk")
    assert plan.count("Exchange hashpartitioning") == 2
    corpus_side = _streamed_side(plan, "BroadcastHashJoin")
    assert "Scan ExistingRDD" in corpus_side
    for node in ("MapInPandas", "Exchange", "aggregate(", "zip_with(", "parquet"):
        assert node not in corpus_side, node


def test_ivf_assignment_runs_in_arrow_kernel(spark):
    """The corpus routing is the Arrow kernel, and no interpreted
    argmin/argmax fold comes back: neither the struct fold over a centroid
    array (from a +-Infinity sentinel) nor array_position(array_min). The
    corpus rows reach the kernel without any lambda fold; in the query,
    the remaining `aggregate(zip_with(` dot products score only probe
    rows and probed candidate pairs."""
    lists = _ivf_lists_plan(spark)
    assert "MapInPandas" in lists
    corpus_side = lists[lists.index("MapInPandas"):]
    assert "aggregate(" not in corpus_side and "zip_with(" not in corpus_side
    for plan in (lists, _plan(spark, "ann_ivf_topk")):
        for fold in ("aggregate(transform(", "Infinity", "array_min("):
            assert fold not in plan, fold


@pytest.mark.parametrize("name", ["ann_pq_adc_topk", "ann_pq_adc_rerank_topk"])
def test_flat_pq_encode_returns_no_vectors(spark, name):
    """The flat ADC encode kernel takes (vec_id, e) and returns only
    (vec_id, codes): the corpus vectors cross the Arrow boundary once."""
    import re

    outs = re.findall(r"MapInPandas \S+\(.*?\)#\d+, \[(.*?)\]", _plan(spark, name))
    assert outs and all(re.sub(r"#\d+L?", "", o) == "vec_id, codes" for o in outs), outs


def test_multitable_lsh_broadcasts_queries(spark):
    """Multi-table LSH keeps the probe side broadcast; the corpus is only
    equi-joined on (table, bucket) — never cross-joined."""
    plan = _plan(spark, "ann_lsh_multitable_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quantization_is_pure_mapside(spark):
    """int8 quantization must be a single scan with no shuffle at all."""
    plan = _plan(spark, "embedding_quantize_int8")
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_chunking_single_barrier(spark):
    """Document chunking: exactly the one deliberate repartition barrier,
    and a single scan of documents."""
    plan = _plan(spark, "chunk_documents")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1


def test_rolling_fingerprint_and_bpe_counts_are_mapside(spark):
    """Per-document fingerprint/token-count projections must be pure
    map-side scans — no exchange anywhere."""
    for name in ("doc_fingerprint_rolling", "token_counts_bpe_ish"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        assert plan.count("Scan parquet") == 1, name


def test_temperature_sample_broadcasts_rates(spark):
    """The per-lang rate table joins broadcast; the corpus is never
    shuffled for the keep decision."""
    plan = _plan(spark, "sample_temperature")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_forward_asof_single_union_window(spark):
    """Forward as-of: one scan of events (union of two filters of the same
    scan collapses to per-side scans), exactly one user_id shuffle, no
    join at all."""
    plan = _plan(spark, "asof_join_forward")
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_repeated_spans_no_token_window(spark):
    """Span-dedup finds duplicated hashes via a combine-friendly aggregation
    + semi-join — never a Window over the span hash (hot-span skew), and the
    span stream is cached so the dup-hash branch doesn't re-tokenize."""
    plan = _plan(spark, "dedup_repeated_spans")
    assert plan.count("Window [") == 0
    assert "LeftSemi" in plan
    assert plan.count("InMemoryTableScan") == 2  # spans reused by both branches


def test_incremental_minhash_single_scan(spark):
    """Ingest-vs-corpus probe derives both sides from ONE signature pass
    (groupBy-bucket with per-side member arrays) — no self-derived join, no
    second corpus scan, no persist of the array-typed signatures."""
    plan = _plan(spark, "dedup_incremental_minhash")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan  # pairs expand inside the bucket arrays


def test_shuffle_to_shards_is_one_exchange(spark):
    """Deterministic shuffle: key and shard are map-side; the only exchange
    is the per-shard rank's hash partitioning."""
    plan = _plan(spark, "shuffle_to_shards")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_pq_encode_is_mapside(spark):
    """PQ encoding never hash-shuffles the corpus: the only exchange is the
    one-row codebook aggregate (SinglePartition); codes are a pure map."""
    plan = _plan(spark, "embedding_quantize_pq")
    assert plan.count("Exchange hashpartitioning") == 0


def test_pq_adc_barrier_and_rank_only(spark):
    """ADC search: the Arrow encode node materializes codes (so no
    collapse-barrier exchange is needed any more) — the ONLY hash exchange
    left is the per-query top-k rank; queries/codebook broadcast, no
    sort-merge."""
    plan = _plan(spark, "ann_pq_adc_topk")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInPandas") == 1
    assert plan.count("Window [") == 1
    assert "SortMergeJoin" not in plan


def test_surprisal_no_token_window(spark):
    """Unigram-LM scoring joins the broadcast vocab back (cached, reused by
    the totals branch) — no Window anywhere, no per-token partitioning."""
    plan = _plan(spark, "lm_unigram_surprisal")
    assert plan.count("Window [") == 0
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("InMemoryTableScan") == 2
    assert "SortMergeJoin" not in plan


def test_sessionize_single_exchange(spark):
    """Gap flag, session ordinal, AND the session rollup all run off ONE
    user_id hash exchange (HashPartitioning on a grouping-key subset
    satisfies the rollup's distribution)."""
    plan = _plan(spark, "sessionize_events")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_zorder_single_pass(spark):
    """Z-order manifest: one scan, map-side z-values, one exchange for the
    per-file aggregate (with map-side partials)."""
    plan = _plan(spark, "layout_zorder_files")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan or "partial_min" in plan


def test_anomaly_window_on_grid_only(spark):
    """The rolling-frame window runs over the dense per-type grid (bounded
    by types x hours), never over raw event rows; grid join is broadcast."""
    plan = _plan(spark, "timeseries_anomaly_zscore")
    assert plan.count("Window [") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_correlated_scalar_decorrelates_to_join(spark):
    """The Q2-style correlated scalar aggregate must decorrelate into an
    aggregate + equi-join — not a per-outer-row subquery re-execution."""
    plan = _plan(spark, "subquery_correlated_scalar")
    assert plan.count("HashAggregate") >= 2  # partial+final per-customer min
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_disjunctive_predicate_pushes_to_both_scans(spark):
    """Q19-style OR-of-ANDs: the quantity-range OR reaches the lineitem scan
    and the brand/size OR reaches the part scan as DataFilters — the scans
    prune before the join instead of filtering post-join."""
    plan = _plan(spark, "filter_disjunctive_pushdown")
    assert "Or(" in plan  # a disjunction survived into scan-level filters
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert any("l_quantity" in s and "DataFilters: [is" in s for s in scans)
    assert any("p_brand" in s and "DataFilters: [is" in s for s in scans)
    assert "CartesianProduct" not in plan


def test_pq_rerank_broadcast_only_joins(spark):
    """Rerank tier: the shortlist and query sides broadcast; the corpus is
    never sort-merge-joined or cartesian-producted. The only nested-loop
    joins are one-row broadcast codebook attachments."""
    plan = _plan(spark, "ann_pq_adc_rerank_topk")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # shortlist->corpus, q->cand


def test_ivfpq_routing_is_mapside(spark):
    """IVF-PQ ladder: centroid assignment + PQ encode ride broadcasts (no
    corpus shuffle before the probe join), probes/shortlist/query sides all
    broadcast — no sort-merge join anywhere."""
    plan = _plan(spark, "ann_ivfpq_topk")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # probes, shortlist, q


def test_cluster_survivors_single_scan_per_side(spark):
    """Survivor map: cluster sizes ride the component shuffle as a window
    count (no second aggregation join); the docs side is scanned once."""
    plan = _plan(spark, "dedup_cluster_survivors")
    assert plan.count("Window") == 1  # the size count only
    assert plan.count("Scan parquet") <= 2  # docs + (checkpointed CC is RDD)


def test_source_quota_one_exchange(spark):
    """Per-source quota: exactly one hash exchange (the source window);
    WindowGroupLimit pushes the rank filter below the shuffle."""
    plan = _plan(spark, "sample_source_quota")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_transition_matrix_one_user_exchange(spark):
    """Markov transitions: ONE user_id hash exchange feeds the lag window;
    the normalization window runs over the tiny (from,to) aggregate."""
    plan = _plan(spark, "event_transition_matrix")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_kl_divergence_caches_lang_token_counts(spark):
    """KL divergence: the (lang, token) count aggregate is cached and every
    downstream branch (vocab, lang totals, corpus total) reads the cache —
    never a second corpus scan (uncached this measured 4 scans)."""
    plan = _plan(spark, "corpus_divergence_kl")
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_rrf_fusion_shares_postings_build(spark):
    """RRF fusion: both rankers ride the bm25 two-scan postings shape (one
    doc_stats build + the self-derived corpus aggregate) — fusing a second
    ranker must not add a third corpus scan, a join between rankers, or any
    Python."""
    plan = _plan(spark, "retrieval_rrf_fusion")
    assert plan.count("Scan parquet") <= 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_leakage_audit_adds_no_scan_or_join(spark):
    """Split-leakage audit: the split label is map-side arithmetic on the
    pair stream — exactly the minhash single-scan plan, no split-table
    join."""
    plan = _plan(spark, "split_leakage_audit")
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_regr_single_partial_final_aggregate(spark):
    """REGR_* moments are map-side combinable: one scan, one exchange,
    partial+final HashAggregate."""
    plan = _plan(spark, "agg_regr_linear")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "partial_regr" in plan or "partial_" in plan
    assert plan.count("HashAggregate") >= 2


def test_interpolate_matches_gapfill_shape(spark):
    """Linear interpolation keeps the gapfill plan discipline: the dense
    grid is synthesized from the small hourly aggregate (broadcast), the
    anchor windows run per event_type, and no Python appears."""
    plan = _plan(spark, "timeseries_interpolate_linear")
    assert plan.count("Scan parquet") <= 3  # hourly + self-derived grid sides
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_entropy_single_scan(spark):
    """Char entropy: one corpus scan, the (doc,char) aggregate plus one
    doc-keyed window exchange — nothing else."""
    plan = _plan(spark, "text_entropy")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan


def test_bigram_lm_caches_pair_counts(spark):
    """Bigram LM: context totals and the continuation vocab read the cached
    pair-count aggregate; model tables attach by broadcast."""
    plan = _plan(spark, "lm_bigram_surprisal")
    assert "InMemoryTableScan" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_calibration_caches_shingles(spark):
    """MinHash calibration: the shingle frame is cached so the a/b pair
    sides don't re-run tokenize+shingle; exact-Jaccard joins stay hash
    joins on the bounded pair set."""
    plan = _plan(spark, "minhash_calibration")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_exchange(spark):
    """Nearest as-of: both direction frames ride ONE user_id exchange —
    no self-join, no range probe."""
    plan = _plan(spark, "asof_join_nearest")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_sliding_distinct_two_phase(spark):
    """Sliding distinct: the window expand feeds a two-phase distinct
    aggregate (partial on (window, value), final count) — one scan."""
    plan = _plan(spark, "window_sliding_distinct")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_bpe_segment_single_scan_single_exchange(spark):
    """Trained-tokenizer segmentation is a pure map (12-rule replace chain)
    over one scan; the ONLY exchange is the doc_id rollup. No joins, no
    windows, no Python."""
    plan = _plan(spark, "bpe_segment_docs")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "MapInPandas" not in plan


def test_psi_single_scan(spark):
    """The split-drift PSI audit reads the corpus ONCE: bin+split are
    map-side, counts are one <=10-group aggregate, and the totals ride a
    single-partition window over those aggregate rows — a naive
    counts.agg().crossJoin() would re-compute the counts subtree and scan
    the corpus twice (VERDICT-class scale bug)."""
    plan = _plan(spark, "quality_drift_psi")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1


def test_ivfpq_residual_shape(spark):
    """Residual IVF-PQ keeps the plain ladder's shape: Arrow encode node
    materializes codes, every join is broadcast (probe LUTs, centroid
    fetch, shortlist, queries), no cartesian product, no sort-merge."""
    plan = _plan(spark, "ann_ivfpq_residual_topk")
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_gopher_gate_is_pure_mapside(spark):
    """The quality gate must run at scan speed: one parquet scan, zero
    exchanges, no joins, no Python — it's the first gate every doc passes
    at 100 TB, so anything beyond a map would dominate the pipeline."""
    plan = _plan(spark, "quality_gopher_rules")
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_pmi_reuses_tokenize_and_takes_topk(spark):
    """PMI: the distinct-(doc,word) frame is cached (df counts AND the
    pair self-join read the cache, not two tokenize scans) and the top-K
    is a TakeOrderedAndProject, never a global sort of all pairs."""
    plan = _plan(spark, "pmi_top_pairs")
    assert "InMemoryTableScan" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_dsir_resample_takes_topk_no_global_sort(spark):
    """The Gumbel draw is a map over the scorer's output + ONE
    TakeOrderedAndProject — resampling must never globally sort the
    corpus by key."""
    plan = _plan(spark, "dsir_resample_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ccnet_histogram_window_is_bounded(spark):
    """CCNet cutoffs: the cumulative window runs over the quantized-score
    HISTOGRAM (single partition of value-bounded rows), and the corpus
    never enters a global sort; the cutoffs come back as one broadcast
    row."""
    plan = _plan(spark, "ccnet_perplexity_buckets")
    assert "Exchange SinglePartition" in plan  # the tiny histogram window
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row cutoffs broadcast


def test_novelty_single_tokenize_pass(spark):
    """N-gram novelty: the (doc, shingle) stream is cached so the df count
    and the rejoin share ONE tokenize pass; no cartesian anywhere."""
    plan = _plan(spark, "ngram_novelty")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_q4_semi_join_with_lateness_residual(spark):
    """TPC-H Q4: the EXISTS runs as ONE semi join carrying the non-equi
    lateness residual — never a full join + distinct — and the quarter
    predicate reaches the orders scan."""
    plan = _plan(spark, "order_priority_q4")
    assert "LeftSemi" in plan
    assert "Distinct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed quarter window


def test_q17_threshold_stats_broadcast(spark):
    """TPC-H Q17: the per-part avg-quantity thresholds (one brand's parts)
    broadcast back onto the brand slice — the correlated subquery becomes
    aggregate + broadcast self-join, no shuffle of lineitem on partkey for
    the probe side, no cartesian."""
    plan = _plan(spark, "small_qty_revenue_q17")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q22_anti_join_and_one_row_average(spark):
    """TPC-H Q22: the inactivity EXISTS is a LEFT ANTI against the
    date-pruned orders scan; the positive-balance average is a one-row
    IdentityBroadcast cross — the only nested-loop join in the plan."""
    plan = _plan(spark, "global_sales_q22")
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "IdentityBroadcastMode" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # recent-window pushdown


def test_q13_priority_filter_stays_in_join_condition(spark):
    """TPC-H Q13: the priority exclusion lives in the LEFT OUTER join
    condition (customers with only excluded orders must still count as
    zero) — it must appear as a join-side filter, not above the join, and
    the outer join itself must survive (not be rewritten to inner)."""
    plan = _plan(spark, "customer_distribution_q13")
    assert "LeftOuter" in plan
    assert "5-LOW" in plan
    assert plan.count("HashAggregate") >= 4  # two partial+final aggregates


def test_span_trim_linear_rebuild(spark):
    """ExactSubstr cut: one tokenize pass feeds both the span stream and
    the rebuild (persisted toks), the mask is an array fold (no
    per-position shuffle/exchange beyond the owner agg + doc join), and
    nothing goes pairwise."""
    plan = _plan(spark, "dedup_span_trim")
    assert "CartesianProduct" not in plan
    assert "posexplode" not in plan.lower()  # positions stay inside arrays


def test_triangle_count_no_cartesian(spark):
    """Triangle census: wedge generation and closure are equi-joins over
    the oriented edge list — no cartesian product, no pairwise expansion
    outside LSH buckets."""
    plan = _plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_filter_frame_broadcasts(spark):
    """Bloom probe: the <=1024-word filter frame joins the probe cells as
    a broadcast (map-side membership test); the only shuffle-sized join is
    the authoritative fingerprint equi-join."""
    plan = _plan(spark, "dedup_bloom_probe")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---- r8: pins for the post-"refresh plans" catalog tail (VERDICT r7 #1) ----


def test_adamic_adar_memoized_mapside_wedges(spark):
    """Adamic-Adar: pairs come from the session-memoized SimHash checkpoint
    (ZERO parquet scans in the plan), the hub pre-cap runs as a
    WindowGroupLimit whose PARTIAL pass sits below the exchange (a
    mega-hub never buffers or shuffles more than cap rows per task — the
    r8 'unbounded collect_list on the adjacency build' finding), the
    neighbor-list aggregate reuses the window's hashpartitioning(w), and
    the wedge pairs expand map-side as two Generate nodes over the sorted
    array. At fixture scale every join (weight table, capped lists,
    anti-join) broadcasts; the top-50 is TakeOrdered, never a global
    sort."""
    plan = _plan(spark, "graph_adamic_adar")
    assert plan.count("Scan parquet") == 0  # fed by the memoized checkpoint
    assert plan.count("Generate") == 2  # map-side wedge expansion
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the old wedge self-join is gone
    # hub pre-cap: rank-limit bounds the buffer BELOW the exchange too
    assert "WindowGroupLimit" in plan
    assert ", Partial" in plan and ", Final" in plan
    # the pre-cap must not cost an exchange: exactly one hashpartitioning
    # on w feeds both the window and the neighbor-list aggregate, plus one
    # for the degree aggregate and one for the wedge-pair aggregate
    assert plan.count("Exchange hashpartitioning") == 3
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_phash_single_projection_no_exchange(spark):
    """Perceptual hash (r14 rewrite, then r14 batch 9): the whole integer
    DCT census runs map-side over the documents scan — zero exchanges,
    zero joins, zero windows. The projection is the ONE declared Arrow
    kernel (mapInPandas — the PQ-encode precedent: the HOF fold form is
    CodegenFallback/interpreted, measured ~4x slower), never row-at-a-time
    Python. (Pre-r14 this staged the DCT through two broadcast joins,
    doc-keyed groupBys and a median window: 20 Exchange nodes for 128
    rows/doc.)"""
    plan = _plan(spark, "multimodal_phash")
    assert plan.count("Scan parquet") == 1  # documents, once
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python, ever
    assert plan.count("MapInPandas") == 1  # the declared Arrow DCT kernel


def test_textrank_checkpointed_rounds(spark):
    """TextRank: the per-iteration graph rounds are localCheckpoint-ed, so
    the FINAL plan reads the bounded rank RDD — no parquet rescan, no
    exchange, and the top-K is TakeOrdered (per-partition heaps)."""
    plan = _plan(spark, "keyword_textrank")
    assert plan.count("Scan parquet") == 0
    assert plan.count("Exchange hashpartitioning") == 0
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_matryoshka_probe_broadcast_only(spark):
    """Matryoshka recall: the probe set is the ONLY nested-loop broadcast
    (corpus x probes at full width); every other join is hash, nothing is
    sort-merged — the corpus is never shuffled for scoring."""
    plan = _plan(spark, "embedding_matryoshka_recall")
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # probe side only
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ppjoin_prefix_index_no_corpus_window(spark):
    """PPJoin: candidate generation is a broadcast equi-join on the prefix
    shingle index with the doc_a < doc_b residual; nothing is cartesian or
    sort-merged. r10: the global vocab-rank window is GONE — (df, shingle)
    is itself the corpus-wide total order, so every Window in the plan must
    be doc_id-partitioned and every Sort local (no single-task global sort
    anywhere, at any vocabulary size)."""
    plan = _plan(spark, "dedup_jaccard_ppjoin")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # prefix index + pair joins
    assert "(doc_id" in plan  # the a<b residual rides the equi-join
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, "expected the per-doc prefix rank window"
    for ln in win_lines:  # partition spec present => not a global window
        assert "windowspecdefinition(doc_id" in ln, f"unpartitioned: {ln}"
    for ln in plan.splitlines():  # `true` = global sort (single range shuffle)
        if "+- Sort [" in ln:
            assert "], false, 0" in ln, f"global sort: {ln.strip()[:120]}"


def test_ndcg_rides_bm25_shape(spark):
    """NDCG: retrieval reuses the bm25 postings shape (<= 2 scans), the
    discount/ideal tables ride one-row broadcasts, and both rank passes
    are TakeOrdered — no global sort, no sort-merge join."""
    plan = _plan(spark, "retrieval_ndcg")
    assert plan.count("Scan parquet") <= 5  # bm25 + judgment passes (known)
    assert plan.count("TakeOrderedAndProject") >= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_compaction_plan_aggregates_manifests(spark):
    """Compaction planner: an aggregate over the file-stats manifest (tiny
    SinglePartition exchanges + a one-row broadcast for the target size) —
    the underlying table is scanned for stats, never joined pairwise."""
    plan = _plan(spark, "compaction_plan")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") >= 1


def test_winnowing_single_doc_window(spark):
    """Winnowing: k-gram expansion is map-side; the ONE window is the
    doc-keyed rolling min over positions (bounded per doc), plus the final
    doc-keyed aggregate join — no global window, no Python."""
    plan = _plan(spark, "winnowing_fingerprints")
    assert plan.count("Window [") == 1
    assert "partition" in plan.lower()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_theil_sen_pair_slopes_bounded(spark):
    """Theil-Sen: pair slopes expand inside per-user arrays (windows run
    over the 30-day dense grid, bounded per user); the grid/bounds frames
    ride broadcasts; nothing cartesian or sort-merged."""
    plan = _plan(spark, "timeseries_theil_sen")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_cusum_windows_on_grid(spark):
    """CUSUM: both running windows execute over the dense per-type grid
    (types x hours), never raw events; grid joins broadcast."""
    plan = _plan(spark, "timeseries_cusum_changepoint")
    assert plan.count("Window [") <= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_acf_single_ordered_pass(spark):
    """ACF: ONE ordered window pass produces all six lag columns (a
    per-lag self-join would be six shuffles); totals/denominator attach by
    broadcast; integer sums keep the aggregate map-side combinable."""
    plan = _plan(spark, "timeseries_acf")
    assert plan.count("Window [") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_equidepth_windows_value_bounded(spark):
    """Equi-depth histogram: the rank/cumulative windows run over the
    value-bounded aggregate (SinglePartition of distinct values), never a
    global sort of the corpus."""
    plan = _plan(spark, "histogram_equidepth")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") >= 1


def test_equiwidth_one_scan_one_exchange(spark):
    """Equi-width histogram: bin assignment is map-side arithmetic — one
    scan, one hash exchange for the bin aggregate, no joins, no windows."""
    plan = _plan(spark, "histogram_equiwidth")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("Window [") == 0


def test_change_log_colocated_full_outer(spark):
    """CDC change log: the snapshot diff is the designed KEY-COLOCATED
    full outer join (both sides hash-partitioned on key — at 100 TB this
    is the one unavoidable shuffle), the tombstone filter is a broadcast
    anti join, and nothing goes cartesian."""
    plan = _plan(spark, "table_change_log")
    assert "FullOuter" in plan
    assert plan.count("SortMergeJoin") == 1  # the key-colocated diff
    assert "CartesianProduct" not in plan


def test_language_confusion_single_scan(spark):
    """Language-ID confusion matrix: one corpus scan, map-side verdicts,
    one aggregate + one bounded window — no joins, no Python."""
    plan = _plan(spark, "quality_language_confusion")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_ks_drift_windows_on_quantized_scores(spark):
    """KS drift: the two cumulative windows run over the quantized-score
    histogram (SinglePartition, value-bounded); the corpus is scanned for
    scores, never globally sorted; the D-statistic rides one-row
    broadcasts."""
    plan = _plan(spark, "quality_drift_ks")
    assert plan.count("Exchange SinglePartition") >= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_manifest_prune_broadcast_stats(spark):
    """Manifest-prune audit: per-file min/max stats aggregate once; the
    probe predicates attach as one-row broadcasts (BroadcastNestedLoop on
    single-row frames is a map-side attach, not a pairwise expansion)."""
    plan = _plan(spark, "manifest_prune_stats")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") >= 1


def test_abtest_one_scan_no_joins(spark):
    """A/B z-test: arm assignment and outcomes are map-side; one hash
    exchange for the per-arm aggregate, one SinglePartition for the
    pooled stats — no joins anywhere."""
    plan = _plan(spark, "abtest_proportion_ztest")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_binary_hamming_broadcast_ladder(spark):
    """Binary-quantization retrieval: packing is map-side (no exchange
    below the probe cross join), probes broadcast (BroadcastNestedLoop
    BuildLeft), the Hamming shortlist cut is a WindowGroupLimit pushed
    BELOW its exchange (per-partition top-k before any shuffle), and no
    sort-merge or cartesian path exists."""
    plan = _plan(spark, "ann_binary_hamming_topk")
    assert plan.count("Scan parquet") <= 2  # probe side + corpus side
    assert "BroadcastNestedLoopJoin BuildLeft, Cross" in plan
    assert plan.count("WindowGroupLimit") >= 3  # partial + final, both cuts
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_mann_whitney_aggregated_window(spark):
    """Mann-Whitney U: ranks come from the DISTINCT-value table, so the
    running-sum window sorts an aggregated frame (one hash exchange for
    the value groupBy, one SinglePartition window) — purchase events are
    never globally sorted, and there are no joins."""
    plan = _plan(spark, "abtest_mann_whitney")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan


def test_kneser_ney_cached_model_broadcasts(spark):
    """Kneser-Ney: the pair-count model materializes once (InMemory scans
    feed all four consumers), every model-side join broadcasts, the
    top-context cut is TakeOrdered + WindowGroupLimit (never a global
    sort), and nothing goes cartesian or Python."""
    plan = _plan(spark, "lm_kneser_ney_bigram")
    assert "InMemoryTableScan" in plan  # persisted pair model
    assert plan.count("BroadcastHashJoin") >= 2  # top-ctx + continuation
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_seasonal_decompose_bounded_windows(spark):
    """Seasonal decomposition: the trend window is per-type over the
    dense grid (partitionBy event_type — no SinglePartition window over
    anything corpus-sized), the hour-of-day / grand-mean tables attach by
    broadcast, and the grid derives from the small rollup (cross join of
    a types frame with a one-row bounds frame only)."""
    plan = _plan(spark, "timeseries_seasonal_decompose")
    assert plan.count("BroadcastHashJoin") >= 3  # gapfill + hod + grand
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_markov_attribution_local_result(spark):
    """Markov removal-effect attribution: the returned frame is the
    driver-solved literal (LocalTableScan) — the DISTRIBUTED work (journey
    window + transition counts) runs at build time and collects only the
    cardinality-bounded (from,to) count matrix, the k-means-trainer
    pattern. The pin documents that nothing data-sized reaches the
    driver-side solve."""
    plan = _plan(spark, "attribution_markov_removal")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan  # events were consumed at build time


def test_weighted_es_is_takeordered(spark):
    """Efraimidis-Spirakis sample: key assignment is map-side (zero
    Exchange) and the global top-k is TakeOrderedAndProject — per-partition
    heaps, never a corpus sort."""
    plan = _plan(spark, "sample_weighted_es")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_benford_broadcast_expectation(spark):
    """Benford audit: digit extraction is map-side, the 9-row observed
    aggregate joins the literal expectation table by broadcast, and no
    sort/cartesian appears."""
    plan = _plan(spark, "benford_digit_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2  # obs + the total recount


def test_kn_surprisal_cached_model(spark):
    """KN per-doc scorer: same persisted pair model (InMemory scans feed
    the model tables AND the scoring join), model joins broadcast, one
    doc_id rollup — no sort-merge, no Python."""
    plan = _plan(spark, "lm_kneser_ney_surprisal")
    assert "InMemoryTableScan" in plan
    assert plan.count("BroadcastHashJoin") >= 3  # pair + ctx + bwd
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_wilson_ci_one_scan_no_joins(spark):
    """Wilson CI: arm stats come from one user aggregate + one 2-row
    rollup; the interval is pure projection — no joins anywhere."""
    plan = _plan(spark, "abtest_wilson_ci")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_jl_projection_mapside(spark):
    """JL distortion: projection folds are map-side (no exchange below the
    probe cross join), probes broadcast, the census is one aggregate."""
    plan = _plan(spark, "embedding_jl_distortion")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 2  # probe + corpus sides
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_bbit_pair_bounded_joins(spark):
    """b-bit calibration: signatures join back to the PAIR set (hash joins
    on doc ids), the persisted signature frame feeds both sides, and the
    bit comparison is a map-side fold — no cartesian, no Python."""
    plan = _plan(spark, "sketch_minhash_bbit")
    assert "InMemoryTableScan" in plan  # persisted signature frame
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_phash_pairs_banded_not_quadratic(spark):
    """pHash near-dup pairs: candidate generation is the banded groupBy
    (one Generate for the 9 band keys), the ball check runs in the
    bucket's array domain, and nothing goes cartesian or row-at-a-time
    Python (the single MapInPandas is the inherited Arrow DCT kernel
    computing the hashes themselves — see q_multimodal_phash)."""
    plan = _plan(spark, "multimodal_phash_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 1


def test_banded_hamming_buckets_skew_guarded(spark):
    """r9: both banded-Hamming pair generators route bucket expansion
    through the chunked skew guard — the plan carries the chunk-pair
    repartition exchange on (keys..., ci, cj), so an oversized hot bucket
    fans out across tasks instead of expanding inside one collect task."""
    for name, keys in (
        ("simhash_hamming_pairs", "nibble"),
        ("multimodal_phash_pairs", "val"),
    ):
        plan = _plan(spark, name)
        guard = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "ci" in ln and "cj" in ln
        ]
        assert guard, (name, plan)
        assert any(keys in ln for ln in guard), (name, guard)


def test_banded_binary_ann_probe_shape(spark):
    """r9 banded binary-Hamming tier: candidate generation is the (band,
    val) equi-join (broadcast at fixture scale), never a cartesian; the
    Hamming shortlist's rank-limit runs partially below the exchange
    (WindowGroupLimit), and no Python touches the path."""
    plan = _plan(spark, "ann_binary_hamming_banded_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # the full-scan tier's shape
    assert "BroadcastHashJoin" in plan  # band-key equi-join
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_zipf_regression_is_bounded_fold(spark):
    """Zipf fit: the vocab aggregate feeds a TakeOrdered top-R cut (heaps,
    never a global sort of the vocabulary), the regression moments are one
    1-row fold, and nothing goes Python."""
    plan = _plan(spark, "vocab_zipf_slope")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_mutual_info_marginals_derive_from_joint(spark):
    """MI audit: ONE corpus scan builds the joint table; marginals are
    re-aggregations of the joint (no second corpus scan) attached by
    broadcast — the corpus never shuffles for the marginal joins."""
    plan = _plan(spark, "quality_lang_mutual_info")
    # the persisted joint serves all four consumers (both marginals, the
    # total, the output join) — they read the cache, not the corpus
    assert plan.count("InMemoryTableScan") >= 4
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan  # 1-row total is a broadcast NLJ


def test_chi_square_single_fold(spark):
    """Chi-square: one user-level aggregate, one 1-row fold — no window,
    no join, no sort anywhere."""
    plan = _plan(spark, "abtest_chi_square")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan or "partial_max" in plan  # map-side combine


def test_stratified_es_rank_limit_below_exchange(spark):
    """Stratified ES race: the per-lang cut is a WindowGroupLimit whose
    PARTIAL pass runs below the exchange — each task forwards at most k
    rows per stratum, never the corpus."""
    plan = _plan(spark, "sample_weighted_es_stratified")
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert plan.count("Scan parquet") == 1


def test_anisotropy_one_pass_no_pairs(spark):
    """Anisotropy census: ONE corpus scan, no join between vectors of any
    kind (the sum-vector identity replaces the O(n^2) pairwise join), one
    64-row aggregate folded to one row."""
    plan = _plan(spark, "embedding_anisotropy")
    assert plan.count("Scan parquet") <= 2  # vector stream + the count side
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_rfm_boundaries_not_global_ntile(spark):
    """RFM scores assign by broadcast percentile boundaries — NO window
    at all in the plan (the textbook global-ORDER-BY ntile would be a
    single-task sort of the user table at scale)."""
    plan = _plan(spark, "event_rfm_segmentation")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the two 1-row broadcasts
    assert "SortMergeJoin" not in plan


def test_pareto_window_over_aggregate_only(spark):
    """ABC classes: the running-share window runs over the AGGREGATED
    part table (below it sits the partial/final revenue aggregate), never
    over fact rows."""
    plan = _plan(spark, "pareto_abc_analysis")
    assert "Window" in plan
    assert "partial_sum" in plan  # revenue combines map-side first
    assert plan.count("Scan parquet") == 1


def test_containment_pair_bounded_joins(spark):
    """Containment rides the skew-guarded LSH pair stream; the size table
    joins back pair-bounded as hash joins — no cartesian, no Python, and
    the guard's chunk-pair exchange is present."""
    plan = _plan(spark, "sketch_minhash_containment")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    guard = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "ci" in ln and "cj" in ln
    ]
    assert guard


def test_mrr_rank_limit_below_exchange(spark):
    """MRR: the query set broadcasts onto the postings, and the per-query
    top-K cut is a WindowGroupLimit with a PARTIAL pass below the exchange
    — each task forwards at most K rows per query."""
    plan = _plan(spark, "retrieval_mrr")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_spearman_ranks_over_distinct_value_tables(spark):
    """Spearman: doubled ranks come from running-sum windows over the two
    DISTINCT-metric-VALUE tables (aggregates sit below the windows), the
    user frame hash-joins back on the metric value, and the fold is one
    row — nothing user-sized is globally sorted."""
    plan = _plan(spark, "stats_spearman_corr")
    assert "Window" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_gini_windows_over_customer_aggregate(spark):
    """Gini/Lorenz: the row_number/ntile windows and the 1-row fold run
    over the AGGREGATED customer table (partial revenue sums below), and
    the scalar Gini row attaches via a broadcast — one orders scan per
    self-derived branch, no fact-sized sort."""
    plan = _plan(spark, "revenue_gini_lorenz")
    assert "Window" in plan
    assert "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar attach
    assert "SortMergeJoin" not in plan


def test_cramers_v_margins_from_cell_table(spark):
    """Cramér's V: margins re-aggregate the |types| x 2 CELL table, the
    grid completes via broadcast joins, and the chi-square fold is one
    row — the events scan happens once per derived branch with map-side
    partial counts, never a second event-sized shuffle."""
    plan = _plan(spark, "abtest_cramers_v")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_query_likelihood_mapside_score_no_postings_filter(spark):
    """Query likelihood: every doc scores all query terms map-side off
    the wide doc-stats aggregate; corpus stats ride one broadcast row and
    the cut is a global TakeOrdered — no per-term pass, no window, no
    Python."""
    plan = _plan(spark, "retrieval_query_likelihood")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row corpus attach
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_burstiness_moments_combine_friendly(spark):
    """Burstiness: both aggregates (term x doc tf, then per-term moments)
    have partial passes below their exchanges; n_docs attaches as a 1-row
    broadcast and the report is a TakeOrdered top-k — no global sort, no
    dense term x doc grid."""
    plan = _plan(spark, "text_term_burstiness")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_good_turing_self_join_broadcast(spark):
    """Good-Turing: the N_{r+1} lookup is a broadcast self-join of the
    tiny count-of-counts table (never a lead() window over dense r), and
    the totals attach as a 1-row broadcast."""
    plan = _plan(spark, "lm_good_turing_counts")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_kaplan_meier_windows_over_duration_table(spark):
    """KM: both running sums (reverse n_at_risk, forward cumulative log)
    window over the DISTINCT-DURATION table, below which sit the user
    aggregate's partial passes — nothing user-sized is sorted."""
    plan = _plan(spark, "survival_kaplan_meier")
    assert "Window" in plan
    assert "partial_count" in plan or "partial_min" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_basket_pairs_capped_self_join(spark):
    """Basket lift (r14 reshape): pairs expand map-side from a sorted
    per-order basket array (higher-order transform, bounded by the
    size(basket) <= BASKET_MAX filter) — the former orderkey self-join
    and its basket-size back-join are gone; supports join back
    pair-bounded; the cut is a TakeOrdered top-k."""
    plan = _plan(spark, "basket_lift_pairs")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    # one basket groupBy feeds pairs/supports/N: no orderkey self-join
    assert "SortMergeJoin [l_orderkey" not in plan


def test_sax_symbols_mapside_no_user_window(spark):
    """SAX: symbols derive map-side from integer moment/segment
    aggregates (partial passes present) and assemble via collect_list
    over exactly 6 rows per user — no window operator, no Python, and
    the word-frequency join back is a broadcast."""
    plan = _plan(spark, "timeseries_sax_words")
    assert "Window" not in plan
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_incremental_refresh_delta_from_one_outer_join(spark):
    """Incremental view maintenance: the delta derives from ONE key-
    partitioned full outer join (unique keys per side — SortMergeJoin is
    the right shape), the view/delta/recompute tables are status-keyed
    (tiny) and combine via broadcast-eligible joins, and no window or
    Python appears."""
    plan = _plan(spark, "incremental_agg_refresh")
    assert plan.count("FullOuter") >= 1
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_snapshot_asof_winner_cut_on_log_only(spark):
    """Time travel: the winner-per-key row_number windows over the LOG
    (version-filtered first), the apply is one key-partitioned left join
    onto base, and the census is a final tiny aggregate."""
    plan = _plan(spark, "table_snapshot_asof")
    assert "Window" in plan
    assert "row_number" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_audio_fingerprint_kernel_then_broadcast_census(spark):
    """Constellation fingerprint: peak extraction is the mapInPandas
    kernel (Arrow-batched), pairing is one per-doc lead window, and the
    64-value hash census joins back broadcast — no pairwise signal
    comparison anywhere."""
    plan = _plan(spark, "multimodal_audio_fingerprint")
    assert "MapInPandas" in plan
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kappa_one_doc_join_one_fold(spark):
    """Gate kappa: the two verdict pipelines join once on doc_id and fold
    to one row — no window, no Python, no cartesian beyond the 1-row
    scalar shape."""
    plan = _plan(spark, "quality_gate_kappa")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_kendall_pairs_over_domain_cells_only(spark):
    """Kendall tau-b: the non-equi pair join is a BroadcastNestedLoopJoin
    over the DOMAIN-SIZED contingency-cell table (below it sit the user
    aggregate's partial passes), never over user rows."""
    plan = _plan(spark, "stats_kendall_tau")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_shapley_coalitions_are_literal_sized(spark):
    """Shapley: after the one user-level aggregate (partial passes
    present), everything operates on 16-row coalition / 64-row marginal
    literal-joined tables — no window, no Python, no user-sized
    re-shuffle."""
    plan = _plan(spark, "attribution_shapley")
    assert "partial_count" in plan or "partial_sum" in plan or "partial_min" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_node_jaccard_hub_precap_before_collect(spark):
    """Node Jaccard reuses the AA scale shape: the hub pre-cap rank
    filter runs as WindowGroupLimit with a PARTIAL pass below the
    exchange, wedges expand map-side from the capped arrays, and the
    report is a TakeOrdered top-k."""
    plan = _plan(spark, "graph_node_jaccard")
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_precision_recall_one_postings_build(spark):
    """P/R@K: the query set broadcasts onto term-filtered postings; the
    total-relevant denominators and the top-K cut both read the SAME
    persisted hits frame (InMemoryTableScan x2), and the rank cut is a
    WindowGroupLimit partial."""
    plan = _plan(spark, "retrieval_precision_recall")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """LATERAL correlated LIMIT must decorrelate into the rank-window
    form with the rank cut running PARTIALLY below the exchange — the
    lateral syntax costs nothing over a hand-written window at scale."""
    plan = _plan(spark, "join_lateral_topn")
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_null_safe_join_stays_hash_join(spark):
    """The <=> comparator hashes NULL like any other key, so the
    null-safe join remains a hash join (never a nested loop), and both
    sides aggregate to key level first."""
    plan = _plan(spark, "join_null_safe_eq")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_cumulative_distinct_windows_per_day_table_only(spark):
    """Cumulative reach: the running sum windows over the PER-DAY table
    (30 rows), below which sit the two combine-friendly aggregates —
    nothing event-sized is windowed."""
    plan = _plan(spark, "window_cumulative_distinct")
    assert "Window" in plan
    assert "partial_count" in plan or "partial_min" in plan
    assert "BatchEvalPython" not in plan


def test_ewma_windows_share_one_partitioning(spark):
    """EWMA crossover: prefix sum, 3-day frame, and lag all window over
    ONE user partitioning (a single Exchange hashpartitioning(user_id)),
    and no Python appears — the integer prefix-sum restatement removes
    the applyInPandas kernel a sequential recurrence usually needs."""
    plan = _plan(spark, "timeseries_ewma_crossover")
    assert "Window" in plan
    # daily agg, per-user max (guard), grid join + shared window sort:
    # every exchange is user-keyed; the three windows add NO exchange of
    # their own beyond the one sort they share
    assert plan.count("Exchange hashpartitioning(user_id") <= 3
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_funnel_windowed_mirrors_funnel_plan(spark):
    """Windowed funnel: the deadline predicate adds no shuffle — same
    user-keyed joins + 1-row census broadcasts as funnel_conversion."""
    plan = _plan(spark, "funnel_windowed")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row census attaches
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_survivor_quality_winner_cut_on_clustered_only(spark):
    """Quality survivors: the winner window partitions by component over
    CLUSTERED docs only; the corpus joins back doc-keyed; no Python, no
    cartesian."""
    plan = _plan(spark, "dedup_survivor_by_quality")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_clustering_coefficient_composes_triangle_plan(spark):
    """Clustering coefficient adds one integer fold + broadcast attach on
    top of the triangle plan — no new window, no Python, no cartesian
    beyond the 1-row scalar attach."""
    plan = _plan(spark, "graph_clustering_coefficient")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row transitivity attach
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_rake_islands_window_per_doc_only(spark):
    """RAKE: the island id is a running sum over per-DOC partitions; the
    report is a TakeOrdered top-k; word stats broadcast back onto the
    bounded phrase-member join."""
    plan = _plan(spark, "text_keyphrase_rake")
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_weighted_median_windows_over_price_table(spark):
    """Weighted median: the running-weight window runs over the
    AGGREGATED (group, distinct price) table — partial sums sit below
    it; nothing line-item-sized is windowed."""
    plan = _plan(spark, "agg_weighted_median")
    assert "Window" in plan
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_heaps_first_appearance_no_sequential_distinct(spark):
    """Heaps law: cumulative vocabulary derives from the first-appearance
    aggregate (min pos per token) — windows run over the checkpoint /
    first-pos tables only; no event-sized re-distinct per checkpoint, no
    Python."""
    plan = _plan(spark, "vocab_heaps_law")
    assert "Window" in plan
    assert "partial_min" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_brown_forsythe_median_cut_on_distinct_values(spark):
    """Brown-Forsythe: the per-arm median comes from the sorted
    DISTINCT-value table (partial aggregate below the window), medians
    broadcast back, and the test statistic folds in two tiny
    aggregates — nothing event-sized is sorted."""
    plan = _plan(spark, "abtest_brown_forsythe")
    assert "Window" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------- r10 pins


def test_kruskal_ranks_on_distinct_values(spark):
    """Kruskal-Wallis: ranks come from the DISTINCT-value running-sum
    window (value cardinality), the join back is a broadcast-able hash
    join, and the group fold is a partial aggregate — nothing
    event-sized is sorted; no Python."""
    plan = _plan(spark, "stats_kruskal_wallis")
    assert "Window" in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_distinctive_terms_topk_is_window_group_limit(spark):
    """Fightin'-words top-k per source: the rank <= K filter must
    rewrite to WindowGroupLimit so each task forwards at most K rows
    per source before the exchange."""
    plan = _plan(spark, "text_distinctive_terms")
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan


def test_retrieval_map_topk_is_window_group_limit(spark):
    """MAP@K: the per-query top-K cut is a WindowGroupLimit (the MRR
    pin), and the query set rides a broadcast join onto the postings."""
    plan = _plan(spark, "retrieval_map")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_path_trigrams_windows_are_user_partitioned(spark):
    """Path trigrams: the lead() windows run under the user_id
    partitioning (the event-sized pass), and the only unpartitioned
    window is the final top-k over the |event_type|^3 DOMAIN-sized
    count table — which must sit ABOVE the count aggregate (partial
    combine below it), never over raw events."""
    plan = _plan(spark, "events_path_trigrams")
    assert "windowspecdefinition(user_id" in plan
    # exactly two Window nodes: the user-partitioned lead pass and the
    # domain-sized global rank
    assert plan.count("Window [") == 2
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_moving_median_frame_is_bounded(spark):
    """Moving median: the collect_list window must carry the HARD
    5-row frame (specifiedwindowframe rowframe -4, currentrow) — an
    unbounded frame here would be the collect_list anti-pattern."""
    plan = _plan(spark, "window_moving_median")
    assert "specifiedwindowframe(RowFrame, -4, currentrow" in plan
    assert "windowspecdefinition(user_id" in plan
    assert "BatchEvalPython" not in plan


def test_hits_rounds_are_joins_plus_partial_aggregates(spark):
    """HITS: the per-round join+aggregate plans execute EAGERLY behind
    localCheckpoint (the PageRank lineage-truncation discipline), so
    the final plan shows only the checkpointed authority scan, the
    degree aggregate (partial combine), and a broadcast-able join — no
    Python, no window, no sort of the edge set."""
    plan = _plan(spark, "graph_hits")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_skyline_sweep_on_distinct_spend(spark):
    """Pareto skyline: the sweep windows run over the DISTINCT-SPEND
    aggregate (value cardinality), and the user-level metrics fold
    map-side (partial aggregate) before any exchange."""
    plan = _plan(spark, "pareto_skyline_users")
    assert "Window" in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_crosscorr_single_window_pass_all_lags(spark):
    """Cross-correlation: ONE ordered window pass computes all 13 lag
    columns over the GRID-sized side-by-side frame (13 lead/lag
    expressions inside one Window operator), never 13 passes."""
    plan = _plan(spark, "timeseries_crosscorr")
    # all 13 lag/lead expressions live in ONE Window node (each
    # expression repeats the spec string, so count NODES not specs)
    assert plan.count("Window [") == 1
    assert "BatchEvalPython" not in plan


def test_knn_loo_broadcasts_queries(spark):
    """LOO 1-NN eval: the query sample must be the BROADCAST side of
    the scoring join and the rank-1 cut a WindowGroupLimit."""
    plan = _plan(spark, "embedding_knn_loo_accuracy")
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan


def test_welch_and_srm_are_single_folds(spark):
    """The r12 experiment additions collapse to aggregate-only plans: no
    join, no window — nothing data-sized past the first exchange."""
    for name in ("abtest_welch_ttest", "abtest_srm"):
        plan = _plan(spark, name)
        assert "Join" not in plan, name
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_seasonal_strength_broadcasts_profiles(spark):
    """The hod profile and series moments attach BROADCAST to the hourly
    rollup — no sort-merge join, no cartesian; the only wide exchanges
    are the (type, hour) rollup and the |types|-sized final groupBy."""
    plan = _plan(spark, "timeseries_seasonal_strength")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
