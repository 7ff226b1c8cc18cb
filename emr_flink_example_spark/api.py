"""The DataFrame-in/DataFrame-out public API.

Every function here takes user DataFrames plus column-name arguments and
returns a DataFrame (or frames + stats) — none of them knows about the
test fixtures. Most catalog queries in ``operators/`` are thin fixture
shims over these same implementations, so those functions' semantics are
oracle-checked against DuckDB by the full-catalog selfcheck. Six are not:
``mrr_at_k``, ``precision_recall_at_k``, ``average_precision_at_k``,
``ndcg_at_k``, ``psi_drift`` and ``ks_drift`` each restate their catalog
twin's math in a separate copy, which only ``tests/test_api.py`` checks.
Those tests also exercise every function on non-fixture frames with
renamed columns.

Families:

* **Dedup** — ``exact_duplicate_groups`` (fingerprint groups),
  ``shingle_documents`` / ``minhash_signatures`` (content signatures),
  ``near_duplicate_pairs`` (MinHash+LSH candidates, skew-guarded),
  ``repeated_spans`` (ExactSubstr-style span diagnostic),
  ``connected_components`` / ``dedup_survivors`` (cluster resolution),
  ``dedup_corpus`` (the one-call pairs -> components -> survivors chain).
* **Similarity** — ``cosine_topk`` (exact brute-force top-k, the
  baseline the ANN tiers are measured against), ``ann_lsh_topk``
  (hyperplane-bucketed approximate top-k, the first scale tier).
* **Text quality** — ``text_quality`` (feature map + composite score),
  ``gopher_flags`` (the Gopher rule bundle), ``language_id``
  (lexicon language ID), ``token_frequencies`` (corpus wordcount),
  ``readability_flesch`` (reading-ease gate), ``code_detect``
  (code-vs-prose routing verdict), ``repetition_ngram`` (Gopher-style
  bigram repetition — the boilerplate/degenerate-text gate),
  ``pii_scrub`` (email/phone count + mask).
* **Curation** — ``curation_gates`` (quality -> boilerplate -> exact
  dedup -> near-dup, returning kept rows + per-gate counts),
  ``decontamination_overlap`` (eval-set n-gram contamination census),
  ``chunk_documents`` / ``pack_token_shards`` (training-chunk
  construction and token-budget sharding).
* **Sampling / splits** — ``hash_split`` (deterministic train/val/test,
  leakproof when keyed by group), ``stratified_sample`` (per-stratum
  keep rates), ``weighted_sample_es`` (exact-k weighted without
  replacement via the Efraimidis-Spirakis race), ``with_es_key``.
* **Retrieval** — ``bm25_topk`` (bag-of-terms BM25 over any corpus,
  scalar-broadcast df/N/avgdl, no per-term partitioning); evaluation
  (wave 6): ``mrr_at_k`` / ``precision_recall_at_k`` /
  ``average_precision_at_k`` / ``ndcg_at_k`` over ANY (results, qrels)
  frame pair — the offline-eval loop of a retrieval/RAG pipeline, exact
  integer micros.
* **Event analytics** — ``sessionize`` (gap-based sessions),
  ``cohort_retention`` (first-seen cohort triangle),
  ``funnel_step_times`` (strict-order N-step funnel), ``asof_join``
  (backward as-of between two keyed event frames),
  ``click_attribution`` (stream-stream interval join).
* **Data quality** (wave 4) — ``profile_columns`` /
  ``infer_profile_kinds`` (single-pass column profiler),
  ``constraint_checks`` + the ``check_foreign_key`` / ``check_unique``
  / ``check_predicates`` / ``check_not_null`` builders (Deequ-style
  verification suite over any frames).
* **A/B & stats battery** (wave 4) — ``proportion_ztest``,
  ``wilson_ci``, ``cohens_d``, ``cuped``, ``mann_whitney``,
  ``permutation_test``, ``welch_ttest``, ``srm_check`` over
  unit-level (arm, metric) frames;
  ``roc_auc`` (rank-identity AUC of any scored 0/1 frame);
  ``mann_kendall`` (trend test over any bounded series).
* **Timeseries** (wave 4) — ``resample_gapfill`` (dense grid + LOCF),
  ``interpolate_linear`` (exact-integer linear gap repair),
  ``anomaly_zscore`` (trailing-window z-score flags),
  ``cascade_rollup`` (minute -> hour -> day mergeable rollup).
* **Drift / survival / graph** (wave 5) — ``psi_drift`` / ``ks_drift``
  (distribution drift between any two frames, exact-integer forms),
  ``kaplan_meier`` (survival table over unit lifetimes, log-space
  micro-nats), ``pagerank`` / ``kcore`` (integer-exact centrality and
  core peeling over any edge-pair frame).
* **ANN tiers** (wave 4) — ``ann_ivf_topk`` (trained coarse quantizer
  + probed inverted lists), ``ann_pq_topk`` (PQ-ADC lookup-table
  search over packed codes) — the scale ladder above ``cosine_topk``
  / ``ann_lsh_topk``.
* **Sketches** (wave 7) — ``hll_distinct`` (explicit-register HLL per
  key, max-mergeable), ``kmv_distinct`` (k-minimum-values distinct
  estimate per key), ``countmin_heavy_hitters`` (count-min frequency
  table with exact-top comparison) — each bit-reproducible in DuckDB.
* **Forecasting** (wave 7) — ``holt_daily`` (level+trend smoothing)
  and ``holt_winters_daily`` (additive weekly-seasonal smoothing) over
  dense (user, day, v) frames; ``oph`` dedup tier
  ``near_duplicate_pairs_oph`` / ``oph_signatures`` (single-hash
  densified signatures, N_PERMS-fold cheaper scans); Bayesian A/B
  ``bayes_beta`` (posterior means + P(B beats A)) and the paired
  ``wilcoxon_signed_rank`` completing the stats battery; analytics
  cores ``rfm_segmentation`` / ``gini_lorenz`` / ``benford_audit`` /
  ``transition_matrix`` over any user event/amount frames (wave 7b).

Determinism contract: nothing here uses an RNG — every sampling/split
decision is a salted portable hash of row content, so results are
identical across runs, partitionings, and engines.

Cache contract: ``curation_gates`` pins its per-doc flags frame and the
tokenized corpus via the ``cache.pinned`` registry and returns them as
its third value; unpersist those, or call ``emr_flink_example_spark.cache.
unpersist_all(spark)``, after consuming its outputs (the query catalog
does this automatically at the next catalog boundary). The catalog's
trained models are memoized per input table by ``cache.memo``: among
them the IVF inverted lists that ``ann_ivf_topk`` and
``dedup_semantic_clusters`` read, built once per input, held as a local
checkpoint, rebuilt when the table's files change and released once its
path is gone. ``ann_ivf_topk`` over caller frames routes its corpus on
every call.
"""

from __future__ import annotations

from .cache import unpersist_all
from .operators.analytics import (
    bayes_beta,
    benford_audit,
    cohens_d,
    cohort_retention,
    cuped,
    funnel_step_times,
    gini_lorenz,
    kaplan_meier,
    mann_kendall,
    mann_whitney,
    permutation_test,
    proportion_ztest,
    rfm_segmentation,
    roc_auc,
    sessionize,
    srm_check,
    transition_matrix,
    welch_ttest,
    wilcoxon_signed_rank,
    wilson_ci,
)
from .operators.dataquality import (
    check_foreign_key,
    check_not_null,
    check_predicates,
    check_unique,
    constraint_checks,
    infer_profile_kinds,
    profile_columns,
)
from .operators.curation import CurationStats, curation_gates
from .operators.dedup import (
    connected_components,
    decontamination_overlap,
    dedup_corpus,
    dedup_survivors,
    exact_duplicate_groups,
    kcore,
    minhash_signatures_for as minhash_signatures,
    near_duplicate_pairs,
    near_duplicate_pairs_oph,
    oph_signatures_for as oph_signatures,
    pagerank,
    repeated_spans,
    shingle_documents,
)
from .operators.event_time import asof_join
from .operators.sampling import (
    hash_split,
    ks_drift,
    pack_token_shards,
    psi_drift,
    stratified_sample,
    weighted_sample_es,
    with_es_key,
)
from .operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    ann_pq_topk,
    cosine_topk,
)
from .operators.timeseries import (
    anomaly_zscore,
    cascade_rollup,
    holt_daily,
    holt_winters_daily,
    interpolate_linear,
    resample_gapfill,
)
from .operators.textstats import (
    average_precision_at_k,
    bm25_topk,
    chunk_documents,
    code_detect,
    countmin_heavy_hitters,
    hll_distinct,
    kmv_distinct,
    gopher_flags,
    language_id,
    mrr_at_k,
    ndcg_at_k,
    pii_scrub,
    precision_recall_at_k,
    readability_flesch,
    repetition_ngram,
    text_quality,
    token_frequencies,
)
from .streaming.joins import click_attribution

__all__ = [
    "CurationStats",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "anomaly_zscore",
    "asof_join",
    "average_precision_at_k",
    "bayes_beta",
    "benford_audit",
    "bm25_topk",
    "cascade_rollup",
    "check_foreign_key",
    "check_not_null",
    "check_predicates",
    "check_unique",
    "chunk_documents",
    "click_attribution",
    "code_detect",
    "cohens_d",
    "cohort_retention",
    "connected_components",
    "constraint_checks",
    "cosine_topk",
    "countmin_heavy_hitters",
    "cuped",
    "curation_gates",
    "decontamination_overlap",
    "dedup_corpus",
    "dedup_survivors",
    "exact_duplicate_groups",
    "funnel_step_times",
    "gini_lorenz",
    "gopher_flags",
    "hash_split",
    "hll_distinct",
    "holt_daily",
    "holt_winters_daily",
    "infer_profile_kinds",
    "interpolate_linear",
    "kaplan_meier",
    "kcore",
    "kmv_distinct",
    "ks_drift",
    "language_id",
    "mann_kendall",
    "mann_whitney",
    "minhash_signatures",
    "mrr_at_k",
    "ndcg_at_k",
    "near_duplicate_pairs",
    "near_duplicate_pairs_oph",
    "oph_signatures",
    "pack_token_shards",
    "pagerank",
    "permutation_test",
    "pii_scrub",
    "precision_recall_at_k",
    "profile_columns",
    "proportion_ztest",
    "psi_drift",
    "readability_flesch",
    "repeated_spans",
    "rfm_segmentation",
    "repetition_ngram",
    "resample_gapfill",
    "roc_auc",
    "sessionize",
    "shingle_documents",
    "srm_check",
    "stratified_sample",
    "text_quality",
    "token_frequencies",
    "transition_matrix",
    "unpersist_all",
    "weighted_sample_es",
    "welch_ttest",
    "wilcoxon_signed_rank",
    "wilson_ci",
    "with_es_key",
]
