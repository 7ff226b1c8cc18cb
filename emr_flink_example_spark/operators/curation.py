"""End-to-end training-data curation: the composite pipeline the individual
operators exist for (quality filter -> boilerplate gate -> exact dedup ->
near-dup removal -> partitioned curated corpus).

Each stage is one of the engine's tested operators applied as a filter:
  1. quality gate      — textstats.q_text_quality features
  2. boilerplate gate  — dedup.q_dedup_repeated_spans: drop docs whose
                         token spans are mostly duplicated elsewhere in the
                         corpus (dup_frac > max_dup_frac) — substring-level
                         dedup that whole-doc fingerprints can't see
  3. exact dedup       — md5-fingerprint groupBy, keep the smallest doc_id
  4. near-dup removal  — MinHash+LSH candidates (dedup.q_dedup_minhash_lsh)
                         at an estimated-Jaccard threshold; the larger
                         doc_id of each surviving pair is dropped
  5. write             — parquet partitioned by lang (the layout a 100 TB
                         corpus would be read back by)

Scale notes: stages 2-4 are the documented single-scan shuffle shapes from
dedup.py; stage 5's partitionBy(lang) gives partition pruning for per-lang
consumers. Every intermediate stays a DataFrame — nothing is collected
except the final stage counts (a handful of scalars).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import pinned
from ..io import load
from .dedup import (
    SPAN_TOKENS,
    _band_pairs,
    _dup_spans,
    _span_hashes,
    minhash_signatures_from_tokens,
)

NEAR_DUP_EST_JACCARD = 0.8
#: gate thresholds shared by the pipelines and the oracle-checked stats query
MIN_QUALITY = 0.5
MIN_TOKENS = 10
#: drop docs whose span-duplication fraction exceeds this (boilerplate /
#: mostly-copied text); 0.8 keeps docs that merely QUOTE duplicated spans.
MAX_DUP_FRAC = 0.8


@dataclass
class CurationStats:
    n_input: int
    n_after_quality: int
    n_after_boilerplate: int
    n_after_exact_dedup: int
    n_after_near_dedup: int


def _curation_gates(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float,
    min_tokens: int,
    max_dup_frac: float,
) -> tuple[DataFrame, tuple[int, int, int, int, int], list[DataFrame]]:
    """Fixture entry to `curation_gates` (the df-level pipeline)."""
    return curation_gates(
        load(spark, sf_dir, "documents"),
        min_quality=min_quality,
        min_tokens=min_tokens,
        max_dup_frac=max_dup_frac,
    )


def curation_gates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
    max_dup_frac: float = MAX_DUP_FRAC,
) -> tuple[DataFrame, tuple[int, int, int, int, int], list[DataFrame]]:
    """Quality -> boilerplate -> exact-dedup -> near-dup gates over ANY
    (id, text[, lang]) frame; returns (kept original rows, the five gate
    counts, the pinned frames the caller must unpersist after its terminal
    action — or via cache.unpersist_all()).

    Both frames the gates derive from are pinned here, because the
    caller reads them again: caches[0] is the narrow per-doc flags frame
    (`_gate_flags`), which the counts, the kept rows and
    `curate_for_training`'s rebalance read; caches[1] the tokenized corpus
    (`_tokenized`), which `curate_for_training`'s chunker reads. The five
    counts are one aggregate over the flags (`_gate_counts`). Document
    rows are never persisted; full rows are reconstructed ONCE by a
    semi-join at write time."""
    tok = pinned(_tokenized(docs, id_col=id_col, text_col=text_col, lang_col=lang_col))
    flags = pinned(
        _gate_flags(tok, min_quality=min_quality, min_tokens=min_tokens, max_dup_frac=max_dup_frac)
    )
    stats = tuple(_gate_counts(flags).first())
    keep_ids = flags.where("alive4").select(F.col("doc_id").alias("_curation_keep_id"))
    kept = docs.join(keep_ids, F.col(id_col) == F.col("_curation_keep_id"), "left_semi")
    return kept, stats, [flags, tok]


def _tokenized(
    docs: DataFrame, *, id_col: str, text_col: str, lang_col: str | None
) -> DataFrame:
    """(doc_id[, lang], fingerprint, n_tokens, quality_score, tokens): every
    per-doc input of the four gates, built map-side in ONE pass over the
    corpus (one tokenize: the quality columns, the span and shingle
    streams and `curate_for_training`'s chunker all read these tokens)."""
    from .textstats import TOKENS, quality_gate_cols

    lang_cols = [F.col(lang_col).alias("lang")] if lang_col is not None else []
    lang_out = ["lang"] if lang_col is not None else []
    n_tokens, quality_score = quality_gate_cols()
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            *lang_cols,
            F.col(text_col).alias("text"),
        )
        .withColumn("tokens", F.expr(TOKENS))
        .select(
            "doc_id",
            *lang_out,
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
            n_tokens.alias("n_tokens"),
            quality_score.alias("quality_score"),
            "tokens",
        )
    )


def _gate_flags(
    tok: DataFrame, *, min_quality: float, min_tokens: int, max_dup_frac: float
) -> DataFrame:
    """The NARROW per-doc gate flags over a `_tokenized` frame: (doc_id[,
    lang], q_ok, alive2, alive3, alive4 — alive after each gate).

    Gate semantics (identical to the sequential formulation, and verified
    against the DuckDB oracle by `curation_gate_stats`):
      alive2 = passed quality AND not boilerplate (dup_frac, the share of
               the doc's spans duplicated in another doc, > max_dup_frac)
      alive3 = alive2 AND doc_id == min(doc_id) among alive2 docs sharing
               the content fingerprint (exact-dedup keeper, via a window
               over the fingerprint — a 40-byte-per-row shuffle, never the
               document text)
      alive4 = alive3 AND not near-dup-dropped (MinHash-LSH pair with
               est_jaccard >= NEAR_DUP_EST_JACCARD, larger id)

    Shape: the boilerplate and near-dup evidence — one row per duplicated
    span, one per dropping pair (est_jaccard is a function of the pair, so
    pairs are filtered before any dedup) — is unioned with the doc rows
    and grouped ONCE by doc_id (partial aggregation collapses a doc's
    evidence map-side), so both kinds of evidence reach their docs in one
    shuffle. Each doc row comes back out of its group unchanged; rows that
    share an id share that id's evidence, and rows with a null id get
    none. The gate-count query runs in 10 Spark jobs at sf0.001, the
    parquet footer read included."""
    lang_out = ["lang"] if "lang" in tok.columns else []
    q_ok = (F.col("quality_score") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    toks = tok.select("doc_id", "tokens")
    near = (
        _band_pairs(minhash_signatures_from_tokens(toks))
        .where(F.col("est_jaccard") >= NEAR_DUP_EST_JACCARD)
        .select(F.col("doc_b").alias("doc_id"))
    )
    evidence = (
        _dup_spans(_span_hashes(toks))
        .select("doc_id", F.lit(1).alias("n_dup"), F.lit(False).alias("near"))
        .unionByName(near.select("doc_id", F.lit(0).alias("n_dup"), F.lit(True).alias("near")))
        .where(F.col("doc_id").isNotNull())
    )
    rows = tok.select(
        "doc_id",
        F.struct(
            *lang_out,
            "fingerprint",
            q_ok.alias("q_ok"),
            (F.col("n_tokens") - SPAN_TOKENS + 1).alias("n_spans"),
        ).alias("row"),
        F.lit(0).alias("n_dup"),
        F.lit(False).alias("near"),
    )
    per_doc = (
        rows.unionByName(evidence, allowMissingColumns=True)
        .groupBy("doc_id")
        .agg(
            F.collect_list("row").alias("rows"),
            F.sum("n_dup").alias("n_dup"),
            F.max("near").alias("near"),
        )
        .select("doc_id", F.inline("rows"), "n_dup", "near")
    )
    boiler = F.when(
        F.col("n_dup") > 0, F.round(F.col("n_dup") / F.col("n_spans"), 6) > max_dup_frac
    ).otherwise(False)
    w_fp = Window.partitionBy("fingerprint")
    return (
        per_doc.withColumn("alive2", F.col("q_ok") & ~boiler)
        .withColumn(
            "keeper_id",
            F.min(F.when(F.col("alive2"), F.col("doc_id"))).over(w_fp),
        )
        .withColumn("alive3", F.col("alive2") & (F.col("doc_id") == F.col("keeper_id")))
        .withColumn("alive4", F.col("alive3") & ~F.col("near"))
        .select("doc_id", *lang_out, "q_ok", "alive2", "alive3", "alive4")
    )


def _gate_counts(flags: DataFrame) -> DataFrame:
    """The five gate counts as one lazy row: one conditional-sum aggregate
    over the flags, so all five cost one scan of them."""
    return flags.agg(
        F.count("*").alias("n_input"),
        F.sum(F.col("q_ok").cast("long")).alias("n_after_quality"),
        F.sum(F.col("alive2").cast("long")).alias("n_after_boilerplate"),
        F.sum(F.col("alive3").cast("long")).alias("n_after_exact_dedup"),
        F.sum(F.col("alive4").cast("long")).alias("n_after_near_dedup"),
    )


def q_curation_gate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's gate counts as ONE oracle-checked row —
    end-to-end verification of the composed quality -> boilerplate ->
    exact-dedup -> near-dup filter chain (the write-bearing pipelines
    `curate_documents` / `curate_for_training` share the exact same gates
    via `_curation_gates`, so a green row here value-checks their whole
    filtering semantics against DuckDB, not just each stage in isolation).

    The row is lazy, so the caller's action is the only one, and nothing
    is pinned: each frame is read once, except the tokenized corpus and
    the span stream, whose readers each re-derive them (measured faster
    than pinning both at sf0.01 and level at sf0.1: a pin costs a job per
    reader)."""
    tok = _tokenized(
        load(spark, sf_dir, "documents"), id_col="doc_id", text_col="text", lang_col="lang"
    )
    return _gate_counts(
        _gate_flags(
            tok, min_quality=MIN_QUALITY, min_tokens=MIN_TOKENS, max_dup_frac=MAX_DUP_FRAC
        )
    )


def curate_documents(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
    max_dup_frac: float = MAX_DUP_FRAC,
) -> CurationStats:
    kept, stats, caches = _curation_gates(
        spark, sf_dir, min_quality, min_tokens, max_dup_frac
    )
    try:
        kept.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    finally:
        for c in caches:
            c.unpersist()
    return CurationStats(*stats)


@dataclass
class TrainingCurationStats(CurationStats):
    n_after_rebalance: int
    n_chunks: int
    n_shards: int


def curate_for_training(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
    max_dup_frac: float = MAX_DUP_FRAC,
    stage_times: dict | None = None,
) -> TrainingCurationStats:
    """The full corpus-to-training-shards pipeline: the curation stages of
    `curate_documents`, then temperature rebalancing, overlapping chunking,
    and token-budget shard packing — ending in a lang-partitioned parquet
    of training chunks carrying their shard assignment.

      6. temperature rebalance — per-lang keep-rates (alpha=0.5 weights over
         the CURATED corpus's language shares), deterministic hash sample
      7. chunking             — CHUNK_TOKENS-token windows, CHUNK_STRIDE
      8. shard packing        — running-token-sum windows per lang

    Scale shape: the rate table is |langs| rows broadcast onto the corpus;
    chunking is map-side behind the one tokenizer barrier; packing is one
    window per lang partition (pre-shard by a hash bucket at real scale —
    see q_pack_token_shards).

    Per-stage cost (r9, sf0.1, local[32], warm session, via the
    stage_times= collector — the ppjoin-A/B discipline, so a future
    regression localizes to a stage): total ~8.6 s = gates 5.1 s +
    rebalance 1.5 s + chunking 0.9 s + pack/write 1.1 s. Within gates,
    the components measured standalone are boilerplate/repeated-spans
    ~3.5 s, MinHash-LSH near-dup ~2.9 s, quality scoring ~0.4 s (the
    fused flags job shares their corpus scan, hence 5.1 < the 6.8 sum).
    The composite's cost center is therefore the two dedup scans that
    ARE the pipeline's purpose, not the orchestration around them."""
    from .sampling import SAMPLE_SALT, SHARD_TOKEN_BUDGET, portable_hash
    from .textstats import CHUNK_STRIDE, CHUNK_TOKENS

    from pyspark.sql.window import Window

    import time as _time

    _t = _time.time()

    def _mark(stage: str) -> None:
        nonlocal _t
        if stage_times is not None:
            now = _time.time()
            stage_times[stage] = round(now - _t, 3)
            _t = now

    kept, gate_stats, caches = _curation_gates(
        spark, sf_dir, min_quality, min_tokens, max_dup_frac
    )
    n_input, n_quality, n_boiler, n_exact, n_near = gate_stats
    flags = caches[0]  # the cached narrow per-doc gate-flags frame
    tok = caches[1]  # the cached tokenized corpus (doc_id, lang, ..., tokens)
    _mark("gates")

    # 6. temperature rebalance (rates from the curated corpus's shares).
    # per_lang reads the cached flags frame, so the rate chain — which is
    # re-derived for each broadcast below — costs |langs|-row arithmetic,
    # never a corpus re-scan (the pre-flags version re-ran the full
    # docs-semi-join lineage once per broadcast).
    per_lang = flags.where("alive4").groupBy("lang").agg(F.count("*").alias("n_docs"))
    totals = per_lang.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("z"),
    )
    ratio = (F.sqrt(F.col("n_docs").cast("double")) / F.col("z")) / (
        F.col("n_docs") / F.col("n_total")
    )
    rated = per_lang.crossJoin(F.broadcast(totals)).select("lang", ratio.alias("ratio"))
    rmax = rated.agg(F.max("ratio").alias("rmax"))
    rates = rated.crossJoin(F.broadcast(rmax)).select(
        "lang", (F.col("ratio") / F.col("rmax")).alias("keep_rate")
    )
    # the keep decision is a pure function of (doc_id, lang), so it runs on
    # the NARROW flags cache; only the surviving id-set is persisted, and
    # document text is reconstructed exactly once for the chunker below
    h = portable_hash(F.concat(F.col("doc_id").cast("string"), F.lit(SAMPLE_SALT))) % 10000
    reb_ids = (
        flags.where("alive4")
        .join(F.broadcast(rates), "lang")
        .where(h < F.col("keep_rate") * 10000)
        .select("doc_id")
        .transform(pinned)
    )
    caches.append(reb_ids)
    n_rebalance = reb_ids.count()
    _mark("rebalance")

    # 7. chunking — token arrays come straight off the pinned tokenized
    # corpus (no corpus re-load / re-tokenize; the r14 single-scan design)
    toks = tok.join(reb_ids, "doc_id", "left_semi").select(
        "doc_id", "lang", "tokens"
    )
    starts = toks.where(F.size("tokens") > 0).select(
        "doc_id",
        "lang",
        "tokens",
        F.explode(F.expr(f"sequence(1, size(tokens), {CHUNK_STRIDE})")).alias("start"),
    )
    chunk = F.expr(f"slice(tokens, start, {CHUNK_TOKENS})")
    chunks = starts.select(
        "doc_id",
        "lang",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    ).transform(pinned)
    caches.append(chunks)
    # r15: ONE combine-friendly per-lang aggregate builds the chunks pin
    # and yields BOTH n_chunks and n_shards (replaces chunks.count() plus
    # a second pre-write window + distinct pass): shard ids are the
    # running-sum buckets 1..max with NO gaps — every increment is one
    # chunk of <= CHUNK_TOKENS <= SHARD_TOKEN_BUDGET tokens, so a chunk
    # can never skip a bucket and count(DISTINCT shard_id) == max shard_id
    # == (sum(n_chunk_tokens) - 1) div BUDGET + 1 per lang.
    assert CHUNK_TOKENS <= SHARD_TOKEN_BUDGET
    per_lang_stats = (
        chunks.groupBy("lang")
        .agg(F.count("*").alias("nc"), F.sum("n_chunk_tokens").alias("ntok"))
        .collect()
    )
    n_chunks = sum(r.nc for r in per_lang_stats)
    n_shards = sum(
        int((r.ntok - 1) // SHARD_TOKEN_BUDGET + 1) for r in per_lang_stats
    )
    _mark("chunking")

    # 8. shard packing (one running-sum window per lang)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        chunks.withColumn("cum_tokens", F.sum("n_chunk_tokens").over(w))
        .withColumn(
            "shard_id",
            F.expr(f"cast((cum_tokens - 1) div {SHARD_TOKEN_BUDGET} + 1 as int)"),
        )
        .drop("cum_tokens")
    )
    try:
        packed.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
        _mark("pack_write")
    finally:
        for c in caches:
            c.unpersist()
    return TrainingCurationStats(
        n_input, n_quality, n_boiler, n_exact, n_near, n_rebalance, n_chunks, n_shards
    )


def _gate_stats_oracle() -> str:
    """DuckDB mirror of the full gate chain, composed from the component
    oracles off ONE shared `tok` CTE: quality features (textstats), span
    duplication (dedup_repeated_spans), MinHash-LSH near-dup candidates
    (_minhash_cand_ctes pieces), and the id-set algebra of _curation_gates."""
    from .dedup import (
        _EST_JACCARD_DUCK,
        _SIG_DUCK,
        SPAN_TOKENS,
        _bands_cte_duck,
        _perm_values_duck,
    )
    from .textstats import _SW

    sig = _SIG_DUCK.format(perms=_perm_values_duck())
    return f"""
        {sig},
        bands AS ({_bands_cte_duck()}),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   x.sig AS sig_a, y.sig AS sig_b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        ),
        near_drop AS (
            SELECT DISTINCT doc_b AS doc_id FROM cand
            WHERE {_EST_JACCARD_DUCK} >= {NEAR_DUP_EST_JACCARD}
        ),
        q AS (
            SELECT doc_id, len(tokens) AS n_tokens,
                   round(ln(1.0 + len(tokens))
                         * (1 - len(list_filter(tokens, x -> x IN ({_SW})))::DOUBLE / len(tokens))
                         * (len(list_distinct(tokens))::DOUBLE / len(tokens)), 4)
                       AS quality_score
            FROM tok
        ),
        ids1 AS (
            SELECT doc_id FROM q
            WHERE quality_score >= {MIN_QUALITY} AND n_tokens >= {MIN_TOKENS}
        ),
        span_base AS (
            SELECT doc_id, tokens, (len(tokens) - {SPAN_TOKENS} + 1)::INT AS n_spans
            FROM tok WHERE len(tokens) >= {SPAN_TOKENS}
        ),
        span_starts AS (
            SELECT doc_id, n_spans, tokens,
                   unnest(generate_series(1, len(tokens) - {SPAN_TOKENS} + 1)) AS start
            FROM span_base
        ),
        spans AS (
            SELECT doc_id, n_spans,
                   md5(array_to_string(tokens[start : start + {SPAN_TOKENS} - 1], ' ')) AS h
            FROM span_starts
        ),
        span_dup AS (
            SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        ),
        boiler_drop AS (
            SELECT doc_id FROM (
                SELECT doc_id, count(*)::DOUBLE / n_spans AS dup_frac
                FROM spans WHERE h IN (SELECT h FROM span_dup)
                GROUP BY doc_id, n_spans
            ) WHERE round(dup_frac, 6) > {MAX_DUP_FRAC}
        ),
        ids2 AS (
            SELECT doc_id FROM ids1
            WHERE doc_id NOT IN (SELECT doc_id FROM boiler_drop)
        ),
        ids3 AS (
            SELECT min(doc_id) AS doc_id FROM documents
            WHERE doc_id IN (SELECT doc_id FROM ids2)
            GROUP BY md5(lower(trim(text)))
        ),
        ids4 AS (
            SELECT doc_id FROM ids3
            WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
        )
        SELECT (SELECT count(*) FROM documents)::BIGINT AS n_input,
               (SELECT count(*) FROM ids1)::BIGINT AS n_after_quality,
               (SELECT count(*) FROM ids2)::BIGINT AS n_after_boilerplate,
               (SELECT count(*) FROM ids3)::BIGINT AS n_after_exact_dedup,
               (SELECT count(*) FROM ids4)::BIGINT AS n_after_near_dedup
    """


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus data card (the datasheet/data-card summary every
    training-corpus handoff ships with — Gebru et al. 2021): size, source
    and language diversity, token volume, quality-gate pass rate, and
    exact-duplication profile, all from the engine's own gate definitions
    so the card can never drift from what the pipeline actually enforces.

    Determinism discipline: the quality mean rides as an integer sum of
    the per-doc 4-dp scores scaled to 1e4 (each doc's scaled score is
    exact on the identical double both engines compute), so no float sum
    ever crosses a partition boundary.

    Scale shape: per-doc narrow features (token count, gopher verdict,
    fingerprint, quality score) are ONE map-side pass; the card is one
    global aggregate plus a fingerprint groupBy (40-byte keys — the exact
    dedup shuffle, never the text).

    r14: the quality features, gopher verdict and fingerprint really ARE
    one map-side pass now — a single fused projection over one tokenize
    (shared expression builders `quality_gate_cols` / `gopher_pass_col`,
    so the fused card can never drift from the standalone oracle-checked
    queries). The pre-r14 form ran three corpus scans and re-aligned
    them with two doc_id hash joins."""
    from .textstats import TOKENS, gopher_pass_col, quality_gate_cols

    docs = load(spark, sf_dir, "documents")
    n_tokens, quality_score = quality_gate_cols()
    fp = (
        docs.select("doc_id", "lang", "source", "n_chars", "text")
        .withColumn("tokens", F.expr(TOKENS))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.md5(F.lower(F.trim("text"))).alias("fingerprint"),
            n_tokens.alias("n_tokens"),
            quality_score.alias("quality_score"),
            gopher_pass_col().alias("passes_gopher"),
        )
        .withColumn(
            "q4", F.expr("cast(round(quality_score * 10000) as bigint)")
        )
    )
    dup = (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_copies"))
        .agg(
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias(
                "n_dup_groups"
            ),
            F.sum(F.when(F.col("n_copies") > 1, F.col("n_copies")).otherwise(0)).alias(
                "n_dup_docs"
            ),
        )
    )
    card = (
        fp.agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.try_divide(F.sum("n_tokens").cast("double"), F.count("*")), 4
            ).alias("avg_doc_tokens"),
            F.round(
                F.try_divide(
                    F.sum(F.col("passes_gopher").cast("long")).cast("double"),
                    F.count("*"),
                ),
                4,
            ).alias("gopher_pass_rate"),
            F.round(
                F.try_divide(F.sum("q4").cast("double"), F.count("*") * 10000), 6
            ).alias("avg_quality_score"),
        )
    )
    return card.crossJoin(F.broadcast(dup)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_chars",
        "total_tokens",
        "avg_doc_tokens",
        "gopher_pass_rate",
        "avg_quality_score",
        "n_dup_groups",
        "n_dup_docs",
    )


def _datacard_oracle() -> str:
    from .textstats import _GSTOPS, GOPHER_MIN_STOP_HITS  # noqa: F401

    return f"""
        WITH tok AS (
            SELECT doc_id, lang, source, n_chars, text,
                   regexp_extract_all(text, '[a-zA-Z0-9]+') AS tokens
            FROM documents
        ),
        feat AS (
            SELECT doc_id, lang, source, n_chars,
                   md5(lower(trim(text))) AS fingerprint,
                   len(tokens) AS n_tokens,
                   round(ln(1.0 + len(tokens))
                         * (1 - len(list_filter(tokens, x -> x IN ({_GSTOPS})))::DOUBLE / len(tokens))
                         * (len(list_distinct(tokens))::DOUBLE / len(tokens)), 4) AS qs,
                   (len(tokens) BETWEEN 50 AND 100000
                    AND (list_sum(list_transform(tokens, x -> length(x)))::DOUBLE / len(tokens)) BETWEEN 3.0 AND 10.0
                    AND ((length(text) - length(replace(text, '#', ''))
                          + (length(text) - length(replace(text, '...', ''))) / 3.0) / len(tokens)) <= 0.1
                    AND (len(list_filter(tokens, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(tokens)) >= 0.8
                    AND len(list_intersect(list_distinct(tokens), [{_GSTOPS}])) >= {GOPHER_MIN_STOP_HITS}
                   ) AS passes
            FROM tok
        ),
        dup AS (
            SELECT sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
                   sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS n_dup_docs
            FROM (SELECT fingerprint, count(*) AS n FROM feat GROUP BY fingerprint)
        )
        SELECT count(*)::BIGINT AS n_docs,
               count(DISTINCT lang) AS n_langs,
               count(DISTINCT source) AS n_sources,
               sum(n_chars)::BIGINT AS total_chars,
               sum(n_tokens)::BIGINT AS total_tokens,
               round(sum(n_tokens)::DOUBLE / count(*), 4) AS avg_doc_tokens,
               round(sum(CASE WHEN passes THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
                   AS gopher_pass_rate,
               round(sum(round(qs * 10000)::BIGINT)::DOUBLE / (count(*) * 10000), 6)
                   AS avg_quality_score,
               min(dup.n_dup_groups) AS n_dup_groups,
               min(dup.n_dup_docs) AS n_dup_docs
        FROM feat CROSS JOIN dup
    """


QUERIES = {
    "curation_gate_stats": q_curation_gate_stats,
    # appended last (new r7 surface): the one-row corpus data card
    "corpus_datacard": q_corpus_datacard,
}

ORACLES = {
    "curation_gate_stats": _gate_stats_oracle(),
    "corpus_datacard": _datacard_oracle(),
}
