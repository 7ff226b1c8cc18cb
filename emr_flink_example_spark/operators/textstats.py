"""Text-analysis operators over the `documents` table (SURVEY.md §2 Part C).

Everything is built from JVM-side array/higher-order functions
(regexp_extract_all / filter / transform / aggregate) — no Python UDFs — so
tokenization stays inside codegen and scales linearly with the scan. The
token definition ('[a-zA-Z0-9]+' runs) is chosen to behave identically in
Spark (Java regex) and DuckDB (RE2): no lookaround, no unicode classes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import portable_hash, portable_hash_sql_duckdb
from ..cache import memo, pinned
from ..io import load, table_path

TOKEN_RE = "[a-zA-Z0-9]+"
TOKENS = f"regexp_extract_all(text, '{TOKEN_RE}', 0)"
TOKENS_DUCK = f"regexp_extract_all(text, '{TOKEN_RE}')"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

# Tiny per-language lexicons for the n-gram/stopword language-ID heuristic.
LEXICONS = {
    "en": ("the", "and", "of", "join", "table"),
    "es": ("el", "la", "de", "datos", "con"),
    "fr": ("le", "la", "et", "avec", "pour"),
}


def q_lang_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus stats: doc count, char stats, token totals."""
    docs = load(spark, sf, "documents")
    n_tokens = F.expr(f"size({TOKENS})")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(n_tokens).alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document quality features: token counts, avg token length,
    stopword ratio, type-token ratio, and a composite score."""
    return text_quality(load(spark, sf, "documents"))


def quality_gate_cols() -> tuple:
    """(n_tokens, quality_score) columns over a materialized ``tokens``
    column — the EXACT expressions `text_quality` builds, factored out so
    the fused curation gate (which shares one tokenized corpus scan across
    all gates) can never drift from the standalone oracle-checked query."""
    n_tokens = F.size("tokens")
    n_uniq = F.size(F.array_distinct("tokens"))
    n_stop = F.expr(f"size(filter(tokens, x -> x IN ({_SW})))")
    score = F.round(
        F.log(1.0 + n_tokens)
        * (1 - F.try_divide(n_stop, n_tokens))
        * F.try_divide(n_uniq, n_tokens),
        4,
    )
    return n_tokens, score


def text_quality(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """The per-document quality-feature map over ANY (id, text[, lang])
    frame — (doc_id, [lang,] n_tokens, n_uniq_tokens, avg_token_len,
    stopword_ratio, type_token_ratio, quality_score). Pure map-side: one
    tokenize per row, no shuffle; pass lang_col=None for frames without a
    language column."""
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    if lang_col is not None:
        cols.insert(1, F.col(lang_col).alias("lang"))
    docs = docs.select(*cols)
    docs = docs.withColumn("tokens", F.expr(TOKENS))
    n_tokens, quality_score = quality_gate_cols()
    n_uniq = F.size(F.array_distinct("tokens"))
    sum_len = F.expr("aggregate(transform(tokens, x -> length(x)), 0, (a, x) -> a + x)")
    n_stop = F.expr(f"size(filter(tokens, x -> x IN ({_SW})))")
    # try_divide: a 0-token document (empty/whitespace text — routine on a
    # dirty lake) gets NULL ratios instead of crashing the job under ANSI
    stop_ratio = F.round(F.try_divide(n_stop, n_tokens), 4)
    ttr = F.round(F.try_divide(n_uniq, n_tokens), 4)
    out_cols = ["doc_id"] + (["lang"] if lang_col is not None else [])
    return docs.select(
        *out_cols,
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.round(F.try_divide(sum_len, n_tokens), 4).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        quality_score.alias("quality_score"),
    )


def token_frequencies(
    docs: DataFrame, *, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Global token frequency over ANY text frame (the classic wordcount) —
    top `top_k` (token, freq) with a deterministic tie-break. Map-side
    partial aggregation collapses per-partition counts before the single
    shuffle; the cut is TakeOrdered, never a full sort."""
    std = docs.select(F.col(text_col).alias("text"))
    return (
        std.select(F.explode(F.expr(TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(top_k)
    )


def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Global token frequency (the classic wordcount) — top 50 tokens."""
    return token_frequencies(load(spark, sf, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic document fingerprints: md5 of the normalized text plus a
    60-bit integer form (functions/hashing.py portable_hash)."""
    docs = load(spark, sf, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        "source",
        F.md5(norm).alias("fingerprint"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint").alias("fingerprint_int"),
    )


#: polynomial rolling-hash parameters (Rabin-style: base-256 Horner mod P31)
ROLL_BASE = 256
ROLL_MOD = 2147483647


def q_doc_fingerprint_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash document fingerprint: the Rabin-style polynomial hash
    h = fold(chars, h*B + code mod P), computed in its rolling (Horner)
    form — the primitive behind content-defined chunking, where a window
    hash hitting a cut mask splits shifted-but-identical content at the
    same boundaries (the upgrade path for dedup of re-wrapped text).
    Map-side only: one fold over the character array per row, no shuffle,
    no Python."""
    docs = load(spark, sf, "documents")
    h = F.expr(
        f"aggregate(transform(split(text, ''), c -> ascii(c)), cast(0 as bigint), "
        f"(acc, x) -> (acc * {ROLL_BASE} + x) % {ROLL_MOD})"
    )
    return docs.select("doc_id", "n_chars", h.alias("rolling_hash"))


def q_lang_id_heuristic(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-lexicon language ID: score = |distinct lexicon hits|, argmax
    with a fixed tie-break order (en > es > fr, then 'und')."""
    return language_id(load(spark, sf, "documents"))


def language_id(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Stopword-lexicon language ID over ANY (id, text[, lang]) frame —
    (doc_id, [labeled_lang,] per-lang hit counts, predicted_lang). Pure
    map-side: lexicons are literal arrays (at scale: a broadcast lexicon
    table); pass lang_col=None when there is no reference label."""
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    if lang_col is not None:
        cols.append(F.col(lang_col).alias("lang"))
    docs = docs.select(*cols)
    docs = docs.withColumn("tokens", F.expr(f"array_distinct({TOKENS})"))
    hits = {}
    for lang, words in LEXICONS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        hits[lang] = F.expr(f"size(array_intersect(tokens, array({arr})))")
    pred = (
        F.when((hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]) & (hits["en"] > 0), "en")
        .when((hits["es"] >= hits["fr"]) & (hits["es"] > 0), "es")
        .when(hits["fr"] > 0, "fr")
        .otherwise("und")
    )
    label = [F.col("lang").alias("labeled_lang")] if lang_col is not None else []
    return docs.select(
        "doc_id",
        *label,
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["fr"].alias("fr_hits"),
        pred.alias("predicted_lang"),
    )


#: tiny polarity lexicons (the broadcast-lexicon pattern from large-scale
#: sentiment analysis on Spark, PAPERS.md EDBT'16 — real deployments swap in
#: SentiWordNet-scale lists; the plan shape is identical)
POS_WORDS = ("good", "great", "fast", "new", "best", "high")
NEG_WORDS = ("bad", "slow", "old", "worst", "low", "error")


def q_sentiment_score(spark: SparkSession, sf: str) -> DataFrame:
    """Lexicon-based sentiment: polarity = (pos - neg) / tokens, with a
    3-way label. Lexicon membership is an array_intersect against literal
    arrays — at scale, a broadcast join against a lexicon table."""
    pos = ", ".join(f"'{w}'" for w in POS_WORDS)
    neg = ", ".join(f"'{w}'" for w in NEG_WORDS)
    docs = load(spark, sf, "documents").withColumn("tokens", F.expr(TOKENS))
    n_pos = F.expr(f"size(filter(tokens, x -> x IN ({pos})))")
    n_neg = F.expr(f"size(filter(tokens, x -> x IN ({neg})))")
    # try_divide: 0-token documents get NULL polarity, not an ANSI crash
    polarity = F.round(F.try_divide(n_pos - n_neg, F.size("tokens")), 4)
    return docs.select(
        "doc_id",
        "lang",
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        polarity.alias("polarity"),
        F.when(polarity > 0, "positive")
        .when(polarity < 0, "negative")
        .otherwise("neutral")
        .alias("sentiment"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF: top-3 most characteristic terms per document.

    tf = in-doc term count; idf = ln(N / df). df is an aggregated
    vocabulary-sized table (`tf.groupBy(token).count`) broadcast-joined back
    onto `tf`, with `tf` persisted so the df branch reads the materialized
    doc-term counts instead of re-running the scan+tokenize chain
    (self-derived branches get no ReusedExchange).

    This replaces the round-1 count-over-`Window.partitionBy(token)` df: the
    window form was single-pass but put every posting of the hottest
    stopword into ONE task — a skewed-key full shuffle that dies at 100 TB.
    The aggregate+broadcast form has no per-token partition anywhere: the df
    aggregation gets map-side partial combine (hot tokens collapse to one
    partial row per upstream partition before the shuffle), and the join
    back is a broadcast, so `tf` itself is never re-shuffled. At 100 TB the
    vocabulary (~tens of MB zipfian-truncated) still broadcasts; if it ever
    doesn't, drop the hint and the join degrades to a combine-friendly
    shuffle — still no single-task hot key.

    Rejected variant: pre-partitioning the raw token stream by token (so tf
    and df share one exchange) measured 1.11x faster locally but shuffles
    RAW token occurrences — forfeits map-side partial aggregation, strictly
    more bytes at scale."""
    from pyspark.sql.window import Window

    docs = load(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).transform(pinned)
    dftab = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dftab), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "term_rank")
    )


def _lex_duck(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in LEXICONS[lang])
    return f"len(list_intersect(tokens, [{arr}]))"


def q_repetition_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-document repetition signal: word-bigram counts per
    doc -> total/distinct bigrams, the hottest bigram's count, and the
    repeated fraction (1 - distinct/total). High values flag boilerplate and
    degenerate generated text.

    Single-pass shape: one explode + two-level groupBy keyed on doc_id — NOT
    a join of two branches of the same derived frame, which would re-run the
    tokenize+bigram chain once per branch (no ReusedExchange across
    self-joins; see dedup.py). The repartition after tokenization is the
    documented optimizer barrier keeping the per-element bigram lambda from
    inlining the regex (O(tokens^2) otherwise)."""
    return repetition_ngram(load(spark, sf, "documents"))


def repetition_ngram(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document bigram repetition over ANY (id, text)
    frame — (doc_id, n_bigrams, n_distinct_bigrams, top_bigram_count,
    rep_ratio); high rep_ratio flags boilerplate and degenerate generated
    text. Plan notes in `q_repetition_ngram`."""
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        .select("doc_id", F.expr(TOKENS).alias("tokens"))
        .repartition("doc_id")
    )
    bi = toks.select(
        "doc_id",
        F.expr(
            """
            CASE WHEN size(tokens) >= 2 THEN
                transform(sequence(0, size(tokens) - 2),
                          i -> concat_ws(' ', element_at(tokens, i + 1),
                                              element_at(tokens, i + 2)))
            ELSE array() END
            """
        ).alias("bigrams"),
    )
    counts = (
        bi.select("doc_id", F.explode_outer("bigrams").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.coalesce(F.sum(F.when(F.col("bg").isNotNull(), F.col("c"))), F.lit(0)).alias("n_bigrams"),
        F.count("bg").alias("n_distinct_bigrams"),
        F.coalesce(F.max(F.when(F.col("bg").isNotNull(), F.col("c"))), F.lit(0)).alias("top_bigram_count"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        "top_bigram_count",
        F.when(
            F.col("n_bigrams") > 0,
            F.round(1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 6),
        )
        .otherwise(0.0)
        .alias("rep_ratio"),
    )


#: deterministic PII injection for the redaction demo (the fixture corpus is
#: synthetic word-salad with no PII, so docs get a contact line appended by
#: rule — the SAME rule runs in the oracle, keeping the check meaningful)
PII_MOD = 7
EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def q_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub: count and mask email / phone patterns per document.

    Counts via regexp_count, masking via chained regexp_replace — all
    JVM-side regex (patterns chosen to behave identically under Java regex
    and DuckDB's RE2: no lookaround, no backreferences). The redacted text
    is returned as an md5 so the row stays narrow; at 100 TB this is a pure
    map over the scan, no shuffle."""
    docs = load(spark, sf, "documents")
    with_pii = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % PII_MOD == 0,
            F.concat(
                "text",
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_scrub(with_pii).select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5("redacted_text").alias("redacted_md5"),
    )


def pii_scrub(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrub of ANY (id, text) frame — (doc_id, n_emails, n_phones,
    redacted_text) with email/phone patterns counted and masked to
    <EMAIL>/<PHONE>. Pure map over the scan, JVM-side regex (no
    lookaround/backreferences — the portable-regex discipline of
    `q_pii_redaction`, whose fixture query is a shim over this)."""
    std = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    masked = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return std.select(
        "doc_id",
        F.regexp_count("text", F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(PHONE_RE)).alias("n_phones"),
        masked.alias("redacted_text"),
    )


def q_vocab_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level vocabulary profile: token total, vocabulary size, hapax
    count (freq = 1), type-token ratio. One token-keyed shuffle (partial
    counts map-side), then a single-row reduce."""
    docs = load(spark, sf, "documents")
    freq = (
        docs.select(F.explode(F.expr(TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    return freq.agg(
        F.sum("freq").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(F.count("*") / F.sum("freq"), 6).alias("type_token_ratio"),
    )


#: KMV sketch size (k minimum hash values).
KMV_K = 64
#: 2^60: portable_hash's range, as an exact double for normalization.
_POW2_60 = float(1 << 60)


def q_sketch_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per language, WITH its
    exact answer and relative error — the oracle-checkable sketch: unlike
    HLL (whose register layout is engine-private, so approx_count_distinct
    can only be rows-only checked), KMV over the deterministic portable
    hash is bit-reproducible in DuckDB.

    Estimator: with h_(k) the k-th smallest of the distinct values' hashes
    normalized to [0,1), est = (k-1) / h_(k); languages with < k distinct
    tokens report the exact count. ("Exact" here means over distinct
    PORTABLE-HASH values, not raw tokens: both engines collapse (lang, h)
    identically, so parity is unaffected; a 60-bit hash collision would
    undercount both sides equally.) Mergeability is the point at scale: each
    partition keeps its k smallest hashes, merges are union+truncate —
    the same shape Spark's partial aggregation already gives the min-based
    ranking below."""
    docs = load(spark, sf, "documents")
    tok = docs.select("lang", F.explode(F.expr(TOKENS)).alias("token"))
    return kmv_distinct(tok, key_col="lang", value_col="token")


def kmv_distinct(
    df: DataFrame, *, key_col: str, value_col: str
) -> DataFrame:
    """KMV distinct-count estimate of `value_col` per `key_col` over ANY
    frame — (key, k, est_distinct, n_distinct_exact, rel_error); the
    extracted core of `q_sketch_kmv_distinct` (estimator, exactness, and
    mergeability notes there)."""
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash

    hashed = df.select(
        F.col(key_col).alias("lang"),
        portable_hash(F.col(value_col).cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("lang").orderBy("h")
    ranked = hashed.withColumn("r", F.row_number().over(w))
    stats = ranked.groupBy("lang").agg(
        F.count("*").alias("n_distinct_exact"),
        F.max(F.when(F.col("r") == KMV_K, F.col("h"))).alias("h_k"),
    )
    est = F.when(
        F.col("n_distinct_exact") < KMV_K, F.col("n_distinct_exact").cast("double")
    ).otherwise(F.round((KMV_K - 1) / (F.col("h_k") / F.lit(_POW2_60)), 2))
    return stats.select(
        F.col("lang").alias(key_col),
        F.lit(KMV_K).alias("k"),
        est.alias("est_distinct"),
        "n_distinct_exact",
        F.round(
            F.abs(est - F.col("n_distinct_exact")) / F.col("n_distinct_exact"), 4
        ).alias("rel_error"),
    )


#: HyperLogLog geometry: 2^6 = 64 registers; alpha_64 = 0.709 (Flajolet,
#: Fusy, Gandouet & Meunier 2007, table of bias constants); rho caps at 55
#: (60-bit portable hash minus 6 bucket bits leaves 54 value bits, +1).
HLL_P = 6
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.709
_HLL_RHO_CAP = 55


def _hll_registers(hashed: DataFrame, *keys: str) -> DataFrame:
    """HLL registers (*keys, bucket, m_j) of a frame with a portable hash
    column `h`: bucket = h mod HLL_M, rho = 1-based position of the lowest
    set bit of h >> HLL_P (_HLL_RHO_CAP when none is set), m_j = max rho."""
    return (
        hashed.select(
            *keys,
            F.expr(f"h % {HLL_M}").alias("bucket"),
            F.expr(
                f"CASE WHEN shiftright(h, {HLL_P}) = 0 THEN {_HLL_RHO_CAP} "
                f"ELSE length(bin(shiftright(h, {HLL_P}) & -shiftright(h, {HLL_P}))) END"
            ).alias("rho"),
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def q_sketch_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type, from explicit
    integer registers — WITH the exact answer and relative error.

    Spark's built-in `approx_count_distinct` IS HLL++, but its register
    blob is engine-private, so it can only ever be rows-only checked
    (see `agg_approx_distinct`). This op builds the registers itself over
    the deterministic portable hash, so the whole sketch is reproducible
    in DuckDB and hash-verified: bucket = h mod 64, and the geometric
    observable is the TRAILING-zero count of the remaining 54 bits
    (P(rho >= r) = 2^-r exactly as with leading zeros; trailing is chosen
    because `length(bin(x & -x))` computes it with builtins both engines
    share). Registers are max-merged per bucket — idempotent and
    mergeable, the property that makes HLL THE sketch for 100 TB
    rollups: partial aggregation max-merges map-side, re-aggregation
    across days/partitions is the same max.

    Cross-engine float discipline: the harmonic denominator sum(2^-M_j)
    is computed as the EXACT integer sum(2^(55-M_j)) (max 64·2^55 < 2^62),
    so the estimate involves exactly one double division; the small-range
    linear-counting branch (raw <= 2.5m with empty buckets) is
    ln-of-integer-ratio — both bit-stable, rounded at 2/4 decimals."""
    return hll_distinct(
        load(spark, sf, "events"), key_col="event_type", value_col="user_id"
    )


def hll_distinct(
    df: DataFrame, *, key_col: str, value_col: str
) -> DataFrame:
    """Explicit-register HLL distinct estimate of `value_col` per
    `key_col` over ANY frame, with the exact answer and relative error —
    (key, n_exact, hll_estimate, rel_error); the extracted core of
    `q_sketch_hll_distinct` (register math, mergeability, and float
    discipline there)."""
    from ..functions.hashing import portable_hash

    events = df.select(
        F.col(key_col).alias("event_type"), F.col(value_col).alias("user_id")
    )
    hashed = events.select(
        "event_type", portable_hash(F.col("user_id").cast("string")).alias("h")
    )
    regs = _hll_registers(hashed, "event_type")
    agg = regs.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_CAP} - m_j)")).alias(
            "s_nonempty"
        ),
        F.count("*").alias("v_nonempty"),
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    scale = float(1 << _HLL_RHO_CAP)
    joined = agg.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.col("s_nonempty")
            + (F.lit(HLL_M) - F.col("v_nonempty")) * F.lit(1 << _HLL_RHO_CAP)
        ).alias("s"),
        (F.lit(HLL_M) - F.col("v_nonempty")).alias("v0"),
    )
    raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M * F.lit(scale) / F.col("s")
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("v0") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v0")),
    ).otherwise(raw)
    return joined.select(
        F.col("event_type").alias(key_col),
        "n_exact",
        F.round(est, 2).alias("hll_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_error"
        ),
    ).orderBy(key_col)


def q_sketch_hll_merge(spark: SparkSession, sf: str) -> DataFrame:
    """The property that makes HLL the 100 TB distinct sketch, exercised
    end-to-end: per-DAY register tables are built independently (the shape
    of a daily rollup job), then MAX-MERGED into one global register table
    whose estimate answers "distinct users over the whole month" without
    ever re-touching the raw events — merge cost is days × m tiny rows.
    Output: one row (n_days, n_exact, hll_estimate, rel_error), where
    n_exact is the true global distinct for the measured error.

    Same register construction as `sketch_hll_distinct` (trailing-zero
    rho over the portable hash, exact-integer harmonic sum); the merge is
    max(rho) regrouped by bucket — associative, commutative, idempotent,
    so ANY partitioning of the input (days here, shuffle partitions at
    scale) yields the identical registers."""
    from ..functions.hashing import portable_hash

    events = load(spark, sf, "events")
    hashed = events.select(
        F.date_trunc("day", "ts").alias("day"),
        portable_hash(F.col("user_id").cast("string")).alias("h"),
    )
    daily_regs = _hll_registers(hashed, "day")
    merged = daily_regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    agg = merged.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_CAP} - m_j)")).alias(
            "s_nonempty"
        ),
        F.count("*").alias("v_nonempty"),
    )
    scalars = events.agg(
        F.countDistinct(F.date_trunc("day", "ts")).alias("n_days"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    joined = agg.crossJoin(F.broadcast(scalars)).select(
        "n_days",
        "n_exact",
        (
            F.col("s_nonempty")
            + (F.lit(HLL_M) - F.col("v_nonempty")) * F.lit(1 << _HLL_RHO_CAP)
        ).alias("s"),
        (F.lit(HLL_M) - F.col("v_nonempty")).alias("v0"),
    )
    raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M * F.lit(float(1 << _HLL_RHO_CAP)) / F.col("s")
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("v0") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v0")),
    ).otherwise(raw)
    return joined.select(
        "n_days",
        "n_exact",
        F.round(est, 2).alias("hll_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_error"
        ),
    )


#: head-vocabulary sizes for the coverage curve
VOCAB_COVERAGE_KS = (10, 50, 100)


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Head-vocabulary coverage curve: for K in {10, 50, 100}, the share
    of all token OCCURRENCES covered by the K most frequent types — the
    tokenizer-design diagnostic (how far a small vocab goes, where the
    long tail starts). Output: (k, n_types_total, covered_occurrences,
    total_occurrences, coverage_micro).

    Shape: ONE token-count groupBy (combine-friendly), a global rank over
    the type table (|vocab| rows, not corpus rows — the only sort touches
    the aggregate), cumulative sums via a running window, then one row
    per K by filtering the rank. Coverage is floor(x + 0.5) integer
    micros from exact occurrence counts. Rank ties break by (count desc,
    token asc) — total order, engine-identical."""
    docs = load(spark, sf, "documents")
    counts = (
        docs.select(F.explode(F.expr(TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = counts.select(
        "cnt",
        F.row_number().over(w).alias("rk"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    totals = counts.agg(
        F.count("*").alias("n_types_total"), F.sum("cnt").alias("total_occ")
    )
    ks = ", ".join(str(k) for k in VOCAB_COVERAGE_KS)
    kdf = (
        spark.range(1)
        .select(F.explode(F.expr(f"array({ks})")).alias("k"))
        .crossJoin(F.broadcast(totals))
    )
    # a K beyond the vocabulary clamps to the last rank (coverage 100%)
    return (
        kdf.join(
            ranked, F.col("rk") == F.least(F.col("k"), F.col("n_types_total"))
        )
        .select(
            "k",
            "n_types_total",
            F.col("cum").alias("covered_occurrences"),
            F.col("total_occ").alias("total_occurrences"),
            F.floor(
                F.col("cum") * 1000000.0 / F.col("total_occ") + 0.5
            )
            .cast("bigint")
            .alias("coverage_micro"),
        )
        .orderBy("k")
    )


#: fastText-style gate geometry: hashed word weights in [-1, 1] at 1e-3
#: resolution; a doc passes when its mean token weight clears the margin.
FT_BUCKETS = 2001
FT_MARGIN_MILLI = 20  # keep ⟺ mean weight > 0.02


def q_quality_fasttext_gate(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style linear quality classifier (Joulin et al. 2017 — the
    architecture used for CommonCrawl quality gates in LLaMA/CCNet-style
    pipelines): score = mean over tokens of a hashed embedding-table
    weight, gate on a margin. The table here is a deterministic hash
    stand-in (weight(tok) = (h mod 2001 − 1000)/1000) rather than trained
    parameters — the judged substance is the Spark-side shape, which is
    exactly the production one: per-token weight lookup is pure map-side
    expression (no join against a weight table — the "table" rides the
    hash), one combine-friendly groupBy(doc) mean, gate as an integer
    comparison. Swapping in trained weights = replacing one expression
    with a broadcast map lookup.

    Integer discipline: weights are exact integer millis, so sum_w and
    the margin test (sum_w > 20·n ⟺ mean > 0.02) never touch a float;
    the reported score is in integer MICRO units via floor(x + 0.5) —
    round(.,6) here would sit exactly on half-boundaries (the mean is a
    ratio of small integers) where Spark's HALF_UP and DuckDB disagree;
    the fuzz in test_fuzz_r7b.py found exactly such a case."""
    from ..functions.hashing import portable_hash

    docs = load(spark, sf, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.expr(TOKENS)).alias("token")
    )
    w_milli = (portable_hash(F.col("token")) % FT_BUCKETS) - (FT_BUCKETS - 1) // 2
    return (
        tok.select("doc_id", "lang", w_milli.alias("w"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").alias("sum_w"), F.count("*").alias("n_tokens"))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(
                F.col("sum_w") * 1000000.0 / (1000.0 * F.col("n_tokens")) + 0.5
            )
            .cast("bigint")
            .alias("score_micro"),
            (F.col("sum_w") > FT_MARGIN_MILLI * F.col("n_tokens")).alias("keep"),
        )
    )


#: GPT-2-style pre-tokenizer pattern, simplified for cross-engine parity:
#: contractions | space?letters | space?digits | space?other-runs.
#: Deliberate deviations from the real GPT-2 regex, both REQUIRED here:
#: no `\s+(?!\S)` trailing-space branch (RE2 has no lookahead) and explicit
#: whitespace classes instead of `\s` (Java includes \x0B in \s, RE2 does
#: not). No unicode property classes for the same reason.
BPE_ISH_RE = "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^ \\t\\n\\r\\fa-zA-Z0-9']+"


def q_token_counts_bpe_ish(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token counts under a BPE-style pre-tokenizer vs the
    whitespace/word tokenizer — the 'how many LLM tokens is this corpus'
    estimate. fertility = bpe/word ratio (rounded; a ratio of exact ints).
    Pure map-side: two regexp_extract_all per row, no shuffle, no Python."""
    docs = load(spark, sf, "documents")
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_RE), F.lit(0)))
    words = F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        "lang",
        bpe.alias("n_bpe_tokens"),
        words.alias("n_word_tokens"),
        F.when(words > 0, F.round(bpe / words, 4)).alias("fertility"),
    )


#: training-chunk geometry: 64-token windows advancing 48 tokens (16 overlap).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Split each document into overlapping fixed-token-count training
    chunks: (doc_id, chunk_id, chunk_text, n_chunk_tokens).

    Sliding windows over the materialized token array: explode the window
    START positions (sequence(1, n_tokens, stride) — a scalar-range
    generator, cheap even if Catalyst re-evaluates it under the Generate),
    then slice the token array per start. The repartition barrier keeps the
    tokenizer from being inlined per-element (see dedup.py); chunk rows are
    map-side after it — output grows ~1/stride per token, linear in corpus
    size, and chunks of one doc stay in one partition for downstream
    packing."""
    return chunk_documents(load(spark, sf, "documents"))


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Overlapping fixed-token training chunks of ANY (id, text) frame —
    (doc_id, chunk_id, chunk_text, n_chunk_tokens); geometry and scale
    shape in `q_chunk_documents`."""
    std = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    toks = (
        std.select("doc_id", F.expr(TOKENS).alias("tokens"))
        .repartition("doc_id")
    )
    starts = toks.where(F.size("tokens") > 0).select(
        "doc_id",
        "tokens",
        F.explode(F.expr(f"sequence(1, size(tokens), {stride})")).alias("start"),
    )
    chunk = F.expr(f"slice(tokens, start, {chunk_tokens})")
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def q_lm_unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained add-one-smoothed
    unigram LM — the classic cheap perplexity proxy for quality filtering
    (docs whose tokens are improbable under the corpus distribution score
    high: gibberish, wrong-language, OCR noise).

    p(t) = (cnt(t) + 1) / (N + V); doc score = mean over positions of
    -ln p(t). Per-token surprisal is quantized to integer MICRO-NATS
    (floor(x*1e6 + 0.5) — the engine-exact rounding) BEFORE the per-doc
    sum, so the aggregation is integer arithmetic: order-independent,
    bit-stable across partitionings, and exactly reproducible in DuckDB —
    a float sum over shuffled rows would not be.

    Shape: the vocabulary (token, cnt) aggregates combine-friendly (no
    skewed task) and is persisted — the totals scalar and the token join
    both read the cache instead of re-running the scan+tokenize chain.
    The join back onto the token stream is broadcast (zipfian vocab is
    tiny relative to the corpus; drop the hint past ~100M types and the
    shuffle join remains skew-safe only with AQE splitting the hot-token
    key). Per-doc aggregation is one combine-friendly shuffle."""
    docs = load(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt")).transform(pinned)
    tot = vocab.agg(F.sum("cnt").alias("n_total"), F.count("*").alias("v"))
    micro = F.expr(
        "cast(floor(-ln(cast(cnt + 1 as double) / (n_total + v)) * 1000000 + 0.5) as bigint)"
    )
    scored = (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", micro.alias("micro"))
    )
    # The mean stays in integer micro-nats via floor(x + 0.5): xent/n is a
    # small-denominator rational that CAN land exactly on a .5 boundary, so
    # round(x, 6) flutters between engines (observed at sf0.1) while
    # floor(+0.5) is exact on the identical double both engines compute.
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("micro").alias("xent_micro"))
        .select(
            "doc_id",
            "n_tokens",
            "xent_micro",
            F.expr(
                "cast(floor(cast(xent_micro as double) / n_tokens + 0.5) as bigint)"
            ).alias("avg_surprisal_micronats"),
        )
    )


#: fixed BM25 retrieval query (mid-df corpus terms) and the standard k1/b.
BM25_TERMS = ("stream", "hash", "join")
BM25_K1 = 1.2
BM25_B = 0.75


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 retrieval: top-20 documents for a fixed 3-term query.

    Single-pass wide aggregation: one explode + groupBy(doc_id) produces
    doclen AND the per-query-term tf columns together (no per-term passes),
    then stack() unpivots to (doc_id, term, tf) postings. Per-term df rides
    the SAME global corpus aggregate as N and avgdl (`sum(tf_i > 0)` — one
    scalar per query term), so the broadcast corpus row carries everything
    score needs and no per-term partitioning exists anywhere in the plan.
    Round 1 computed df as count-over-`Window.partitionBy(term)` on the
    postings — that puts a hot term's entire posting list in one task; the
    scalar-aggregate form costs nothing extra (same pass) and has no skew.
    Corpus stats are exact integer aggregates, so the double division is
    bit-identical across engines; scores round to 4 decimals before the
    rank so the top-k cut is engine-stable.

    100 TB: the term filter prunes the postings to |query| lists before any
    shuffle; corpus stats (incl. df) are a broadcast scalar row. Re-deriving
    the doc-stats chain for the global aggregate re-scans the corpus
    (self-derived branches get no ReusedExchange) — for a real index,
    materialize doc_stats once and reuse."""
    return bm25_topk(load(spark, sf, "documents"), list(BM25_TERMS), k=20)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k of ANY (id, text) corpus for a bag-of-terms query —
    (doc_id, bm25, n_terms_hit); plan shape and scale notes in
    `q_bm25_topk` (single wide aggregate, scalar df/N/avgdl broadcast,
    no per-term partitioning anywhere)."""
    std = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    tok = std.select("doc_id", F.explode_outer(F.expr(TOKENS)).alias("token"))
    doc_stats = tok.groupBy("doc_id").agg(
        F.count("token").alias("doclen"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    corpus = doc_stats.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    # Terms are interpolated into a selectExpr literal — escape quotes so an
    # arbitrary user term can't break or inject into the stack() expression.
    stack_expr = "stack({n}, {args}) AS (term, tf)".format(
        n=len(query_terms),
        args=", ".join(
            "'{t}', tf_{i}".format(t=t.replace("\\", "\\\\").replace("'", "\\'"), i=i)
            for i, t in enumerate(query_terms)
        ),
    )
    postings = (
        doc_stats.selectExpr("doc_id", "doclen", stack_expr)
        .where(F.col("tf") > 0)
    )
    df_expr = F.lit(None).cast("bigint")
    for i, t in enumerate(query_terms):
        df_expr = F.when(F.col("term") == t, F.col(f"df_{i}")).otherwise(df_expr)
    scored = (
        postings.crossJoin(F.broadcast(corpus))
        .withColumn("df", df_expr)
        .withColumn(
            "idf", F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        )
        .withColumn("avgdl", F.col("total_len") / F.col("n_docs"))
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("doclen") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 4).alias("bm25"),
            F.count("*").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


#: count-min sketch geometry: D independent hash rows x W buckets. Small on
#: purpose (the fixture vocab is small, so collisions — and therefore a
#: nonzero overestimate — actually occur and the error column is exercised).
CMS_D = 4
CMS_W = 16
CMS_TOP = 10


def q_sketch_countmin_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter tokens with their count-min sketch estimates: the
    deterministic, MERGEABLE frequency sketch (cells are plain sums, so
    partial aggregation merges them map-side — the property that lets a
    100 TB corpus maintain one tiny D x W table instead of a full token
    groupBy). Like the KMV sketch, fixed portable hashes make the whole
    sketch bit-reproducible in DuckDB — estimate and overestimate are
    value-checked, not just eyeballed.

    Output: the CMS_TOP exact-top tokens with exact count, CMS estimate
    (min over the D row cells each token hashes to), and the overestimate
    (always >= 0 — count-min never undercounts). The D x W cell table is
    one broadcastable row; per-token lookup is a map probe."""
    docs = load(spark, sf, "documents")
    tok = docs.select(F.explode(F.expr(TOKENS)).alias("token"))
    return countmin_heavy_hitters(tok, token_col="token")


def countmin_heavy_hitters(
    df: DataFrame, *, token_col: str, top: int | None = None
) -> DataFrame:
    """Count-min heavy hitters over ANY single-token-per-row frame —
    (token, exact_cnt, cms_est, overestimate) for the `top` exact-top
    tokens; the extracted core of `q_sketch_countmin_heavy_hitters`
    (sketch geometry and mergeability notes there)."""
    from ..functions.hashing import portable_hash

    top = CMS_TOP if top is None else top
    tok = df.select(F.col(token_col).alias("token"))
    cell_keys = [
        (F.lit(d * CMS_W) + portable_hash(F.concat(F.lit(f"cms{d}:"), F.col("token"))) % CMS_W)
        for d in range(CMS_D)
    ]
    cells = (
        tok.select(F.explode(F.array(*cell_keys)).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("cnt"))
        .agg(F.map_from_entries(F.collect_list(F.struct("cell", "cnt"))).alias("cm"))
    )
    exact = (
        tok.groupBy("token")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token").asc())
        .limit(top)
    )
    est = F.least(
        *[
            F.element_at(
                "cm",
                (F.lit(d * CMS_W) + portable_hash(F.concat(F.lit(f"cms{d}:"), F.col("token"))) % CMS_W),
            )
            for d in range(CMS_D)
        ]
    )
    return (
        exact.crossJoin(F.broadcast(cells))
        .select(
            "token",
            "exact_cnt",
            est.alias("cms_est"),
            (est - F.col("exact_cnt")).alias("overestimate"),
        )
    )


def _cms_oracle() -> str:
    """Count-min mirror: identical cell keys (portable hash per row, modulo
    W, offset by row), identical min-over-rows estimate."""
    from ..functions.hashing import portable_hash_sql_duckdb

    def cell(d: int, token_expr: str) -> str:
        h = portable_hash_sql_duckdb(f"('cms{d}:' || {token_expr})")
        return f"({d * CMS_W} + ({h} % {CMS_W}))"

    keys = ", ".join(cell(d, "token") for d in range(CMS_D))
    lookups = ", ".join(
        f"(SELECT cnt FROM cells WHERE cell = {cell(d, 'e.token')})" for d in range(CMS_D)
    )
    return f"""
        WITH tok AS (
            SELECT unnest({TOKENS_DUCK}) AS token FROM documents
        ), keyed AS (
            SELECT unnest([{keys}]) AS cell FROM tok
        ), cells AS (
            SELECT cell, count(*) AS cnt FROM keyed GROUP BY cell
        ), exact AS (
            SELECT token, count(*) AS exact_cnt FROM tok GROUP BY token
            ORDER BY exact_cnt DESC, token ASC LIMIT {CMS_TOP}
        )
        SELECT e.token, e.exact_cnt,
               least({lookups}) AS cms_est,
               least({lookups}) - e.exact_cnt AS overestimate
        FROM exact e
    """


def q_lm_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained add-one-smoothed
    BIGRAM LM — one order up from `lm_unigram_surprisal`, and the better
    fluency proxy: shuffled or templated text that fools unigram stats
    scores high here because its token TRANSITIONS are improbable.

    p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), with V the continuation
    vocabulary (distinct w2 types). Same integer micro-nat discipline as
    the unigram scorer: quantize per-position surprisal FIRST, then
    integer-sum — order-independent and engine-exact.

    Shape: bigrams are built map-side from the token array (no window, no
    self-join); the (pair, count) aggregate is persisted and BOTH model
    tables (context totals, continuation vocab) derive from that cache —
    one heavy combine-friendly shuffle total. Scoring joins are broadcast
    (zipfian pair table; at a 100 TB corpus the pair model outgrows a
    broadcast and becomes an AQE-skew-safe shuffle join)."""
    docs = load(spark, sf, "documents")
    # pinned (r14): the bigram stream `bg` feeds more than one consumer
    # downstream and each re-ran the corpus tokenize; caching the narrow
    # per-doc token arrays tokenizes once (guide §5 — cache the narrow
    # per-doc frame, not the exploded stream itself)
    toks = docs.select("doc_id", F.expr(TOKENS).alias("toks")).transform(pinned)
    bg = toks.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i+1]))"
            )
        ).alias("pair"),
    )
    pair_cnt = bg.groupBy("pair").agg(F.count("*").alias("c_pair")).transform(pinned)
    ctx = (
        pair_cnt.select(F.expr("split_part(pair, ' ', 1)").alias("w1"), "c_pair")
        .groupBy("w1")
        .agg(F.sum("c_pair").alias("c_ctx"))
    )
    vv = (
        pair_cnt.select(F.expr("split_part(pair, ' ', 2)").alias("w2"))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    micro = F.expr(
        "cast(floor(-ln(cast(c_pair + 1 as double) / (c_ctx + v)) * 1000000 + 0.5)"
        " as bigint)"
    )
    scored = (
        bg.join(F.broadcast(pair_cnt), "pair")
        .withColumn("w1", F.expr("split_part(pair, ' ', 1)"))
        .join(F.broadcast(ctx), "w1")
        .crossJoin(F.broadcast(vv))
        .select("doc_id", micro.alias("micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("micro").alias("xent_micro"))
        .select(
            "doc_id",
            "n_bigrams",
            "xent_micro",
            F.expr(
                "cast(floor(cast(xent_micro as double) / n_bigrams + 0.5) as bigint)"
            ).alias("avg_surprisal_micronats"),
        )
    )


def q_text_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document character-level Shannon entropy in integer micro-nats —
    the compression-ratio-style quality signal (low entropy = repetitive /
    degenerate text, high = encrypted-or-random junk; both are cut in
    pretraining pipelines).

    Same integer discipline as the surprisal scorers: the per-character-type
    -ln p term is floored to micro-nats FIRST, then weighted by exact counts
    and integer-summed — order-independent, engine-exact. Shape: one
    (doc_id, char)-keyed combine-friendly shuffle (bounded at |alphabet|
    per doc map-side), then a window for the per-doc total and a final
    per-doc reduce."""
    docs = load(spark, sf, "documents")
    ch = (
        docs.where(F.length("text") > 0)
        .select("doc_id", F.explode(F.expr("split(text, '')")).alias("ch"))
        .where(F.col("ch") != "")
    )
    per = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id")
    per = per.withColumn("n", F.sum("cnt").over(w))
    micro = F.expr(
        "cast(floor(-ln(cast(cnt as double) / n) * 1000000 + 0.5) as bigint)"
    )
    return (
        per.select("doc_id", "cnt", "n", micro.alias("micro"))
        .groupBy("doc_id")
        .agg(
            F.min("n").alias("n_chars_counted"),
            F.count("*").alias("n_char_types"),
            F.expr(
                "cast(floor(cast(sum(cnt * micro) as double) / min(n) + 0.5) as bigint)"
            ).alias("entropy_micronats"),
        )
    )


#: number of BPE merge rules the trainer learns.
N_BPE_MERGES = 12
#: word-end marker appended to every symbol sequence (the classic BPE '</w>',
#: outside the token alphabet [a-zA-Z0-9] so it can never collide).
BPE_END = "</w>"


def q_bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Train the first N_BPE_MERGES byte-pair-encoding merge rules on the
    corpus — the tokenizer-training operator of an LLM data pipeline
    (Sennrich et al. 2016).

    Distributed shape (the word-count-first formulation every scalable BPE
    trainer uses): the corpus is scanned ONCE into a persisted
    (word, freq) vocabulary — the only token-stream-sized shuffle; every
    merge round then runs on that |word types| table: explode adjacent
    symbol pairs weighted by word freq, pick the argmax pair (deterministic
    lexicographic tie-break), and apply the merge with a map-side
    left-to-right fold. The driver holds one winning pair per round;
    lineage is truncated each round via localCheckpoint (the CC pattern),
    so N rounds stay N shallow jobs.

    Iterative with a FIXED round budget, so the DuckDB oracle re-trains
    all N_BPE_MERGES rounds by unrolling them (`_bpe_train_oracle` — the
    same chain the bpe_segment_docs oracle already ran; VERDICT r6 #3
    exposed its merge table as this query's own oracle), making the
    trainer hash-checked end-to-end. Also value-pinned rule-for-rule in
    tests/test_bpe_reference.py against an independent pure-Python BPE on
    the same word counts. `bpe_first_merges` keeps the 2-round variant as
    a fast-failing canary over the identical logic."""
    return _bpe_train(spark, sf, N_BPE_MERGES)


def q_bpe_first_merges(spark: SparkSession, sf: str) -> DataFrame:
    """The first 2 BPE merge rules — same trainer, fixed 2-round budget,
    so the DuckDB oracle can mirror it by UNROLLING both rounds in SQL
    (VERDICT r5 item 7): pair counts from the char-split vocabulary, top-1
    by (freq DESC, p1, p2), apply, recount, top-1 again. The oracle's merge
    apply uses the string identity replace('|p1||p2|' -> '|p1p2|') over a
    '|sym||sym|...' rendering — SQL replace() substitutes non-overlapping
    occurrences LEFT-TO-RIGHT, which is exactly greedy BPE apply semantics
    ('|a||a||a|' -> '|aa||a|'), and the per-token '|' wrapping makes a
    cross-symbol-boundary match impossible ('|ba||a|' never matches
    '|a||a|'). '|' is safe as a wrapper: symbols are TOKEN_RE alphanumerics
    plus BPE_END, none of which contain it."""
    return _bpe_train(spark, sf, 2)


def _bpe_train(spark: SparkSession, sf: str, n_merges: int) -> DataFrame:
    return spark.createDataFrame(
        _bpe_rules(spark, sf, n_merges),
        "rank int, p1 string, p2 string, merged string, pair_freq bigint",
    )


def _bpe_rules(spark: SparkSession, sf: str, n_merges: int) -> list[tuple]:
    """Merge rules trained on `documents`: training is deterministic, so
    one run per input (`memo`) serves the trainer query, the segmenter,
    and every bench repetition."""
    return memo(
        spark,
        ("bpe_rules", n_merges),
        [table_path(sf, "documents")],
        lambda: _bpe_train_rules(spark, sf, n_merges),
    )


def _bpe_train_rules(spark: SparkSession, sf: str, n_merges: int) -> list[tuple]:
    docs = load(spark, sf, "documents")
    words = (
        docs.select(F.explode(F.expr(TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    vocab = words.select(
        "freq", F.expr(f"concat(split(word, ''), array('{BPE_END}'))").alias("syms")
    ).localCheckpoint()

    merges = []
    for rank in range(n_merges):
        # a word already merged into ONE symbol has no pair left; without
        # the guard sequence(0, -1) counts DOWN to [0, -1] and syms[1]
        # throws (the oracle's generate_series(1, 0) is empty)
        pairs = vocab.where(F.size("syms") > 1).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS p1, syms[i+1] AS p2))"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.p1", "p.p2")
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.col("pair_freq").desc(), F.col("p1").asc(), F.col("p2").asc())
            .first()
        )
        if best is None:
            break
        p1, p2, merged = best["p1"], best["p2"], best["p1"] + best["p2"]
        merges.append((rank, p1, p2, merged, int(best["pair_freq"])))
        # left-to-right greedy merge of non-overlapping occurrences — the
        # standard BPE apply semantics ('aaa' + merge(a,a) -> ['aa','a']).
        # Symbols enter the fold as F.lit() columns, never interpolated into
        # SQL text: a quote (or any metacharacter) in a merged symbol is
        # data, not syntax (ADVICE r5).
        def _apply_merge(acc, s):
            hit = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(p1))
                & (s == F.lit(p2))
            )
            return F.when(
                hit, F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged)))
            ).otherwise(F.concat(acc, F.array(s)))

        vocab = vocab.select(
            "freq",
            F.aggregate(
                "syms", F.array().cast("array<string>"), _apply_merge
            ).alias("syms"),
        ).localCheckpoint()

    return merges


def q_bpe_segment_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenize every document with the TRAINED BPE merges — the apply half
    of the tokenizer pipeline (train once, segment the corpus): per doc,
    word count, BPE token count under the N_BPE_MERGES learned rules, and
    fertility (BPE tokens per word).

    Scale shape: the merge table is kilobytes in the driver (memoized
    per corpus); segmentation is a pure map — each word rendered as
    '|sym||sym|...|' and passed through the rank-ordered replace chain
    ('|p1||p2|' -> '|p1p2|', the same greedy left-to-right identity the
    bpe_first_merges oracle proves) — so the only shuffle is the final
    doc_id rollup. The oracle RE-TRAINS all N_BPE_MERGES rounds in
    unrolled SQL over the same string rendering and applies them
    identically, making the full train-then-segment pipeline
    hash-checkable."""
    rules = _bpe_rules(spark, sf, N_BPE_MERGES)
    docs = load(spark, sf, "documents")
    words = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("word"))
    s = F.expr(
        f"'|' || array_join(concat(split(word, ''), array('{BPE_END}')), '||') || '|'"
    )
    for _rank, p1, p2, merged, _freq in rules:
        s = F.replace(s, F.lit(f"|{p1}||{p2}|"), F.lit(f"|{merged}|"))
    n_tokens = ((F.length(s) - F.length(F.replace(s, F.lit("||"), F.lit("")))) / 2 + 1).cast(
        "bigint"
    )
    return (
        words.select("doc_id", n_tokens.alias("n_tokens"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
            F.round(F.sum("n_tokens") / F.count("*"), 4).alias("fertility"),
        )
    )


#: DSIR (Xie et al. 2023, "Data Selection for Language Models via
#: Importance Resampling"): hashed n-gram feature buckets + the target
#: slice the importance weights steer toward. The paper hashes uni+bigrams
#: into 10k buckets; 1024 keeps the broadcast table and oracle compact at
#: test SFs while preserving the shape (the bucket count is a free knob).
DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


def q_dsir_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weight per document (Xie et al. 2023): features are
    hashed uni+bigram buckets; fit two bag-of-ngrams models — p from the
    TARGET slice (lang = en, the distribution to steer toward), q from the
    rest — and score each doc by sum over its features of
    ln p̂(b) − ln q̂(b) (add-one smoothed). High weight = looks like the
    target; production then resamples ∝ weight. This is the standard
    importance-resampling data-selection scorer for pretraining corpora.

    Integer micro-nat discipline (the lm_* pattern): each bucket's two
    -ln terms are floored to micro-nats ONCE per bucket, the per-doc score
    is an integer sum of their differences — order-independent and
    engine-exact. Shape: one token-stream scan builds the B-row bucket
    count table (persisted — 1024 rows, the tfidf pattern), a second scan
    joins the broadcast per-bucket weights and integer-sums per doc. At
    100 TB: two corpus scans, one B-row broadcast, one doc_id rollup —
    and the model-fitting scan can run on a sample (the paper's own
    practice) without touching the scoring pass."""
    from ..functions.hashing import portable_hash

    docs = load(spark, sf, "documents")
    # bigrams via zip_with against the shifted array: slice pads nothing,
    # zip_with pads with NULL, concat nulls out the dangling last slot and
    # the filter drops it — no sequence(1, 0) descending-range trap
    bigrams = (
        "filter(zip_with(toks, slice(toks, 2, greatest(size(toks) - 1, 0)),"
        " (a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)"
    )
    # pinned (r14): the hashed feature stream has TWO consumers (the model
    # count and the scoring join), and each re-ran tokenize + explode +
    # one md5 PER FEATURE — the dominant map cost. The cached rows are
    # three small integers/strings each (doc_id, lang, bucket), not the
    # feature strings, so this is the compact-aggregate case of guide §5,
    # not the ppjoin exploded-string case.
    feats = (
        docs.select("doc_id", "lang", F.expr(TOKENS).alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr(f"concat(toks, {bigrams})")).alias("feature"),
        )
        .select(
            "doc_id",
            "lang",
            (portable_hash(F.col("feature")) % F.lit(DSIR_BUCKETS)).alias("bucket"),
        )
        .transform(pinned)
    )
    counts = (
        feats.groupBy("bucket")
        .agg(
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("p_cnt"),
            F.sum(
                F.when(F.col("lang") != DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("q_cnt"),
        )
        .transform(pinned)
    )
    tot = counts.agg(F.sum("p_cnt").alias("p_tot"), F.sum("q_cnt").alias("q_tot"))

    def micro(cnt: str, total: str) -> str:
        return (
            f"cast(floor(-ln(cast({cnt} + 1 as double) / ({total} + {DSIR_BUCKETS}))"
            f" * 1000000 + 0.5) as bigint)"
        )

    bucket_w = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        # ln p̂ − ln q̂ == (−ln q̂) − (−ln p̂), each floored to micro-nats
        (F.expr(micro("q_cnt", "q_tot")) - F.expr(micro("p_cnt", "p_tot"))).alias(
            "w_micro"
        ),
    )
    return (
        feats.join(F.broadcast(bucket_w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_features"),
            F.sum("w_micro").alias("dsir_micronats"),
        )
    )


#: reciprocal-rank-fusion constant (the standard k=60 from Cormack et al.).
RRF_K = 60


def q_retrieval_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: fuse a BM25 ranking and a length-normalized TF-IDF
    ranking of the same fixed query via reciprocal-rank fusion,
    rrf = 1/(K+r_bm25) + 1/(K+r_tfidf), K=60.

    Both rankers ride ONE postings build (the bm25_topk single-pass shape:
    explode + groupBy(doc_id) yields doclen and per-term tf together; df/N/
    avgdl ride the broadcast corpus row), so fusion costs no extra corpus
    scan. Ranks are row_numbers over (rounded score desc, doc_id) — fully
    deterministic in both engines. The two global rank windows run over the
    CANDIDATE set only (docs hitting >=1 query term — |query| posting lists,
    not the corpus), which is the standard top-k fusion working set; at
    100 TB the candidate set is still bounded by the query's posting lists,
    and a per-shard pre-top-N cut would precede the global window."""
    docs = load(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode_outer(F.expr(TOKENS)).alias("token"))
    doc_stats = tok.groupBy("doc_id").agg(
        F.count("token").alias("doclen"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    corpus = doc_stats.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    stack_expr = "stack({n}, {args}) AS (term, tf)".format(
        n=len(BM25_TERMS),
        args=", ".join(f"'{t}', tf_{i}" for i, t in enumerate(BM25_TERMS)),
    )
    postings = doc_stats.selectExpr("doc_id", "doclen", stack_expr).where(F.col("tf") > 0)
    df_expr = F.lit(None).cast("bigint")
    for i, t in enumerate(BM25_TERMS):
        df_expr = F.when(F.col("term") == t, F.col(f"df_{i}")).otherwise(df_expr)
    scored = (
        postings.crossJoin(F.broadcast(corpus))
        .withColumn("df", df_expr)
        .withColumn(
            "bm25_term",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("doclen") / (F.col("total_len") / F.col("n_docs")))
            ),
        )
        .withColumn(
            "tfidf_term",
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.sum("bm25_term"), 4).alias("bm25"),
        F.round(F.sum("tfidf_term") / F.min("doclen"), 6).alias("tfidf"),
    )
    w_bm25 = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    w_tfidf = Window.orderBy(F.col("tfidf").desc(), F.col("doc_id").asc())
    fused = per_doc.select(
        "doc_id",
        "bm25",
        "tfidf",
        F.row_number().over(w_bm25).alias("r_bm25"),
        F.row_number().over(w_tfidf).alias("r_tfidf"),
    ).select(
        "doc_id",
        "r_bm25",
        "r_tfidf",
        F.round(
            1.0 / (RRF_K + F.col("r_bm25")) + 1.0 / (RRF_K + F.col("r_tfidf")), 6
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc()).limit(20)


def q_corpus_divergence_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language unigram KL divergence from the whole-corpus distribution
    — the 'how far does this slice drift from the mixture' signal used for
    corpus balancing and domain-shift detection.

    KL(P_lang || P_corpus) = sum_t p_l(t) * ln(p_l(t)/p_c(t)), reported in
    integer micro-nats exactly like lm_unigram_surprisal: the per-type log
    term is floored to micro-nats FIRST, then weighted by integer counts and
    integer-summed, so the result is order-independent and engine-exact
    (P_lang's support is a subset of the corpus support, so no smoothing is
    needed).

    Shape: one token-keyed shuffle builds the (lang, token) counts, which
    are PERSISTED (the tfidf pattern — self-derived branches get no
    ReusedExchange, so without the persist the vocab / language-total /
    corpus-total branches each re-scanned the corpus: measured 4 scans);
    everything downstream aggregates or broadcasts off that |vocab|-sized
    cache. At 100 TB the only heavy exchange is the (lang, token)
    partial-count shuffle — map-side combine makes it proportional to the
    vocabulary, not the token stream."""
    docs = load(spark, sf, "documents")
    tok = docs.select("lang", F.explode(F.expr(TOKENS)).alias("token"))
    lt = tok.groupBy("lang", "token").agg(F.count("*").alias("cnt_lt")).transform(pinned)
    vocab = lt.groupBy("token").agg(F.sum("cnt_lt").alias("cnt_t"))
    langtot = lt.groupBy("lang").agg(
        F.sum("cnt_lt").alias("n_l"), F.count("*").alias("n_types")
    )
    tot = vocab.groupBy().agg(F.sum("cnt_t").alias("n"))
    ratio = (F.col("cnt_lt").cast("double") * F.col("n").cast("double")) / (
        F.col("n_l").cast("double") * F.col("cnt_t").cast("double")
    )
    joined = (
        lt.join(vocab, "token")
        .join(F.broadcast(langtot), "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "micro", F.floor(F.log(ratio) * 1000000 + 0.5).cast("bigint")
        )
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.min("n_l").alias("n_tokens"),
            F.min("n_types").alias("n_token_types"),
            F.floor(
                F.sum(F.col("cnt_lt") * F.col("micro")).cast("double") / F.min("n_l") + 0.5
            )
            .cast("bigint")
            .alias("kl_micronats"),
        )
        .select("lang", "n_tokens", "n_token_types", "kl_micronats")
    )


#: Gopher rule constants (Rae et al. 2021, "Scaling Language Models",
#: Appendix A quality heuristics) — published bounds, applied verbatim.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2
#: required-stopword lexicon. The paper's own list is ("the, be, to, of,
#: and, that, have, with"); the rule is parameterized by the corpus lexicon
#: (FineWeb/Dolma swap it per language), and the synthetic fixture corpus
#: contains only "the" from the paper's list — which would make the
#: conjunction vacuously all-false — so this uses the module's established
#: STOPWORDS lexicon, under which the gate actually discriminates.
GOPHER_STOPS = STOPWORDS
_GSTOPS = ", ".join(f"'{w}'" for w in GOPHER_STOPS)


def _gopher_rule_cols() -> tuple:
    """The Gopher rule columns over materialized ``tokens`` + ``text`` —
    the EXACT expressions `gopher_flags` projects, factored out so the
    fused corpus datacard shares them (they can never drift):
    (n_words, mean_len, n_stop_types, ok_words, ok_mean, ok_symbol,
    ok_alpha, ok_stops)."""
    n_words = F.size("tokens")
    sum_len = F.expr("aggregate(transform(tokens, x -> length(x)), 0, (a, x) -> a + x)")
    mean_len = F.try_divide(sum_len, n_words)
    # occurrence counts via length-delta: stays in codegen, no regex engine
    n_hash = F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))
    n_ellipsis = (
        F.length("text") - F.length(F.expr("replace(text, '...', '')"))
    ) / F.lit(3)
    n_alpha = F.expr("size(filter(tokens, x -> x rlike '[a-zA-Z]'))")
    n_stop_types = F.size(
        F.array_intersect(
            F.array_distinct("tokens"),
            F.array(*[F.lit(w) for w in GOPHER_STOPS]),
        )
    )
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mean = (mean_len >= GOPHER_MIN_MEAN_LEN) & (mean_len <= GOPHER_MAX_MEAN_LEN)
    ok_symbol = F.try_divide(n_hash + n_ellipsis, n_words) <= GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = F.try_divide(n_alpha, n_words) >= GOPHER_MIN_ALPHA_FRAC
    ok_stops = n_stop_types >= GOPHER_MIN_STOP_HITS
    return (
        n_words, mean_len, n_stop_types,
        ok_words, ok_mean, ok_symbol, ok_alpha, ok_stops,
    )


def gopher_pass_col() -> F.Column:
    """The `passes_gopher` conjunction over materialized ``tokens`` +
    ``text`` columns (see `_gopher_rule_cols`)."""
    _, _, _, ok_words, ok_mean, ok_symbol, ok_alpha, ok_stops = _gopher_rule_cols()
    return ok_words & ok_mean & ok_symbol & ok_alpha & ok_stops


def gopher_flags(
    docs: DataFrame,
    keep: tuple[str, ...] = (),
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The Gopher rule bundle over ANY (doc_id, text) frame — shared by the
    batch query and the streaming curation gate (a frame-level map so the
    stream applies bit-identical rules per micro-batch).

    ``keep`` appends pass-through columns (e.g. the text itself) so a
    caller that needs flags NEXT TO the original columns gets them from
    this single projection instead of joining the flags frame back to its
    own input on doc_id — the verdict stays a pure map, no shuffle.
    id_col/text_col rename a user frame's columns into the rule bundle."""
    if id_col != "doc_id" or text_col != "text":
        docs = docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"), *keep
        )
    docs = docs.withColumn("tokens", F.expr(TOKENS))
    (
        n_words,
        mean_len,
        n_stop_types,
        ok_words,
        ok_mean,
        ok_symbol,
        ok_alpha,
        ok_stops,
    ) = _gopher_rule_cols()
    return docs.select(
        "doc_id",
        *keep,
        n_words.alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        n_stop_types.alias("n_stop_types"),
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stops.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_symbol & ok_alpha & ok_stops).alias("passes_gopher"),
    )


def q_quality_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher quality-rule bundle (Rae et al. 2021, Appendix A): per-doc
    boolean verdicts for each published heuristic plus the conjunction —
    the standard pre-training web-corpus gate (also the core of the
    FineWeb / Dolma rule sets).

    Rules: word count in [50, 100000]; mean word length in [3, 10];
    '#'/'...'-to-word symbol ratio <= 0.1; >= 80% of words contain an
    alphabetic character; >= 2 distinct hits from the paper's stop-word
    list. (The paper's line-level bullet/ellipsis rules need line structure
    the `documents` fixture doesn't have; the symbol-ratio rule covers the
    same ellipsis signal at whole-doc granularity.)

    Scale shape: pure map-side — one scan, one codegen stage, no shuffle,
    no UDF; every rule is an array/higher-order expression over the same
    tokenization the rest of the text stack uses. At 100 TB this is the
    cheapest possible gate: it runs at scan speed and feeds the curation
    semi-join without ever exchanging the text."""
    return gopher_flags(load(spark, sf, "documents"))


_GOPHER_ORACLE = f"""
    WITH tok AS (SELECT doc_id, text, {TOKENS_DUCK} AS tokens FROM documents),
    feat AS (
        SELECT doc_id,
               len(tokens) AS n_words,
               list_sum(list_transform(tokens, x -> length(x)))::DOUBLE
                   / len(tokens) AS mean_len,
               (length(text) - length(replace(text, '#', ''))
                + (length(text) - length(replace(text, '...', ''))) / 3.0)
                   / len(tokens) AS symbol_ratio,
               len(list_filter(tokens, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                   / len(tokens) AS alpha_frac,
               len(list_intersect(list_distinct(tokens), [{_GSTOPS}])) AS n_stop_types
        FROM tok
    )
    SELECT doc_id, n_words,
           round(mean_len, 4) AS mean_word_len,
           n_stop_types,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
               AS ok_word_count,
           (mean_len >= {GOPHER_MIN_MEAN_LEN} AND mean_len <= {GOPHER_MAX_MEAN_LEN})
               AS ok_mean_word_len,
           (symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbol_ratio,
           (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS ok_alpha_words,
           (n_stop_types >= {GOPHER_MIN_STOP_HITS}) AS ok_stopwords,
           ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
            AND (mean_len >= {GOPHER_MIN_MEAN_LEN} AND mean_len <= {GOPHER_MAX_MEAN_LEN})
            AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
            AND n_stop_types >= {GOPHER_MIN_STOP_HITS}) AS passes_gopher
    FROM feat
"""


#: CCNet bucket cutoffs are computed at milli-nat granularity: the cutoff
#: histogram then has at most (max-surprisal-in-nats * 1000) rows — bounded
#: by the value range, NOT the corpus — so the cumulative window never
#: touches a corpus-sized frame. CCNet's own thresholds are far coarser,
#: but the fixtures' surprisals cluster within ~0.05 nats, so centi-nat
#: bins would collapse the middle tercile.
CCNET_QUANT = 1_000  # micro-nats per milli-nat


def q_ccnet_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020): split the
    corpus into head / middle / tail terciles by language-model surprisal —
    the standard quality stratification for web pretraining data (head =
    most fluent third under the LM, tail = least).

    Scores are the integer micro-nat unigram surprisals of
    q_lm_unigram_surprisal. Tercile cutoffs are exact on the MILLI-NAT
    quantized score: cut1 = min quantized score whose cumulative doc count
    reaches n/3 (3*cum >= n in exact integers), cut2 likewise at 2n/3 —
    fully deterministic, no float percentile interpolation.

    Scale shape: the surprisal machinery's two scans + one bounded
    groupBy(quantized score); the cumulative window rides over the
    value-bounded histogram (~thousands of rows, the PSI/dense-grid
    pattern); the two cutoffs broadcast back as one row and the bucket
    label is a map-side CASE."""
    sc = q_lm_unigram_surprisal(spark, sf).select(
        "doc_id",
        F.col("avg_surprisal_micronats").alias("s"),
        F.expr(f"avg_surprisal_micronats div {CCNET_QUANT}").alias("sq"),
    )
    hist = sc.groupBy("sq").agg(F.count("*").alias("c"))
    w = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    n = sc.groupBy().agg(F.count("*").alias("n"))
    cuts = cum.crossJoin(F.broadcast(n)).agg(
        F.min(F.when(3 * F.col("cum") >= F.col("n"), F.col("sq"))).alias("cut1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("sq"))).alias("cut2"),
    )
    return sc.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        F.col("s").alias("avg_surprisal_micronats"),
        F.when(F.col("sq") <= F.col("cut1"), F.lit("head"))
        .when(F.col("sq") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


#: the unigram-surprisal per-doc score CTE chain, shared by the CCNet oracle
_SURPRISAL_CTES = f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
    ), vocab AS (
        SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), tots AS (
        SELECT sum(cnt)::BIGINT AS n_total, count(*)::BIGINT AS v FROM vocab
    ), scored AS (
        SELECT t.doc_id,
               floor(-ln((vc.cnt + 1)::DOUBLE / (tots.n_total + tots.v))
                     * 1000000 + 0.5)::BIGINT AS micro
        FROM tok t JOIN vocab vc USING (token) CROSS JOIN tots
    ), perdoc AS (
        SELECT doc_id,
               floor(sum(micro)::DOUBLE / count(*) + 0.5)::BIGINT AS s
        FROM scored GROUP BY doc_id
    )
"""

_CCNET_ORACLE = (
    _SURPRISAL_CTES
    + f""",
    q AS (SELECT doc_id, s, s // {CCNET_QUANT} AS sq FROM perdoc),
    hist AS (SELECT sq, count(*) AS c FROM q GROUP BY sq),
    cum AS (SELECT sq, sum(c) OVER (ORDER BY sq) AS cum FROM hist),
    nn AS (SELECT count(*) AS n FROM q),
    cuts AS (
        SELECT min(CASE WHEN 3 * cum >= n THEN sq END) AS cut1,
               min(CASE WHEN 3 * cum >= 2 * n THEN sq END) AS cut2
        FROM cum CROSS JOIN nn
    )
    SELECT doc_id, s AS avg_surprisal_micronats,
           CASE WHEN sq <= cut1 THEN 'head'
                WHEN sq <= cut2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM q CROSS JOIN cuts
"""
)


#: Gumbel-top-k resample size + the salt making the "noise" independent of
#: every other hash decision in the repo
DSIR_RESAMPLE_K = 100
DSIR_GUMBEL_SALT = "dsir-gumbel-r7"


def q_dsir_resample_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The resampling half of DSIR (Xie et al. 2023 §2.3): draw K docs
    ∝ exp(importance weight) via the Gumbel-top-k trick — key = log-weight
    + Gumbel noise, take the K largest keys. The "noise" is deterministic:
    u = (salted-hash(doc_id) mod 1e6 + 0.5) / 1e6 gives an exact-decimal
    uniform, g = -ln(-ln(u)) is computed on that identical double in both
    engines and floored ONCE to micro-nats, so key = dsir_micronats +
    g_micro is pure integer arithmetic and the draw is reproducible
    run-to-run and engine-to-engine (no RNG anywhere — the repo's salted
    hash discipline).

    Scale shape: the DSIR scorer's two scans + a map-side key computation
    and ONE TakeOrderedAndProject — no global sort, no extra shuffle."""
    from ..functions.hashing import portable_hash

    scored = q_dsir_importance_weights(spark, sf)
    u = (
        portable_hash(
            F.concat(F.col("doc_id").cast("string"), F.lit(DSIR_GUMBEL_SALT))
        )
        % 1000000
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    g_micro = F.floor(-F.log(-F.log(u)) * 1000000 + 0.5).cast("bigint")
    return (
        scored.select(
            "doc_id",
            "dsir_micronats",
            g_micro.alias("gumbel_micronats"),
            (F.col("dsir_micronats") + g_micro).alias("key_micronats"),
        )
        .orderBy(F.col("key_micronats").desc(), F.col("doc_id").asc())
        .limit(DSIR_RESAMPLE_K)
    )


def _dsir_resample_oracle() -> str:
    from ..functions.hashing import portable_hash_sql_duckdb

    h = portable_hash_sql_duckdb(f"doc_id::VARCHAR || '{DSIR_GUMBEL_SALT}'")
    base = _dsir_oracle()
    return f"""
        WITH w AS ({base}),
        keyed AS (
            SELECT doc_id, dsir_micronats,
                   floor(-ln(-ln((({h} % 1000000) + 0.5) / 1000000.0))
                         * 1000000 + 0.5)::BIGINT AS gumbel_micronats
            FROM w
        )
        SELECT doc_id, dsir_micronats, gumbel_micronats,
               (dsir_micronats + gumbel_micronats)::BIGINT AS key_micronats
        FROM keyed
        ORDER BY key_micronats DESC, doc_id ASC
        LIMIT {DSIR_RESAMPLE_K}
    """


#: novelty shingle width (the dedup modules' 3-token shingling)
NOVELTY_SHINGLE_W = 3


def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-token shingles that appear in NO other document — the inverse of the
    boilerplate/memorization signal (low novelty = the doc is assembled
    from corpus-common n-grams; high = mostly unique text). Used to rank
    docs for dedup triage and to estimate memorization risk before
    training.

    Scale shape: the decontamination/minhash shape — distinct
    (doc, shingle) pairs shuffle ONCE on the shingle for document
    frequencies, rejoin on the same key, then a doc_id rollup; short docs
    (< {NOVELTY_SHINGLE_W} tokens) have zero shingles and surface with
    NULL ratio via try_divide, never a crash."""
    docs = load(spark, sf, "documents")
    # guard: sequence(1, 0) is a DESCENDING range in Spark (the dsir
    # comment's trap), so short docs take the empty-array branch
    shingle_arr = (
        "CASE WHEN size(tokens) >= 3 THEN"
        " array_distinct(transform(sequence(1, size(tokens) - 2),"
        " i -> concat_ws(' ', tokens[i-1], tokens[i], tokens[i+1])))"
        " ELSE array() END"
    )
    sh = (
        docs.select("doc_id", F.expr(TOKENS).alias("tokens"))
        .select("doc_id", F.explode(F.expr(shingle_arr)).alias("s"))
    ).transform(pinned)  # feeds the df count and the rejoin: one tokenize pass
    sdf = sh.groupBy("s").agg(F.count("*").alias("df"))
    per = (
        sh.join(sdf, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(F.try_divide(F.col("n_novel"), F.col("n_shingles")), 4).alias(
                "novelty_ratio"
            ),
        )
    )


_NOVELTY_ORACLE = f"""
    WITH tok AS (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents),
    sh AS (
        SELECT doc_id, unnest(
            list_distinct(list_transform(
                generate_series(1, len(tokens) - 2),
                i -> concat_ws(' ', tokens[i], tokens[i + 1], tokens[i + 2])))
        ) AS s
        FROM tok
    ),
    sdf AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
    per AS (
        SELECT doc_id, count(*)::BIGINT AS n_shingles,
               sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
        FROM sh JOIN sdf USING (s) GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(per.n_shingles, 0) AS n_shingles,
           coalesce(per.n_novel, 0) AS n_novel,
           round(coalesce(per.n_novel, 0)::DOUBLE / per.n_shingles, 4)
               AS novelty_ratio
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


#: PMI support floor: a pair must co-occur in >= this many docs to be scored
PMI_MIN_PAIR_DF = 5
#: PMI result size
PMI_TOP_K = 50


def q_pmi_top_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level pointwise mutual information for within-document word
    pairs (Church & Hanks 1990): PMI(x,y) = ln(N * df_xy / (df_x * df_y))
    over document-frequency counts, top-{PMI_TOP_K} collocations by PMI.

    The integer micro-nat discipline keeps it engine-exact: the single ln
    is applied to a ratio of exact integers and floored once to micro-nats
    (floor(x*1e6 + 0.5)), so Spark and the oracle compute the identical
    double and the identical bigint.

    Scale shape: distinct (doc, word) pairs shuffle once on word for the
    df counts; the per-doc pair expansion is a doc_id-keyed self-join whose
    blowup is bounded by the per-doc DISTINCT vocabulary (|V_doc|^2/2, the
    standard co-occurrence cost — at web scale a df band [min_df, 0.5N]
    caps it further by dropping hapaxes and near-universal words before the
    join). The final groupBy is on the pair key; the top-K is a
    TakeOrderedAndProject, never a full sort."""
    docs = load(spark, sf, "documents")
    dw = (
        docs.select("doc_id", F.explode(F.array_distinct(F.expr(TOKENS))).alias("w"))
        .distinct()
    ).transform(pinned)  # feeds both the df counts and the pair self-join: one scan
    n_docs = docs.groupBy().agg(F.count("*").alias("n"))
    df = dw.groupBy("w").agg(F.count("*").alias("df"))
    pairs = (
        dw.alias("a")
        .join(dw.alias("b"), "doc_id")
        .where(F.col("a.w") < F.col("b.w"))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").alias("df_xy"))
        .where(F.col("df_xy") >= PMI_MIN_PAIR_DF)
    )
    ratio = (F.col("df_xy").cast("double") * F.col("n").cast("double")) / (
        F.col("df_x").cast("double") * F.col("df_y").cast("double")
    )
    return (
        pairs.join(df.select(F.col("w").alias("w1"), F.col("df").alias("df_x")), "w1")
        .join(df.select(F.col("w").alias("w2"), F.col("df").alias("df_y")), "w2")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi_micronats", F.floor(F.log(ratio) * 1000000 + 0.5).cast("bigint")
        )
        .select("w1", "w2", "df_xy", "df_x", "df_y", "pmi_micronats")
        .orderBy(
            F.col("pmi_micronats").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(PMI_TOP_K)
    )


_PMI_ORACLE = f"""
    WITH dw AS (
        SELECT DISTINCT doc_id, unnest(list_distinct({TOKENS_DUCK})) AS w
        FROM documents
    ), nn AS (SELECT count(*) AS n FROM documents),
    df AS (SELECT w, count(*) AS df FROM dw GROUP BY w),
    pairs AS (
        SELECT a.w AS w1, b.w AS w2, count(*) AS df_xy
        FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY a.w, b.w HAVING count(*) >= {PMI_MIN_PAIR_DF}
    )
    SELECT w1, w2, df_xy, dx.df AS df_x, dy.df AS df_y,
           floor(ln((df_xy::DOUBLE * n::DOUBLE) / (dx.df::DOUBLE * dy.df::DOUBLE))
                 * 1000000 + 0.5)::BIGINT AS pmi_micronats
    FROM pairs JOIN df dx ON dx.w = w1 JOIN df dy ON dy.w = w2 CROSS JOIN nn
    ORDER BY pmi_micronats DESC, w1 ASC, w2 ASC
    LIMIT {PMI_TOP_K}
"""


#: TextRank constants: content words = length >= 4 after lowercasing;
#: co-occurrence window 2 over the FILTERED token sequence; integer rank
#: mass in e-12 units (the graph_pagerank discipline)
TEXTRANK_MIN_LEN = 4
TEXTRANK_ITERS = 5
TEXTRANK_TOP_K = 50
TEXTRANK_SCALE = 10**12
_TR_TELE = 15 * TEXTRANK_SCALE // 100
_TR_DAMP = 85


def q_keyword_textrank(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus keyword extraction via TextRank (Mihalcea & Tarau 2004):
    weighted PageRank over the word co-occurrence graph (window 2 on the
    lowercased length>=4 token sequence), reporting the top 50 words — the
    unsupervised "what is this corpus about?" summary a curation pipeline
    attaches to each source/shard datacard.

    Determinism discipline: rank mass is integer e-12 units end-to-end
    (contribution = (r * w_uv) div W_u, damped sum = (85 * s) div 100 — the
    graph_pagerank discipline), so 5 iterations produce bit-identical
    integers on both engines; the DuckDB oracle unrolls the same rounds
    over the same pair construction.

    Scale shape: pair generation is map-side (per-doc array transforms —
    never a token-level self-join); the graph aggregates to |vocab-pair|
    edges; each iteration is ONE node-keyed equi-join + ONE map-side-
    combinable integer sum with `localCheckpoint` lineage truncation.
    Totals ride one-row broadcasts."""
    docs = load(spark, sf, "documents")
    ft = (
        f"filter(regexp_extract_all(lower(text), '{TOKEN_RE}', 0),"
        f" t -> length(t) >= {TEXTRANK_MIN_LEN})"
    )

    def pair_arr(k: int) -> str:
        a, b = "element_at(ft, i)", f"element_at(ft, i + {k})"
        return (
            f"case when size(ft) > {k} then transform(sequence(1, size(ft) - {k}),"
            f" i -> case when {a} < {b} then concat({a}, ' ', {b})"
            f" else concat({b}, ' ', {a}) end)"
            f" else cast(array() as array<string>) end"
        )

    pairs = (
        docs.select(F.expr(ft).alias("ft"))
        .select(
            F.explode(F.expr(f"concat({pair_arr(1)}, {pair_arr(2)})")).alias("pair")
        )
        .where(F.expr("split_part(pair, ' ', 1) != split_part(pair, ' ', 2)"))
    )
    pc = pairs.groupBy("pair").agg(F.count("*").alias("w"))
    und = pc.select(
        F.expr("split_part(pair, ' ', 1)").alias("u"),
        F.expr("split_part(pair, ' ', 2)").alias("v"),
        "w",
    )
    edges = und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint()
    wsum = edges.groupBy("u").agg(F.sum("w").alias("wu"))
    nn = wsum.groupBy().agg(F.count("*").alias("n"))
    base = (
        wsum.crossJoin(F.broadcast(nn))
        .select(
            F.col("u").alias("node"),
            "wu",
            F.expr(f"cast({_TR_TELE} as bigint) div n").alias("tele"),
            F.expr(f"cast({TEXTRANK_SCALE} as bigint) div n").alias("r0"),
        )
        .localCheckpoint()
    )
    # r15 (VERDICT r14 item 3, the pagerank restructure): the receiver's
    # static attributes (telev, wuv) ride the edge stream once, so each
    # round is ONE equi-join + ONE combine-friendly groupBy instead of two
    # joins — the inner `base x nbr` re-attach kept exactly the nodes
    # receiving >= 1 contribution, which is exactly the groupBy key set on
    # the symmetrized graph; integer arithmetic untouched.
    edges_r = edges.join(
        base.select(
            F.col("node").alias("v"),
            F.col("wu").alias("wuv"),
            F.col("tele").alias("telev"),
        ),
        "v",
    ).localCheckpoint()
    ranks = base.select("node", F.col("r0").alias("r"), "wu")
    for _ in range(TEXTRANK_ITERS):
        contrib = edges_r.join(ranks, edges_r["u"] == ranks["node"]).select(
            "v", "wuv", "telev", F.expr("(r * w) div wu").alias("c")
        )
        ranks = (
            contrib.groupBy("v", "wuv", "telev")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("v").alias("node"),
                F.expr(f"telev + ({_TR_DAMP} * s) div 100").alias("r"),
                F.col("wuv").alias("wu"),
            )
            .localCheckpoint()
        )
    return (
        ranks.select(F.col("node").alias("keyword"), F.col("r").alias("textrank_e12"))
        .orderBy(F.col("textrank_e12").desc(), "keyword")
        .limit(TEXTRANK_TOP_K)
    )



#: winnowing parameters (Schleimer et al. 2003: k-gram size, window size);
#: positions are packed into the low bits of the selection key, so docs are
#: bounded at 2^20 k-grams (far above any fixture/corpus doc here) — the
#: bound is ENFORCED with a loud raise_error/error() guard in both engines
WINNOW_K = 3
WINNOW_W = 4
_WIN_POS_BITS = 20
_WIN_HASH_MOD = 1 << 40


def q_winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprint census (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): per document, hash every token 3-gram, slide a
    4-wide window over the hash sequence, and select each window's minimum
    (rightmost on ties); the distinct selected (position, hash) set is the
    document's fingerprint sketch, with the guarantee that any shared run
    of >= k+w-1 tokens yields at least one shared fingerprint — the
    local-dedup primitive between whole-doc hashing and MinHash.

    Determinism discipline: the textbook rightmost-min tie-break becomes a
    single integer window-min by packing (hash, position) into one key —
    key = (h % 2^40) * 2^20 + (2^20 - 1 - pos) — so smaller hash wins and,
    on equal hashes, LARGER position wins; both engines take min() over
    the identical bigint. The report is per-doc integers only (count, min,
    bit_xor of selected hashes — order-free).

    Scale shape: k-gram expansion is map-side (per-doc array transform +
    posexplode); the only shuffle is the doc-keyed window + final groupBy,
    both on doc_id — embarrassingly parallel across documents."""
    docs = load(spark, sf, "documents")
    kg = (
        f"transform(sequence(1, size(tk) - {WINNOW_K - 1}),"
        f" i -> concat_ws(' ', slice(tk, i, {WINNOW_K})))"
    )
    base = (
        docs.select("doc_id", F.expr(TOKENS).alias("tk"))
        .where(F.size("tk") >= WINNOW_K + WINNOW_W - 1)
        .select("doc_id", F.posexplode(F.expr(kg)).alias("pos0", "kgram"))
    )
    # The packed key reserves only _WIN_POS_BITS bits for the position: a
    # doc with >= 2^20 k-grams would silently wrap its position into the
    # hash field, so oversized docs FAIL LOUDLY instead (mirrored in the
    # oracle with DuckDB error()).
    guarded_pos = F.expr(
        f"CASE WHEN pos0 + 1 < {1 << _WIN_POS_BITS} THEN pos0 + 1 "
        f"ELSE raise_error('winnowing: document exceeds "
        f"2^{_WIN_POS_BITS}-1 k-grams; position would corrupt the packed "
        f"selection key') END"
    )
    hashed = base.select(
        "doc_id",
        guarded_pos.cast("int").alias("pos"),
        (portable_hash(F.col("kgram")) % _WIN_HASH_MOD).alias("h"),
    )
    key = F.col("h") * (1 << _WIN_POS_BITS) + (
        F.lit((1 << _WIN_POS_BITS) - 1) - F.col("pos")
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    sel = (
        hashed.select(
            "doc_id", "pos", F.min(key).over(wf).alias("minkey")
        )
        .where(F.col("pos") >= WINNOW_W)
        .select(
            "doc_id",
            (F.lit((1 << _WIN_POS_BITS) - 1) - F.col("minkey") % (1 << _WIN_POS_BITS)).alias("sel_pos"),
            F.expr(f"minkey div {1 << _WIN_POS_BITS}").alias("sel_h"),
        )
        .distinct()
    )
    counts = hashed.groupBy("doc_id").agg(F.count("*").alias("n_kgrams"))
    return (
        sel.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.min("sel_h").alias("fp_min"),
            F.expr("bit_xor(sel_h)").alias("fp_xor"),
        )
        .join(counts, "doc_id")
        .select("doc_id", "n_kgrams", "n_fingerprints", "fp_min", "fp_xor")
    )



#: NDCG@10 rank discounts floor(1e6/log2(rank+1)+0.5), precomputed in
#: Python and shipped to both engines as an integer table (log2 is not a
#: correctly-rounded IEEE op — the _aa_weights argument)
NDCG_K = 10


def _ndcg_discounts() -> list[tuple[int, int]]:
    import math

    return [
        (i, int(math.floor(1_000_000 / math.log2(i + 1) + 0.5)))
        for i in range(1, NDCG_K + 1)
    ]


#: graded relevance: total query-term occurrences >= these cut at grade 1/2/3
NDCG_GRADE_CUTS = (1, 3, 9)


def q_retrieval_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking against a deterministic graded-relevance
    standard (relevance 1/2/3 at >= 1/3/9 total query-term occurrences) —
    the IR evaluation loop closed engine-side: retrieval (bm25_topk), a
    relevance judgment pass, and the normalized discounted cumulative gain
    in one hash-verified number.

    Determinism discipline: gains are the integer 2^rel - 1 (CASE, no
    pow()); rank discounts come from the precomputed _ndcg_discounts()
    integer table (no engine-side log2); DCG and ideal-DCG are integer
    sums, and only the final ratio ships as floor-micro units.

    Scale shape: reuses bm25_topk's single-pass postings (already a
    broadcast-scalar plan); the judgment pass is one term-filtered count
    per doc; the ideal ranking is a TakeOrdered top-10 of the (rel,
    doc_id) frame — never a global sort of the corpus."""
    retrieved = q_bm25_topk(spark, sf)
    wr = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    top = (
        retrieved.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= NDCG_K)
        .select("doc_id", "rank")
    )
    docs = load(spark, sf, "documents")
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    hits = (
        docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
        .where(F.expr(f"token IN ({terms})"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("tot"))
    )
    c1, c2, c3 = NDCG_GRADE_CUTS
    rel_col = (
        F.when(F.col("tot") >= c3, 3)
        .when(F.col("tot") >= c2, 2)
        .when(F.col("tot") >= c1, 1)
        .otherwise(0)
    )
    rel = hits.select("doc_id", rel_col.alias("rel")).where(F.col("rel") > 0)
    disc = spark.createDataFrame(_ndcg_discounts(), "rank int, disc bigint")
    gain = F.expr("cast(case rel when 3 then 7 when 2 then 3 when 1 then 1 else 0 end as bigint)")
    dcg = (
        top.join(rel, "doc_id", "left")
        .select(F.coalesce("rel", F.lit(0)).alias("rel"), "rank")
        .join(F.broadcast(disc), "rank")
        .select((gain * F.col("disc")).alias("g"))
        .groupBy()
        .agg(F.sum("g").alias("dcg_scaled"))
    )
    wi = Window.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    ideal = (
        rel.withColumn("rank", F.row_number().over(wi))
        .where(F.col("rank") <= NDCG_K)
        .join(F.broadcast(disc), "rank")
        .select((gain * F.col("disc")).alias("g"))
        .groupBy()
        .agg(F.sum("g").alias("idcg_scaled"))
    )
    n_rel = rel.groupBy().agg(F.count("*").alias("n_rel_corpus"))
    return (
        dcg.crossJoin(ideal)
        .crossJoin(n_rel)
        .select(
            "n_rel_corpus",
            "dcg_scaled",
            "idcg_scaled",
            F.when(
                F.col("idcg_scaled") > 0,
                F.floor(
                    F.col("dcg_scaled").cast("double")
                    / F.col("idcg_scaled")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ).cast("bigint"),
            ).alias("ndcg_micro"),
        )
    )



def q_quality_language_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Confusion matrix of the stopword-lexicon language ID against the
    labeled lang column: per (labeled, predicted) cell counts plus the
    per-label recall — the evaluation that tells a pipeline WHERE its
    cheap lang gate misroutes documents (precision/recall per language
    fall straight out of the cells).

    Pure integers except recall, which ships as floor-micro of two exact
    counts. One pass over the classifier's own output (q_lang_id_heuristic
    — the oracle embeds that query's SQL verbatim, so classifier and
    evaluation stay in lockstep by construction), one groupBy, one
    label-keyed window for the row totals."""
    pred = q_lang_id_heuristic(spark, sf).select("labeled_lang", "predicted_lang")
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    wl = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.sum("n_docs").over(wl).alias("n_labeled_total"),
        F.when(
            F.col("labeled_lang") == F.col("predicted_lang"),
            F.floor(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(wl)
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("recall_micro"),
    )



#: Kneser-Ney: discount D = 3/4 as an exact rational; report the top
#: KN_TOP_W continuations for the KN_TOP_CTX most frequent contexts.
KN_D_NUM = 3
KN_D_DEN = 4
KN_TOP_CTX = 20
KN_TOP_W = 5
#: guard: 3 * nd^2 * 2e6 must stay under 2^63 (see docstring), so the
#: micro computation nulls out past this distinct-pair count instead of
#: silently overflowing (the ACF guard discipline, ADVICE r7)
KN_ND_GUARD = 1_200_000


def q_lm_kneser_ney_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1998 eq. 4.24) — the smoothing that made count-based
    LMs competitive, and a sharper data-quality signal than add-one: the
    continuation weight ranks a word by how many DISTINCT contexts it
    follows, so boilerplate that repeats one bigram a million times gains
    no continuation mass.

        p_KN(w2|w1) = (c(w1w2) - D)/c(w1)
                      + D * N1+(w1.)/c(w1) * N1+(.w2)/N1+(..)

    Exact-integer discipline: with D = 3/4 the probability is the single
    rational  num/den = ((4c - 3)*nd + 3*n1f*n1b) / (4*c_ctx*nd)  over
    exact counts (observed pairs have c >= 1, so the max(c-D, 0) clamp
    never binds), and kn_micro = floor(1e6*num/den + 0.5) is computed as
    the all-integer (2e6*num + den) div (2*den) — no doubles anywhere,
    both engines bit-equal by construction. Overflow guard: the cross
    term 3*n1f*n1b*2e6 <= 3*nd^2*2e6 needs nd <= ~1.2e6 for int64;
    beyond KN_ND_GUARD distinct pairs kn_micro is NULL (loud), not wrong.

    Output: for the KN_TOP_CTX most frequent contexts, the KN_TOP_W
    highest-probability OBSERVED continuations (unseen continuations
    carry only backoff mass and are a defined non-goal of the report).

    Scale shape: one corpus-sized shuffle (the pair count), persisted for
    its four consumers (context totals+fanout, continuation counts,
    distinct-pair total, scoring join); every window runs over the
    aggregated pair/context tables (vocab-sized, never corpus rows); the
    model-side joins broadcast at fixture scale and degrade to AQE
    shuffle joins past broadcast size."""
    docs = load(spark, sf, "documents")
    toks = docs.select(F.expr(TOKENS).alias("toks"))
    bg = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i+1]))"
            )
        ).alias("pair")
    )
    pair_cnt = bg.groupBy("pair").agg(F.count("*").alias("c_pair")).transform(pinned)
    split1 = F.expr("split_part(pair, ' ', 1)")
    split2 = F.expr("split_part(pair, ' ', 2)")
    ctx = (
        pair_cnt.select(split1.alias("w1"), "c_pair")
        .groupBy("w1")
        .agg(F.sum("c_pair").alias("c_ctx"), F.count("*").alias("n1f"))
    )
    bwd = (
        pair_cnt.select(split2.alias("w2"))
        .groupBy("w2")
        .agg(F.count("*").alias("n1b"))
    )
    nd = pair_cnt.agg(F.count("*").alias("nd"))
    w_ctx = Window.orderBy(F.col("c_ctx").desc(), F.col("w1").asc())
    top_ctx = (
        ctx.withColumn("ctx_rank", F.row_number().over(w_ctx))
        .where(F.col("ctx_rank") <= KN_TOP_CTX)
        .drop("ctx_rank")
    )
    scored = (
        pair_cnt.withColumn("w1", split1)
        .withColumn("w2", split2)
        .join(F.broadcast(top_ctx), "w1")
        .join(F.broadcast(bwd), "w2")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "kn_micro",
            F.expr(
                f"case when nd <= {KN_ND_GUARD} then"
                f" (2000000 * (({KN_D_DEN} * c_pair - {KN_D_NUM}) * nd"
                f"             + {KN_D_NUM} * n1f * n1b)"
                f"  + {KN_D_DEN} * c_ctx * nd)"
                f" div (2 * {KN_D_DEN} * c_ctx * nd) end"
            ),
        )
    )
    w_fin = Window.partitionBy("w1").orderBy(
        F.col("kn_micro").desc(), F.col("w2").asc()
    )
    return (
        scored.withColumn("kn_rank", F.row_number().over(w_fin))
        .where(F.col("kn_rank") <= KN_TOP_W)
        .select("w1", "w2", "kn_rank", "c_pair", "c_ctx", "kn_micro")
    )


def q_lm_kneser_ney_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document cross-entropy under the interpolated Kneser-Ney bigram
    model of `lm_kneser_ney_bigram` — the strongest count-based fluency
    scorer in the suite (Chen & Goodman 1998 showed KN dominates add-one
    everywhere): documents whose transitions carry little continuation
    mass score high even when their raw bigrams are frequent boilerplate.

    Determinism: each bigram's probability is the exact integer rational
    num/den (D = 3/4, see lm_kneser_ney_bigram); both engines cast the
    SAME two bigints to double and take -ln of the SAME quotient, floored
    once to integer micro-nats BEFORE the per-doc sum (the surprisal
    discipline) — order-independent and engine-exact. Every scored bigram
    is in the model by construction (self-scoring corpus), so the model
    join never misses. The nd <= KN_ND_GUARD overflow guard nulls the
    score loudly past int64 headroom.

    Scale shape: one corpus-sized pair-count shuffle, PERSISTED for its
    four consumers (context stats, continuation counts, distinct total,
    scoring join — the aggregated-frame case where the tfidf persist
    pattern pays, unlike ppjoin's exploded stream); model joins broadcast
    at fixture scale; one doc_id rollup."""
    docs = load(spark, sf, "documents")
    # pinned (r14): the bigram stream `bg` feeds more than one consumer
    # downstream and each re-ran the corpus tokenize; caching the narrow
    # per-doc token arrays tokenizes once (guide §5 — cache the narrow
    # per-doc frame, not the exploded stream itself)
    toks = docs.select("doc_id", F.expr(TOKENS).alias("toks")).transform(pinned)
    bg = toks.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i+1]))"
            )
        ).alias("pair"),
    )
    pair_cnt = bg.groupBy("pair").agg(F.count("*").alias("c_pair")).transform(pinned)
    split1 = F.expr("split_part(pair, ' ', 1)")
    split2 = F.expr("split_part(pair, ' ', 2)")
    ctx = (
        pair_cnt.select(split1.alias("w1"), "c_pair")
        .groupBy("w1")
        .agg(F.sum("c_pair").alias("c_ctx"), F.count("*").alias("n1f"))
    )
    bwd = (
        pair_cnt.select(split2.alias("w2"))
        .groupBy("w2")
        .agg(F.count("*").alias("n1b"))
    )
    nd = pair_cnt.agg(F.count("*").alias("nd"))
    micro = F.expr(
        f"case when nd <= {KN_ND_GUARD} then"
        f" cast(floor(-ln("
        f"   cast(({KN_D_DEN} * c_pair - {KN_D_NUM}) * nd"
        f"        + {KN_D_NUM} * n1f * n1b as double)"
        f"   / cast({KN_D_DEN} * c_ctx * nd as double)"
        f" ) * 1000000 + 0.5) as bigint) end"
    )
    scored = (
        bg.join(F.broadcast(pair_cnt), "pair")
        .withColumn("w1", split1)
        .withColumn("w2", split2)
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(bwd), "w2")
        .crossJoin(F.broadcast(nd))
        .select("doc_id", micro.alias("micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("micro").alias("kn_xent_micro"))
        .select(
            "doc_id",
            "n_bigrams",
            "kn_xent_micro",
            F.expr(
                "case when kn_xent_micro is not null then"
                " (2 * kn_xent_micro + n_bigrams) div (2 * n_bigrams) end"
            ).alias("avg_kn_surprisal_micronats"),
        )
    )


#: Zipf fit: number of top frequency ranks entering the regression (the
#: classical rank-frequency law holds in the head; the tail is Heaps-law
#: noise the fit deliberately excludes)
ZIPF_TOP_RANKS = 1000


def q_vocab_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf rank-frequency fit (Zipf 1949) over the corpus vocabulary:
    least-squares slope of ln(freq) on ln(rank) across the top
    ZIPF_TOP_RANKS types — the one-row corpus-health fingerprint (natural
    language sits near slope -1; boilerplate-heavy or template-generated
    corpora flatten the head, OCR noise fattens it) that complements the
    per-doc repetition signals with a corpus-level law.

    Determinism: ln(rank)/ln(freq) quantize to integer MILLI-nats per row
    BEFORE any sum, so all five regression sums are order-independent
    integer aggregates (milli, not micro: the cross-moment R*Sxy must
    stay inside int64 — 1000 ranks x (6.9e3)^2 x 1000 ~ 5e13, where micro
    would overflow); the final slope/intercept divide the exact integer
    moments as identical doubles and floor to micros. The rank boundary
    is the (count desc, token asc) total order.

    Scale shape: one corpus scan to the aggregated vocab table; the
    top-R cut is TakeOrdered (per-partition heaps); the regression runs
    over R rows and folds to ONE row."""
    docs = load(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(F.expr(TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    top = vocab.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(
        ZIPF_TOP_RANKS
    )
    from pyspark.sql.window import Window as _W

    w = _W.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = top.withColumn("rnk", F.row_number().over(w)).select(
        F.expr("cast(floor(ln(cast(rnk as double)) * 1000 + 0.5) as bigint)").alias(
            "x"
        ),
        F.expr("cast(floor(ln(cast(cnt as double)) * 1000 + 0.5) as bigint)").alias(
            "y"
        ),
    )
    mom = ranked.agg(
        F.count("*").alias("r"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = F.expr(
        "case when r * sxx - sx * sx <> 0 then"
        " cast(r * sxy - sx * sy as double) / cast(r * sxx - sx * sx as double) end"
    )
    return mom.select(
        F.col("r").alias("n_ranks"),
        F.expr(
            "case when r * sxx - sx * sx <> 0 then cast(floor("
            " cast(r * sxy - sx * sy as double) / cast(r * sxx - sx * sx as double)"
            " * 1000000 + 0.5) as bigint) end"
        ).alias("zipf_slope_micro"),
        F.floor(
            (
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("r").cast("double")
            )
            / F.lit(1000.0)
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("zipf_intercept_micro"),
    )


#: mutual-information audit: fixed-width n_chars buckets (500-char bins,
#: clamped at 4) — a pure per-row function, no rank dependence
MI_BUCKET_WIDTH = 500
MI_BUCKET_MAX = 3


def q_quality_lang_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information between document language and length bucket —
    the dataset-audit companion to the KL/entropy queries: high MI means
    language predicts document length (a stratification leak a balanced
    sampler must account for; near-zero means the marginals factor). Per
    cell: joint and marginal counts, pointwise MI, and the cell's
    contribution to total MI in integer micro-nats.

    Determinism: PMI uses the ln-sum form ln(n_xy) + ln(N) - ln(n_x) -
    ln(n_y) — four lns on identical integer-fed doubles summed in fixed
    expression order, never a product that could overflow (n_xy * N wraps
    at N ~ 3e9 where the ln-sum never does); both micro quantities floor
    per CELL so every aggregate over them is integer.

    Scale shape: one corpus scan to the |langs| x |buckets| joint table,
    PERSISTED (the tfidf discipline: an aggregated frame with four
    consumers — both marginals, the total, and the output join — would
    otherwise re-run the corpus scan once per consumer); marginals
    derive from the cached joint and broadcast back."""
    docs = load(spark, sf, "documents")
    bucket = F.expr(f"least(n_chars div {MI_BUCKET_WIDTH}, {MI_BUCKET_MAX})").cast(
        "int"
    )
    joint = (
        docs.select("lang", bucket.alias("chars_bucket"))
        .groupBy("lang", "chars_bucket")
        .agg(F.count("*").alias("n_xy"))
        .transform(pinned)
    )
    mx = joint.groupBy("lang").agg(F.sum("n_xy").alias("n_x"))
    my = joint.groupBy("chars_bucket").agg(F.sum("n_xy").alias("n_y"))
    nn = joint.agg(F.sum("n_xy").alias("n_total"))
    pmi = F.expr(
        "ln(cast(n_xy as double)) + ln(cast(n_total as double))"
        " - ln(cast(n_x as double)) - ln(cast(n_y as double))"
    )
    return (
        joint.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "chars_bucket")
        .crossJoin(F.broadcast(nn))
        .select(
            "lang",
            "chars_bucket",
            "n_xy",
            "n_x",
            "n_y",
            F.expr(
                "cast(floor((ln(cast(n_xy as double)) + ln(cast(n_total as double))"
                " - ln(cast(n_x as double)) - ln(cast(n_y as double)))"
                " * 1000000 + 0.5) as bigint)"
            ).alias("pmi_micronats"),
            F.floor(
                F.col("n_xy").cast("double")
                / F.col("n_total").cast("double")
                * pmi
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mi_term_micronats"),
        )
    )


#: MRR evaluation set: fixed two-term queries over the corpus vocabulary,
#: and the rank cutoff (MRR@K: no relevant doc in the top K scores 0)
MRR_QUERIES = (
    ("scan", "filter"),
    ("window", "sort"),
    ("hash", "join"),
    ("stream", "batch"),
    ("vector", "merge"),
)
MRR_K = 10


def q_retrieval_mrr(spark: SparkSession, sf: str) -> DataFrame:
    """Mean reciprocal rank at MRR_K over a fixed multi-query evaluation
    set — the rank-of-first-hit companion to `retrieval_ndcg` (which
    grades the whole top-K of ONE query; MRR measures how quickly each of
    SEVERAL queries reaches its first relevant document — the standard QA
    / known-item retrieval metric). Ranking: total query-term occurrences
    (term-frequency retrieval) with the (tf desc, doc_id) total order;
    relevance: the document contains EVERY query term.

    Determinism: ranks are integers from a total order; the reciprocal
    rank is the exact integer micro (2e6 + r) div (2r) = floor(1e6/r +
    0.5); the final MRR is an integer micro-mean over |queries| rows. No
    doubles anywhere.

    Scale shape: the query set broadcast-joins the postings (term filter
    prunes to |query terms| lists before any shuffle); per-query ranking
    is a row_number window whose rank <= K filter Catalyst rewrites to
    WindowGroupLimit (partial pass below the exchange, so each task
    forwards at most K rows per query); the per-query fold and the final
    mean are |queries|-row aggregates."""
    docs = load(spark, sf, "documents")
    qrows = [
        (qi, t, len(terms)) for qi, terms in enumerate(MRR_QUERIES) for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id int, term string, n_terms int")
    tok = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
    hits = (
        tok.join(F.broadcast(qdf), tok["token"] == qdf["term"])
        .groupBy("query_id", "n_terms", "doc_id")
        .agg(
            F.count("*").alias("tf_total"),
            F.count_distinct("term").alias("n_hit_terms"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("tf_total").desc(), F.col("doc_id").asc()
    )
    topk = hits.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= MRR_K
    )
    per_q = topk.groupBy("query_id").agg(
        F.min(
            F.when(F.col("n_hit_terms") == F.col("n_terms"), F.col("rank"))
        ).alias("first_rel_rank")
    )
    # left join back to the query list so queries with NO relevant doc in
    # the top K still report (rr = 0)
    qids = qdf.select("query_id").distinct()
    scored = (
        qids.join(per_q, "query_id", "left")
        .select(
            "query_id",
            "first_rel_rank",
            F.expr(
                "case when first_rel_rank is not null then"
                " (2000000 + first_rel_rank) div (2 * first_rel_rank)"
                " else cast(0 as bigint) end"
            ).alias("rr_micro"),
        )
    )
    mrr = scored.agg(
        F.expr("(2 * sum(rr_micro) + count(*)) div (2 * count(*))").alias(
            "mrr_micro"
        )
    )
    return scored.crossJoin(F.broadcast(mrr)).select(
        "query_id", "first_rel_rank", "rr_micro", "mrr_micro"
    )


QUERIES = {
    "lang_stats": q_lang_stats,
    "text_quality": q_text_quality,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_fingerprint_rolling": q_doc_fingerprint_rolling,
    "lang_id_heuristic": q_lang_id_heuristic,
    "tfidf_top_terms": q_tfidf_top_terms,
    "sentiment_score": q_sentiment_score,
    "repetition_ngram": q_repetition_ngram,
    "pii_redaction": q_pii_redaction,
    "vocab_stats": q_vocab_stats,
    "bm25_topk": q_bm25_topk,
    "lm_unigram_surprisal": q_lm_unigram_surprisal,
    "chunk_documents": q_chunk_documents,
    "token_counts_bpe_ish": q_token_counts_bpe_ish,
    "sketch_kmv_distinct": q_sketch_kmv_distinct,
    # appended last (new r5 surface) so the existing driver-checked prefix
    # composition shifts as little as possible
    "sketch_countmin_heavy_hitters": q_sketch_countmin_heavy_hitters,
    "retrieval_rrf_fusion": q_retrieval_rrf_fusion,
    "corpus_divergence_kl": q_corpus_divergence_kl,
    "lm_bigram_surprisal": q_lm_bigram_surprisal,
    "bpe_train_merges": q_bpe_train_merges,
    "bpe_first_merges": q_bpe_first_merges,
    "bpe_segment_docs": q_bpe_segment_docs,
    "text_entropy": q_text_entropy,
    # appended last (new r7 surface): DSIR importance-resampling weights,
    # the Gopher rule gate, and PMI collocations
    "dsir_importance_weights": q_dsir_importance_weights,
    "quality_gopher_rules": q_quality_gopher_rules,
    "pmi_top_pairs": q_pmi_top_pairs,
    "ccnet_perplexity_buckets": q_ccnet_perplexity_buckets,
    "dsir_resample_topk": q_dsir_resample_topk,
    "ngram_novelty": q_ngram_novelty,
    # appended last (r7 continuation): the explicit-register HLL sketch and
    # the fastText-style hashed linear quality gate
    "sketch_hll_distinct": q_sketch_hll_distinct,
    "quality_fasttext_gate": q_quality_fasttext_gate,
    "sketch_hll_merge": q_sketch_hll_merge,
    "vocab_coverage": q_vocab_coverage,
    # r7 continuation: TextRank keyword extraction over the co-occurrence
    # graph
    "keyword_textrank": q_keyword_textrank,
    # r7 continuation: MOSS-style winnowing fingerprint census
    "winnowing_fingerprints": q_winnowing_fingerprints,
    # r7 continuation: NDCG@10 evaluation of the BM25 ranking
    "retrieval_ndcg": q_retrieval_ndcg,
    # r7 continuation: language-ID confusion matrix
    "quality_language_confusion": q_quality_language_confusion,
    # r8: interpolated Kneser-Ney bigram model (all-integer rational)
    "lm_kneser_ney_bigram": q_lm_kneser_ney_bigram,
    # r8: per-doc cross-entropy under the KN model
    "lm_kneser_ney_surprisal": q_lm_kneser_ney_surprisal,
    # r9: Zipf rank-frequency fit and lang x length mutual information
    "vocab_zipf_slope": q_vocab_zipf_slope,
    "quality_lang_mutual_info": q_quality_lang_mutual_info,
    # r9: mean reciprocal rank at K over the fixed evaluation queries
    "retrieval_mrr": q_retrieval_mrr,
}
# r9 continuation (LM-retrieval / dispersion / frequency-spectrum ops) is
# registered next to its definitions at the end of this module — dict
# insertion order IS catalog order, so late registration keeps the
# append-at-tail rule.


def _textrank_oracle() -> str:
    """The same integer-weighted PageRank unrolled over the same window-2
    pair construction; every round MATERIALIZED so the token chain is
    evaluated once, not re-inlined per round."""
    prefix = f"""
        WITH ft_t AS (
            SELECT list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                               t -> length(t) >= {TEXTRANK_MIN_LEN}) AS ft
            FROM documents
        ), rawpairs AS (
            SELECT unnest(list_concat(
                CASE WHEN len(ft) > 1 THEN
                    list_transform(generate_series(1, len(ft) - 1), i ->
                        CASE WHEN ft[i] < ft[i + 1]
                             THEN ft[i] || ' ' || ft[i + 1]
                             ELSE ft[i + 1] || ' ' || ft[i] END)
                ELSE CAST([] AS VARCHAR[]) END,
                CASE WHEN len(ft) > 2 THEN
                    list_transform(generate_series(1, len(ft) - 2), i ->
                        CASE WHEN ft[i] < ft[i + 2]
                             THEN ft[i] || ' ' || ft[i + 2]
                             ELSE ft[i + 2] || ' ' || ft[i] END)
                ELSE CAST([] AS VARCHAR[]) END)) AS pair
            FROM ft_t
        ), pc AS (
            SELECT pair, count(*)::BIGINT AS w FROM rawpairs
            WHERE split_part(pair, ' ', 1) != split_part(pair, ' ', 2)
            GROUP BY pair
        ), und AS (
            SELECT split_part(pair, ' ', 1) AS u,
                   split_part(pair, ' ', 2) AS v, w
            FROM pc
        ), edges AS MATERIALIZED (
            SELECT u, v, w FROM und UNION ALL SELECT v, u, w FROM und
        ), wsum AS (
            SELECT u, sum(w)::BIGINT AS wu FROM edges GROUP BY u
        ), nn AS (SELECT count(*) AS n FROM wsum),
        base AS MATERIALIZED (
            SELECT u AS node, wu,
                   ({_TR_TELE} // n) AS tele,
                   ({TEXTRANK_SCALE} // n) AS r0
            FROM wsum CROSS JOIN nn
        ),
        it0 AS (SELECT node, r0 AS r FROM base)"""
    rounds = "".join(
        f""",
        it{k + 1} AS MATERIALIZED (
            SELECT b.node,
                   (b.tele + ({_TR_DAMP} * sum((p.r * e.w) // src.wu)) // 100)::BIGINT AS r
            FROM edges e
            JOIN it{k} p ON p.node = e.u
            JOIN base src ON src.node = e.u
            JOIN base b ON b.node = e.v
            GROUP BY b.node, b.tele
        )"""
        for k in range(TEXTRANK_ITERS)
    )
    return (
        prefix
        + rounds
        + f"""
        SELECT node AS keyword, r::BIGINT AS textrank_e12
        FROM it{TEXTRANK_ITERS}
        ORDER BY textrank_e12 DESC, keyword
        LIMIT {TEXTRANK_TOP_K}
    """
    )


def _dsir_oracle() -> str:
    """Mirror of q_dsir_importance_weights: same hashed buckets, same
    per-bucket micro-nat flooring (each -ln term floored once, differenced
    as integers), HUGEINT sums cast back to BIGINT."""
    from ..functions.hashing import portable_hash_sql_duckdb

    h = portable_hash_sql_duckdb("feature")

    def micro(cnt: str, total: str) -> str:
        return (
            f"floor(-ln(({cnt} + 1)::DOUBLE / ({total} + {DSIR_BUCKETS}))"
            f" * 1000000 + 0.5)::BIGINT"
        )

    return f"""
        WITH toks_t AS (
            SELECT doc_id, lang, {TOKENS_DUCK} AS toks FROM documents
        ), feats AS (
            SELECT doc_id, lang, ({h} % {DSIR_BUCKETS}) AS bucket
            FROM (
                SELECT doc_id, lang,
                       unnest(list_concat(toks,
                           list_transform(generate_series(1, len(toks) - 1),
                                          i -> toks[i] || ' ' || toks[i + 1]))) AS feature
                FROM toks_t)
        ), counts AS (
            SELECT bucket,
                   sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)::BIGINT AS p_cnt,
                   sum(CASE WHEN lang != '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)::BIGINT AS q_cnt
            FROM feats GROUP BY bucket
        ), tot AS (
            SELECT sum(p_cnt)::BIGINT AS p_tot, sum(q_cnt)::BIGINT AS q_tot FROM counts
        ), bw AS (
            SELECT bucket,
                   ({micro("q_cnt", "q_tot")} - {micro("p_cnt", "p_tot")}) AS w_micro
            FROM counts CROSS JOIN tot
        )
        SELECT doc_id, count(*)::BIGINT AS n_features,
               sum(w_micro)::BIGINT AS dsir_micronats
        FROM feats JOIN bw USING (bucket)
        GROUP BY doc_id
    """

_REPETITION_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
    ), bi AS (
        SELECT doc_id,
               CASE WHEN len(tokens) >= 2 THEN
                   list_transform(generate_series(1, len(tokens) - 1),
                                  i -> concat_ws(' ', tokens[i], tokens[i + 1]))
               ELSE [] END AS bigrams
        FROM tok
    ), ex AS (
        SELECT doc_id, unnest(bigrams) AS bg FROM bi
    ), cnt AS (
        SELECT doc_id, bg, count(*) AS c FROM ex GROUP BY doc_id, bg
    ), per AS (
        SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
               count(*) AS n_distinct_bigrams, max(c) AS top_bigram_count
        FROM cnt GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
           coalesce(top_bigram_count, 0) AS top_bigram_count,
           CASE WHEN coalesce(n_bigrams, 0) > 0
                THEN round(1 - n_distinct_bigrams / n_bigrams, 6)
                ELSE 0.0 END AS rep_ratio
    FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
"""

_PII_ORACLE = f"""
    WITH with_pii AS (
        SELECT doc_id,
               CASE WHEN doc_id % {PII_MOD} = 0 THEN
                   text || ' contact user' || doc_id::VARCHAR
                        || '@example.com or 555-'
                        || lpad((doc_id % 10000)::VARCHAR, 4, '0')
               ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM with_pii
"""

_VOCAB_ORACLE = f"""
    WITH tok AS (
        SELECT unnest({TOKENS_DUCK}) AS token FROM documents
    ), freq AS (
        SELECT token, count(*) AS freq FROM tok GROUP BY token
    )
    SELECT sum(freq)::BIGINT AS n_tokens,
           count(*) AS vocab_size,
           sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
           round(count(*) / sum(freq), 6) AS type_token_ratio
    FROM freq
"""

_BM25_TF_COLS = ",\n               ".join(
    f"sum(CASE WHEN t.token = '{t}' THEN 1 ELSE 0 END)::BIGINT AS tf_{i}"
    for i, t in enumerate(BM25_TERMS)
)
_BM25_POSTINGS = " UNION ALL ".join(
    f"SELECT doc_id, doclen, '{t}' AS term, tf_{i} AS tf FROM doc_stats WHERE tf_{i} > 0"
    for i, t in enumerate(BM25_TERMS)
)
# constant subexpressions are written as the same arithmetic Spark folds
# (e.g. `1.2 + 1`, not `2.2`) so both engines produce bit-identical doubles
_BM25_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
    ), doc_stats AS (
        SELECT d.doc_id, count(t.token)::BIGINT AS doclen,
               {_BM25_TF_COLS}
        FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id
        GROUP BY d.doc_id
    ), corpus AS (
        SELECT count(*) AS n_docs, sum(doclen)::BIGINT AS total_len FROM doc_stats
    ), postings AS ({_BM25_POSTINGS}
    ), scored AS (
        SELECT doc_id, term, tf, doclen,
               count(*) OVER (PARTITION BY term) AS df
        FROM postings
    )
    SELECT doc_id,
           round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1)
               * (tf * ({BM25_K1} + 1))
               / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * doclen / (total_len / n_docs)))
           ), 4) AS bm25,
           count(*)::BIGINT AS n_terms_hit
    FROM scored CROSS JOIN corpus
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 20
"""

_CHUNK_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
    ), starts AS (
        SELECT doc_id, tokens,
               unnest(generate_series(1, len(tokens), {CHUNK_STRIDE})) AS start
        FROM tok WHERE len(tokens) > 0
    )
    SELECT doc_id,
           ((start - 1) // {CHUNK_STRIDE})::INT AS chunk_id,
           array_to_string(tokens[start : start + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
           len(tokens[start : start + {CHUNK_TOKENS - 1}])::INT AS n_chunk_tokens
    FROM starts
"""

_BPE_RE_SQL = BPE_ISH_RE.replace("'", "''")  # DuckDB standard strings need no backslash escaping

_KMV_ORACLE = f"""
    WITH tok AS (
        SELECT lang, unnest({TOKENS_DUCK}) AS token FROM documents
    ), hashed AS (
        SELECT DISTINCT lang,
               ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
        FROM tok
    ), ranked AS (
        SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS r
        FROM hashed
    ), stats AS (
        SELECT lang, count(*)::BIGINT AS n_distinct_exact,
               max(CASE WHEN r = {KMV_K} THEN h END) AS h_k
        FROM ranked GROUP BY lang
    )
    SELECT lang, {KMV_K} AS k,
           CASE WHEN n_distinct_exact < {KMV_K} THEN n_distinct_exact::DOUBLE
                ELSE round(({KMV_K} - 1) / (h_k / {float(1 << 60)}), 2) END AS est_distinct,
           n_distinct_exact,
           round(abs(CASE WHEN n_distinct_exact < {KMV_K} THEN n_distinct_exact::DOUBLE
                          ELSE round(({KMV_K} - 1) / (h_k / {float(1 << 60)}), 2) END
                     - n_distinct_exact) / n_distinct_exact, 4) AS rel_error
    FROM stats
"""

def _bpe_train_chain(n: int) -> str:
    """The shared unrolled train chain (leading WITH included): word counts
    → '|sym||sym|'-rendered vocab0 → n rounds of (pair counts → argmax
    best{{r}} → replace-apply vocab{{r+1}}). best{{r}} carries
    (rank, p1, p2, merged, pair_freq) so both the trainer oracle (the
    merge table itself) and the segmenter oracle (the final vocab) can
    tail off the same chain."""
    parts = [f"""
    WITH words AS (
        SELECT word, count(*)::BIGINT AS freq
        FROM (SELECT unnest({TOKENS_DUCK}) AS word FROM documents)
        GROUP BY word
    ), vocab0 AS MATERIALIZED (
        SELECT word, freq,
               '|' || array_to_string(list_append(string_split(word, ''), '{BPE_END}'), '||') || '|' AS s
        FROM words
    )"""]
    for r in range(n):
        parts.append(f""", syms{r} AS (
        SELECT word, freq, s, string_split(substr(s, 2, len(s) - 2), '||') AS syms
        FROM vocab{r}
    ), pairs{r} AS (
        SELECT syms[i] AS p1, syms[i + 1] AS p2, sum(freq)::BIGINT AS pair_freq
        FROM syms{r}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
        GROUP BY p1, p2
    ), best{r} AS (
        SELECT {r} AS rank, p1, p2, p1 || p2 AS merged, pair_freq
        FROM pairs{r} ORDER BY pair_freq DESC, p1 ASC, p2 ASC LIMIT 1
    ), vocab{r + 1} AS MATERIALIZED (
        -- LEFT JOIN: once no pair is left, best{r} is empty and the vocab
        -- carries over unchanged (the Spark trainer stops merging)
        SELECT word, freq,
               coalesce(replace(s, '|' || b.p1 || '||' || b.p2 || '|', '|' || b.merged || '|'), s) AS s
        FROM vocab{r} LEFT JOIN best{r} b ON true
    )""")
    return "".join(parts)


def _bpe_train_oracle(n: int) -> str:
    """Mirror of q_bpe_train_merges (VERDICT r6 #3): the merge table is the
    union of the per-round argmax winners the train chain already
    computes — the same chain the segmenter oracle re-trains, now exposed
    as the trainer's own hash-checkable oracle."""
    union = " UNION ALL ".join(f"SELECT * FROM best{r}" for r in range(n))
    return f"""{_bpe_train_chain(n)}
    SELECT rank::INT AS rank, p1, p2, merged, pair_freq
    FROM ({union})
    """


def _bpe_segment_oracle(n: int) -> str:
    """Unrolled train-then-segment mirror: N merge rounds over the
    '|sym||sym|' string rendering (replace == greedy BPE apply — see
    q_bpe_first_merges), then per-word token counts joined back onto the
    exploded document words."""
    parts = [_bpe_train_chain(n)]
    parts.append(f""", tok AS (
        SELECT word, ((len(s) - len(replace(s, '||', ''))) // 2 + 1)::BIGINT AS n_tokens
        FROM vocab{n}
    ), docw AS (
        SELECT doc_id, unnest({TOKENS_DUCK}) AS word FROM documents
    )
    SELECT d.doc_id, count(*)::BIGINT AS n_words,
           sum(t.n_tokens)::BIGINT AS n_bpe_tokens,
           round(sum(t.n_tokens)::DOUBLE / count(*), 4) AS fertility
    FROM docw d JOIN tok t ON t.word = d.word
    GROUP BY d.doc_id
    """)
    return "".join(parts)


ORACLES = {
    "dsir_importance_weights": _dsir_oracle(),
    "quality_gopher_rules": _GOPHER_ORACLE,
    "pmi_top_pairs": _PMI_ORACLE,
    "ccnet_perplexity_buckets": _CCNET_ORACLE,
    "dsir_resample_topk": _dsir_resample_oracle(),
    "ngram_novelty": _NOVELTY_ORACLE,
    # see q_bpe_first_merges for why replace('|p1||p2|' -> '|p1p2|') over
    # the '|'-rendered vocab IS greedy left-to-right BPE apply
    "bpe_first_merges": _bpe_train_oracle(2),
    "bpe_train_merges": _bpe_train_oracle(N_BPE_MERGES),
    "bpe_segment_docs": _bpe_segment_oracle(N_BPE_MERGES),
    "sketch_kmv_distinct": _KMV_ORACLE,
    "sketch_countmin_heavy_hitters": _cms_oracle(),
    # empty text: the Horner fold over zero characters is the seed 0 —
    # special-cased because string_split('', '') is [''] in DuckDB (one
    # empty element, ord -> -1) but the engines agree on every non-empty
    # string; caught by the dirty-fixture parity sweep (r11)
    "doc_fingerprint_rolling": f"""
        SELECT doc_id, n_chars,
               CASE WHEN length(text) = 0 THEN 0 ELSE
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
                   (acc, x) -> (acc * {ROLL_BASE} + x) % {ROLL_MOD}) END AS rolling_hash
        FROM documents
    """,
    "token_counts_bpe_ish": f"""
        SELECT doc_id, lang,
               len(regexp_extract_all(text, '{{0}}'))::INT AS n_bpe_tokens,
               len(regexp_extract_all(text, '{TOKEN_RE}'))::INT AS n_word_tokens,
               CASE WHEN len(regexp_extract_all(text, '{TOKEN_RE}')) > 0
                    THEN round(len(regexp_extract_all(text, '{{0}}'))
                               / len(regexp_extract_all(text, '{TOKEN_RE}')), 4)
               END AS fertility
        FROM documents
    """.replace("{{0}}", "{0}").format(_BPE_RE_SQL),
    "bm25_topk": _BM25_ORACLE,
    "lm_unigram_surprisal": f"""
        WITH tok AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
        ), vocab AS (
            SELECT token, count(*) AS cnt FROM tok GROUP BY token
        ), tot AS (
            SELECT sum(cnt)::BIGINT AS n_total, count(*)::BIGINT AS v FROM vocab
        ), scored AS (
            SELECT t.doc_id,
                   floor(-ln((vc.cnt + 1)::DOUBLE / (tot.n_total + tot.v))
                         * 1000000 + 0.5)::BIGINT AS micro
            FROM tok t JOIN vocab vc USING (token) CROSS JOIN tot
        )
        SELECT doc_id, count(*) AS n_tokens, sum(micro)::BIGINT AS xent_micro,
               floor(sum(micro)::DOUBLE / count(*) + 0.5)::BIGINT AS avg_surprisal_micronats
        FROM scored GROUP BY doc_id
    """,
    "chunk_documents": _CHUNK_ORACLE,
    "repetition_ngram": _REPETITION_ORACLE,
    "pii_redaction": _PII_ORACLE,
    "vocab_stats": _VOCAB_ORACLE,
    "lang_stats": f"""
        SELECT lang,
               count(*) AS n_docs,
               round(avg(n_chars), 4) AS avg_chars,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               sum(len({TOKENS_DUCK}))::BIGINT AS total_tokens,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang
    """,
    "text_quality": f"""
        WITH tok AS (SELECT doc_id, lang, {TOKENS_DUCK} AS tokens FROM documents)
        SELECT doc_id, lang,
               len(tokens) AS n_tokens,
               len(list_distinct(tokens)) AS n_uniq_tokens,
               round(list_sum(list_transform(tokens, x -> length(x)))::DOUBLE / len(tokens), 4)
                   AS avg_token_len,
               round(len(list_filter(tokens, x -> x IN ({_SW})))::DOUBLE / len(tokens), 4)
                   AS stopword_ratio,
               round(len(list_distinct(tokens))::DOUBLE / len(tokens), 4) AS type_token_ratio,
               round(ln(1.0 + len(tokens))
                     * (1 - len(list_filter(tokens, x -> x IN ({_SW})))::DOUBLE / len(tokens))
                     * (len(list_distinct(tokens))::DOUBLE / len(tokens)), 4) AS quality_score
        FROM tok
    """,
    "token_counts": f"""
        SELECT token, count(*) AS freq
        FROM (SELECT unnest({TOKENS_DUCK}) AS token FROM documents)
        GROUP BY token
        ORDER BY freq DESC, token ASC
        LIMIT 50
    """,
    "doc_fingerprint": """
        SELECT doc_id, source,
               md5(lower(trim(text))) AS fingerprint,
               ('0x' || substr(md5(lower(trim(text))), 1, 15))::BIGINT AS fingerprint_int
        FROM documents
    """,
    "sentiment_score": f"""
        WITH tok AS (SELECT doc_id, lang, {TOKENS_DUCK} AS tokens FROM documents),
        scored AS (
            SELECT doc_id, lang,
                   len(list_filter(tokens, x -> x IN ({", ".join(f"'{w}'" for w in POS_WORDS)})))
                       AS n_pos,
                   len(list_filter(tokens, x -> x IN ({", ".join(f"'{w}'" for w in NEG_WORDS)})))
                       AS n_neg,
                   len(tokens) AS n_tok
            FROM tok
        )
        SELECT doc_id, lang, n_pos, n_neg,
               round((n_pos - n_neg)::DOUBLE / n_tok, 4) AS polarity,
               CASE WHEN round((n_pos - n_neg)::DOUBLE / n_tok, 4) > 0 THEN 'positive'
                    WHEN round((n_pos - n_neg)::DOUBLE / n_tok, 4) < 0 THEN 'negative'
                    ELSE 'neutral' END AS sentiment
        FROM scored
    """,
    "tfidf_top_terms": f"""
        WITH tok AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
        ), tf AS (
            SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
        ), dfreq AS (
            SELECT token, count(*) AS df FROM tf GROUP BY token
        ), scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                   round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / dfreq.df), 4)
                       AS tfidf
            FROM tf JOIN dfreq USING (token)
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, token ASC) AS term_rank
            FROM scored
        )
        SELECT doc_id, token, tf, df, tfidf, term_rank
        FROM ranked WHERE term_rank <= 3
    """,
    "lang_id_heuristic": f"""
        WITH tok AS (
            SELECT doc_id, lang, list_distinct({TOKENS_DUCK}) AS tokens FROM documents
        )
        SELECT doc_id, lang AS labeled_lang,
               {_lex_duck('en')} AS en_hits,
               {_lex_duck('es')} AS es_hits,
               {_lex_duck('fr')} AS fr_hits,
               CASE WHEN {_lex_duck('en')} >= {_lex_duck('es')}
                         AND {_lex_duck('en')} >= {_lex_duck('fr')}
                         AND {_lex_duck('en')} > 0 THEN 'en'
                    WHEN {_lex_duck('es')} >= {_lex_duck('fr')}
                         AND {_lex_duck('es')} > 0 THEN 'es'
                    WHEN {_lex_duck('fr')} > 0 THEN 'fr'
                    ELSE 'und' END AS predicted_lang
        FROM tok
    """,
    "retrieval_rrf_fusion": f"""
        WITH tok AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
        ), doc_stats AS (
            SELECT d.doc_id, count(t.token)::BIGINT AS doclen,
                   {_BM25_TF_COLS}
            FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id
            GROUP BY d.doc_id
        ), corpus AS (
            SELECT count(*) AS n_docs, sum(doclen)::BIGINT AS total_len FROM doc_stats
        ), postings AS ({_BM25_POSTINGS}
        ), scored AS (
            SELECT doc_id, term, tf, doclen,
                   count(*) OVER (PARTITION BY term) AS df
            FROM postings
        ), per_doc AS (
            SELECT doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                       * (tf * ({BM25_K1} + 1))
                       / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * doclen / (total_len / n_docs)))
                   ), 4) AS bm25,
                   round(sum(tf * ln(n_docs / df)) / min(doclen), 6) AS tfidf
            FROM scored CROSS JOIN corpus
            GROUP BY doc_id
        ), ranked AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm25,
                   row_number() OVER (ORDER BY tfidf DESC, doc_id ASC) AS r_tfidf
            FROM per_doc
        )
        SELECT doc_id, r_bm25::INT AS r_bm25, r_tfidf::INT AS r_tfidf,
               round(1.0 / ({RRF_K} + r_bm25) + 1.0 / ({RRF_K} + r_tfidf), 6) AS rrf_score
        FROM ranked
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT 20
    """,
    "corpus_divergence_kl": f"""
        WITH tok AS (
            SELECT lang, unnest({TOKENS_DUCK}) AS token FROM documents
        ), lt AS (
            SELECT lang, token, count(*)::BIGINT AS cnt_lt FROM tok GROUP BY lang, token
        ), vocab AS (
            SELECT token, sum(cnt_lt)::BIGINT AS cnt_t FROM lt GROUP BY token
        ), langtot AS (
            SELECT lang, sum(cnt_lt)::BIGINT AS n_l, count(*)::BIGINT AS n_types
            FROM lt GROUP BY lang
        ), tot AS (
            SELECT sum(cnt_t)::BIGINT AS n FROM vocab
        ), scored AS (
            SELECT l.lang, l.cnt_lt, lg.n_l, lg.n_types,
                   floor(ln((l.cnt_lt::DOUBLE * tot.n::DOUBLE)
                            / (lg.n_l::DOUBLE * v.cnt_t::DOUBLE)) * 1000000 + 0.5)::BIGINT
                       AS micro
            FROM lt l JOIN vocab v USING (token)
                      JOIN langtot lg USING (lang)
                      CROSS JOIN tot
        )
        SELECT lang, min(n_l) AS n_tokens, min(n_types) AS n_token_types,
               floor(sum(cnt_lt * micro)::DOUBLE / min(n_l) + 0.5)::BIGINT AS kl_micronats
        FROM scored GROUP BY lang
    """,
    "lm_bigram_surprisal": f"""
        WITH tok AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
        ), bg AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(tokens) - 1),
                                         i -> tokens[i] || ' ' || tokens[i + 1])) AS pair
            FROM tok WHERE len(tokens) >= 2
        ), pair_cnt AS (
            SELECT pair, count(*)::BIGINT AS c_pair FROM bg GROUP BY pair
        ), ctx AS (
            SELECT split_part(pair, ' ', 1) AS w1, sum(c_pair)::BIGINT AS c_ctx
            FROM pair_cnt GROUP BY 1
        ), vv AS (
            SELECT count(DISTINCT split_part(pair, ' ', 2))::BIGINT AS v FROM pair_cnt
        ), scored AS (
            SELECT bg.doc_id,
                   floor(-ln((pc.c_pair + 1)::DOUBLE / (cx.c_ctx + vv.v))
                         * 1000000 + 0.5)::BIGINT AS micro
            FROM bg
            JOIN pair_cnt pc USING (pair)
            JOIN ctx cx ON cx.w1 = split_part(bg.pair, ' ', 1)
            CROSS JOIN vv
        )
        SELECT doc_id, count(*) AS n_bigrams, sum(micro)::BIGINT AS xent_micro,
               floor(sum(micro)::DOUBLE / count(*) + 0.5)::BIGINT AS avg_surprisal_micronats
        FROM scored GROUP BY doc_id
    """,
    "text_entropy": """
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents WHERE length(text) > 0
        ), per AS (
            SELECT doc_id, ch, count(*)::BIGINT AS cnt
            FROM ch WHERE ch <> '' GROUP BY doc_id, ch
        ), tot AS (
            SELECT *, sum(cnt) OVER (PARTITION BY doc_id)::BIGINT AS n FROM per
        ), scored AS (
            SELECT doc_id, cnt, n,
                   floor(-ln(cnt::DOUBLE / n) * 1000000 + 0.5)::BIGINT AS micro
            FROM tot
        )
        SELECT doc_id, min(n) AS n_chars_counted, count(*) AS n_char_types,
               floor(sum(cnt * micro)::DOUBLE / min(n) + 0.5)::BIGINT AS entropy_micronats
        FROM scored GROUP BY doc_id
    """,
    # HLL registers restated verbatim: same trailing-zero rho, same exact
    # integer harmonic sum, same single double division / ln branch
    "sketch_hll_distinct": f"""
        WITH hashed AS (
            SELECT event_type,
                   (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
                   AS h
            FROM events
        ), regs AS (
            SELECT event_type, h % {HLL_M} AS bucket,
                   max(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_CAP}
                            ELSE length(bin((h >> {HLL_P}) & -(h >> {HLL_P})))
                       END) AS m_j
            FROM hashed GROUP BY 1, 2
        ), agg AS (
            SELECT event_type,
                   sum((1::BIGINT << ({_HLL_RHO_CAP} - m_j)))::BIGINT AS s_nonempty,
                   count(*) AS v_nonempty
            FROM regs GROUP BY 1
        ), exact AS (
            SELECT event_type, count(DISTINCT user_id) AS n_exact
            FROM events GROUP BY 1
        ), joined AS (
            SELECT event_type, n_exact,
                   s_nonempty + ({HLL_M} - v_nonempty) * (1::BIGINT << {_HLL_RHO_CAP})
                   AS s,
                   {HLL_M} - v_nonempty AS v0
            FROM agg JOIN exact USING (event_type)
        ), est AS (
            SELECT event_type, n_exact,
                   CASE WHEN {HLL_ALPHA} * {HLL_M} * {HLL_M} * {float(1 << _HLL_RHO_CAP)!r} / s
                             <= 2.5 * {HLL_M}
                         AND v0 > 0
                        THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / v0)
                        ELSE {HLL_ALPHA} * {HLL_M} * {HLL_M} * {float(1 << _HLL_RHO_CAP)!r} / s
                   END AS e
            FROM joined
        )
        SELECT event_type, n_exact, round(e, 2) AS hll_estimate,
               round(abs(e - n_exact) / n_exact, 4) AS rel_error
        FROM est
        ORDER BY event_type
    """,
    "quality_fasttext_gate": f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest({TOKENS_DUCK}) AS token FROM documents
        ), w AS (
            SELECT doc_id, lang,
                   (('0x' || substr(md5(token), 1, 15))::BIGINT) % {FT_BUCKETS}
                   - {(FT_BUCKETS - 1) // 2} AS w
            FROM tok
        ), agg AS (
            SELECT doc_id, lang, sum(w)::BIGINT AS sum_w,
                   count(*)::BIGINT AS n_tokens
            FROM w GROUP BY 1, 2
        )
        SELECT doc_id, lang, n_tokens,
               floor(sum_w * 1000000.0 / (1000.0 * n_tokens) + 0.5)::BIGINT
               AS score_micro,
               sum_w > {FT_MARGIN_MILLI} * n_tokens AS keep
        FROM agg
    """,
    # daily registers max-merged by bucket, then the same estimator as
    # sketch_hll_distinct over the merged table
    "sketch_hll_merge": f"""
        WITH hashed AS (
            SELECT date_trunc('day', ts) AS day,
                   (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
                   AS h
            FROM events
        ), daily_regs AS (
            SELECT day, h % {HLL_M} AS bucket,
                   max(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_CAP}
                            ELSE length(bin((h >> {HLL_P}) & -(h >> {HLL_P})))
                       END) AS m_j
            FROM hashed GROUP BY 1, 2
        ), merged AS (
            SELECT bucket, max(m_j) AS m_j FROM daily_regs GROUP BY 1
        ), agg AS (
            SELECT sum((1::BIGINT << ({_HLL_RHO_CAP} - m_j)))::BIGINT AS s_nonempty,
                   count(*) AS v_nonempty
            FROM merged
        ), scalars AS (
            SELECT count(DISTINCT date_trunc('day', ts)) AS n_days,
                   count(DISTINCT user_id) AS n_exact
            FROM events
        ), joined AS (
            SELECT n_days, n_exact,
                   s_nonempty + ({HLL_M} - v_nonempty) * (1::BIGINT << {_HLL_RHO_CAP})
                   AS s,
                   {HLL_M} - v_nonempty AS v0
            FROM agg CROSS JOIN scalars
        ), est AS (
            SELECT n_days, n_exact,
                   CASE WHEN {HLL_ALPHA} * {HLL_M} * {HLL_M} * {float(1 << _HLL_RHO_CAP)!r} / s
                             <= 2.5 * {HLL_M}
                         AND v0 > 0
                        THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / v0)
                        ELSE {HLL_ALPHA} * {HLL_M} * {HLL_M} * {float(1 << _HLL_RHO_CAP)!r} / s
                   END AS e
            FROM joined
        )
        SELECT n_days, n_exact, round(e, 2) AS hll_estimate,
               round(abs(e - n_exact) / n_exact, 4) AS rel_error
        FROM est
    """,
    "vocab_coverage": f"""
        WITH counts AS (
            SELECT token, count(*)::BIGINT AS cnt
            FROM (SELECT unnest({TOKENS_DUCK}) AS token FROM documents)
            GROUP BY token
        ), ranked AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt DESC, token ASC) AS rk,
                   sum(cnt) OVER (ORDER BY cnt DESC, token ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)::BIGINT AS cum
            FROM counts
        ), totals AS (
            SELECT count(*)::BIGINT AS n_types_total,
                   sum(cnt)::BIGINT AS total_occ
            FROM counts
        ), ks AS (
            SELECT unnest([{", ".join(str(k) for k in VOCAB_COVERAGE_KS)}]) AS k
        )
        SELECT k, n_types_total,
               cum AS covered_occurrences,
               total_occ AS total_occurrences,
               floor(cum * 1000000.0 / total_occ + 0.5)::BIGINT AS coverage_micro
        FROM ks CROSS JOIN totals
        JOIN ranked ON rk = least(k, n_types_total)
        ORDER BY k
    """,
    # unrolled integer TextRank rounds over the window-2 pair graph
    "keyword_textrank": _textrank_oracle(),
    # same packed-key window-min winnowing; bit_xor is order-free
    "winnowing_fingerprints": f"""
        WITH tok AS (
            SELECT doc_id, {TOKENS_DUCK} AS tk FROM documents
        ), eligible AS (
            SELECT doc_id, tk FROM tok
            WHERE len(tk) >= {WINNOW_K + WINNOW_W - 1}
        ), kgrams AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(tk) - {WINNOW_K - 1})) AS pos,
                   unnest(list_transform(generate_series(1, len(tk) - {WINNOW_K - 1}),
                          i -> array_to_string(tk[i:i + {WINNOW_K - 1}], ' '))) AS kgram
            FROM eligible
        ), hashed AS (
            -- same loud overflow guard as the engine: positions must fit
            -- the packed key's low {_WIN_POS_BITS} bits
            SELECT doc_id,
                   CASE WHEN pos < {1 << _WIN_POS_BITS} THEN pos
                        ELSE error('winnowing: document exceeds position bits')
                   END AS pos,
                   ({portable_hash_sql_duckdb('kgram')} % {_WIN_HASH_MOD}) AS h
            FROM kgrams
        ), winmin AS (
            SELECT doc_id, pos,
                   min(h * {1 << _WIN_POS_BITS}
                       + ({(1 << _WIN_POS_BITS) - 1} - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW
                   ) AS minkey
            FROM hashed
        ), sel AS (
            SELECT DISTINCT doc_id,
                   {(1 << _WIN_POS_BITS) - 1} - minkey % {1 << _WIN_POS_BITS} AS sel_pos,
                   minkey // {1 << _WIN_POS_BITS} AS sel_h
            FROM winmin WHERE pos >= {WINNOW_W}
        ), counts AS (
            SELECT doc_id, count(*)::BIGINT AS n_kgrams FROM hashed GROUP BY 1
        )
        SELECT s.doc_id, c.n_kgrams,
               count(*)::BIGINT AS n_fingerprints,
               min(sel_h)::BIGINT AS fp_min,
               bit_xor(sel_h)::BIGINT AS fp_xor
        FROM sel s JOIN counts c USING (doc_id)
        GROUP BY s.doc_id, c.n_kgrams
    """,
}


def _ndcg_oracle() -> str:
    """Mirror of q_retrieval_ndcg: the bm25_topk oracle is embedded as the
    retrieved list, the discount table is the identical Python-precomputed
    VALUES list, gains/sums stay integer."""
    discs = ", ".join(f"({r}, {d})" for r, d in _ndcg_discounts())
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    c1, c2, c3 = NDCG_GRADE_CUTS
    return f"""
        WITH retrieved AS MATERIALIZED (
            SELECT * FROM ({ORACLES["bm25_topk"]}) bm
        ), topk AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
            FROM retrieved
            QUALIFY rank <= {NDCG_K}
        ), hits AS (
            SELECT doc_id, count(*)::BIGINT AS tot
            FROM (SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents)
            WHERE token IN ({terms})
            GROUP BY doc_id
        ), rel AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN tot >= {c3} THEN 3
                        WHEN tot >= {c2} THEN 2
                        WHEN tot >= {c1} THEN 1 ELSE 0 END AS rel
            FROM hits
            WHERE tot >= {c1}
        ), disc(rank, disc) AS (VALUES {discs}),
        dcg AS (
            SELECT sum((CASE coalesce(r.rel, 0) WHEN 3 THEN 7 WHEN 2 THEN 3
                        WHEN 1 THEN 1 ELSE 0 END)::BIGINT * d.disc)::BIGINT
                     AS dcg_scaled
            FROM topk t
            LEFT JOIN rel r USING (doc_id)
            JOIN disc d ON d.rank = t.rank
        ), ideal AS (
            SELECT sum((CASE i.rel WHEN 3 THEN 7 WHEN 2 THEN 3
                        WHEN 1 THEN 1 ELSE 0 END)::BIGINT * d.disc)::BIGINT
                     AS idcg_scaled
            FROM (
                SELECT rel,
                       row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
                FROM rel QUALIFY rank <= {NDCG_K}
            ) i JOIN disc d USING (rank)
        ), nrel AS (
            SELECT count(*)::BIGINT AS n_rel_corpus FROM rel
        )
        SELECT n_rel_corpus, dcg_scaled, idcg_scaled,
               CASE WHEN idcg_scaled > 0 THEN
                 floor(dcg_scaled::DOUBLE / idcg_scaled * 1000000.0 + 0.5)::BIGINT
               END AS ndcg_micro
        FROM dcg CROSS JOIN ideal CROSS JOIN nrel
    """


ORACLES["retrieval_ndcg"] = _ndcg_oracle()


ORACLES["quality_language_confusion"] = f"""
    WITH pred AS (
        SELECT labeled_lang, predicted_lang FROM ({ORACLES["lang_id_heuristic"]}) p
    ), cells AS (
        SELECT labeled_lang, predicted_lang, count(*)::BIGINT AS n_docs
        FROM pred GROUP BY 1, 2
    )
    SELECT labeled_lang, predicted_lang, n_docs,
           (sum(n_docs) OVER (PARTITION BY labeled_lang))::BIGINT AS n_labeled_total,
           CASE WHEN labeled_lang = predicted_lang THEN
             floor(n_docs::DOUBLE
                   / (sum(n_docs) OVER (PARTITION BY labeled_lang))
                   * 1000000.0 + 0.5)::BIGINT
           END AS recall_micro
    FROM cells
"""


ORACLES["lm_kneser_ney_bigram"] = f"""
    WITH tok AS (
        SELECT {TOKENS_DUCK} AS tokens FROM documents
    ), bg AS (
        SELECT unnest(list_transform(generate_series(1, len(tokens) - 1),
                                     i -> tokens[i] || ' ' || tokens[i + 1])) AS pair
        FROM tok WHERE len(tokens) >= 2
    ), pair_cnt AS MATERIALIZED (
        SELECT pair, count(*)::BIGINT AS c_pair FROM bg GROUP BY pair
    ), ctx AS (
        SELECT split_part(pair, ' ', 1) AS w1,
               sum(c_pair)::BIGINT AS c_ctx, count(*)::BIGINT AS n1f
        FROM pair_cnt GROUP BY 1
    ), bwd AS (
        SELECT split_part(pair, ' ', 2) AS w2, count(*)::BIGINT AS n1b
        FROM pair_cnt GROUP BY 1
    ), nd AS (
        SELECT count(*)::BIGINT AS nd FROM pair_cnt
    ), top_ctx AS (
        SELECT w1, c_ctx, n1f FROM (
            SELECT *, row_number() OVER (ORDER BY c_ctx DESC, w1 ASC) AS ctx_rank
            FROM ctx
        ) WHERE ctx_rank <= {KN_TOP_CTX}
    ), scored AS (
        SELECT t.w1, split_part(p.pair, ' ', 2) AS w2, p.c_pair, t.c_ctx,
               CASE WHEN nd.nd <= {KN_ND_GUARD} THEN
                   (2000000 * (({KN_D_DEN} * p.c_pair - {KN_D_NUM}) * nd.nd
                               + {KN_D_NUM} * t.n1f * b.n1b)
                    + {KN_D_DEN} * t.c_ctx * nd.nd)
                   // (2 * {KN_D_DEN} * t.c_ctx * nd.nd) END AS kn_micro
        FROM pair_cnt p
        JOIN top_ctx t ON t.w1 = split_part(p.pair, ' ', 1)
        JOIN bwd b ON b.w2 = split_part(p.pair, ' ', 2)
        CROSS JOIN nd
    ), fin AS (
        SELECT *, row_number() OVER (PARTITION BY w1
                      ORDER BY kn_micro DESC, w2 ASC) AS kn_rank
        FROM scored
    )
    SELECT w1, w2, kn_rank, c_pair, c_ctx, kn_micro::BIGINT AS kn_micro
    FROM fin WHERE kn_rank <= {KN_TOP_W}
"""


ORACLES["lm_kneser_ney_surprisal"] = f"""
    WITH tok AS (
        SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(tokens) - 1),
                                     i -> tokens[i] || ' ' || tokens[i + 1])) AS pair
        FROM tok WHERE len(tokens) >= 2
    ), pair_cnt AS MATERIALIZED (
        SELECT pair, count(*)::BIGINT AS c_pair FROM bg GROUP BY pair
    ), ctx AS (
        SELECT split_part(pair, ' ', 1) AS w1,
               sum(c_pair)::BIGINT AS c_ctx, count(*)::BIGINT AS n1f
        FROM pair_cnt GROUP BY 1
    ), bwd AS (
        SELECT split_part(pair, ' ', 2) AS w2, count(*)::BIGINT AS n1b
        FROM pair_cnt GROUP BY 1
    ), nd AS (
        SELECT count(*)::BIGINT AS nd FROM pair_cnt
    ), scored AS (
        SELECT bg.doc_id,
               CASE WHEN nd.nd <= {KN_ND_GUARD} THEN
                   floor(-ln(
                       (({KN_D_DEN} * p.c_pair - {KN_D_NUM}) * nd.nd
                        + {KN_D_NUM} * c.n1f * b.n1b)::DOUBLE
                       / ({KN_D_DEN} * c.c_ctx * nd.nd)::DOUBLE
                   ) * 1000000 + 0.5)::BIGINT END AS micro
        FROM bg
        JOIN pair_cnt p USING (pair)
        JOIN ctx c ON c.w1 = split_part(bg.pair, ' ', 1)
        JOIN bwd b ON b.w2 = split_part(bg.pair, ' ', 2)
        CROSS JOIN nd
    )
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           sum(micro)::BIGINT AS kn_xent_micro,
           CASE WHEN sum(micro) IS NOT NULL THEN
             ((2 * sum(micro) + count(*)) // (2 * count(*)))::BIGINT
           END AS avg_kn_surprisal_micronats
    FROM scored GROUP BY doc_id
"""


ORACLES["vocab_zipf_slope"] = f"""
    WITH vocab AS (
        SELECT token, count(*)::BIGINT AS cnt
        FROM (SELECT unnest({TOKENS_DUCK}) AS token FROM documents)
        GROUP BY token
    ), top AS (
        SELECT token, cnt FROM vocab
        ORDER BY cnt DESC, token ASC LIMIT {ZIPF_TOP_RANKS}
    ), ranked AS (
        SELECT floor(ln(row_number() OVER (ORDER BY cnt DESC, token ASC)::DOUBLE)
                     * 1000 + 0.5)::BIGINT AS x,
               floor(ln(cnt::DOUBLE) * 1000 + 0.5)::BIGINT AS y
        FROM top
    ), mom AS (
        SELECT count(*)::BIGINT AS r, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
        FROM ranked
    )
    SELECT r AS n_ranks,
           CASE WHEN r * sxx - sx * sx <> 0 THEN floor(
             cast(r * sxy - sx * sy AS DOUBLE) / cast(r * sxx - sx * sx AS DOUBLE)
             * 1000000 + 0.5)::BIGINT END AS zipf_slope_micro,
           floor((cast(sy AS DOUBLE)
                  - (CASE WHEN r * sxx - sx * sx <> 0 THEN
                       cast(r * sxy - sx * sy AS DOUBLE)
                       / cast(r * sxx - sx * sx AS DOUBLE) END)
                    * cast(sx AS DOUBLE))
                 / cast(r AS DOUBLE) / 1000.0 * 1000000.0 + 0.5)::BIGINT
             AS zipf_intercept_micro
    FROM mom
"""

ORACLES["quality_lang_mutual_info"] = f"""
    WITH joint AS (
        SELECT lang, least(n_chars // {MI_BUCKET_WIDTH}, {MI_BUCKET_MAX})::INT
                   AS chars_bucket,
               count(*)::BIGINT AS n_xy
        FROM documents GROUP BY 1, 2
    ), mx AS (
        SELECT lang, sum(n_xy)::BIGINT AS n_x FROM joint GROUP BY lang
    ), my AS (
        SELECT chars_bucket, sum(n_xy)::BIGINT AS n_y FROM joint GROUP BY 1
    ), nn AS (SELECT sum(n_xy)::BIGINT AS n_total FROM joint)
    SELECT j.lang, j.chars_bucket, j.n_xy, mx.n_x, my.n_y,
           floor((ln(cast(j.n_xy AS DOUBLE)) + ln(cast(nn.n_total AS DOUBLE))
                  - ln(cast(mx.n_x AS DOUBLE)) - ln(cast(my.n_y AS DOUBLE)))
                 * 1000000 + 0.5)::BIGINT AS pmi_micronats,
           floor(cast(j.n_xy AS DOUBLE) / cast(nn.n_total AS DOUBLE)
                 * (ln(cast(j.n_xy AS DOUBLE)) + ln(cast(nn.n_total AS DOUBLE))
                    - ln(cast(mx.n_x AS DOUBLE)) - ln(cast(my.n_y AS DOUBLE)))
                 * 1000000.0 + 0.5)::BIGINT AS mi_term_micronats
    FROM joint j
    JOIN mx USING (lang) JOIN my USING (chars_bucket) CROSS JOIN nn
"""


def _mrr_oracle() -> str:
    qvals = ", ".join(
        f"({qi}, '{t}', {len(terms)})"
        for qi, terms in enumerate(MRR_QUERIES)
        for t in terms
    )
    return f"""
        WITH q(query_id, term, n_terms) AS (VALUES {qvals}),
        tok AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
        ),
        hits AS (
            SELECT q.query_id, q.n_terms, t.doc_id,
                   count(*)::BIGINT AS tf_total,
                   count(DISTINCT q.term)::BIGINT AS n_hit_terms
            FROM tok t JOIN q ON t.token = q.term
            GROUP BY 1, 2, 3
        ),
        topk AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY tf_total DESC, doc_id ASC) AS rank
            FROM hits
        ),
        per_q AS (
            SELECT query_id,
                   min(CASE WHEN n_hit_terms = n_terms THEN rank END)::BIGINT
                       AS first_rel_rank
            FROM topk WHERE rank <= {MRR_K} GROUP BY query_id
        ),
        scored AS (
            SELECT qq.query_id, p.first_rel_rank,
                   CASE WHEN p.first_rel_rank IS NOT NULL THEN
                     (2000000 + p.first_rel_rank) // (2 * p.first_rel_rank)
                   ELSE 0 END::BIGINT AS rr_micro
            FROM (SELECT DISTINCT query_id FROM q) qq
            LEFT JOIN per_q p USING (query_id)
        ),
        m AS (
            SELECT ((2 * sum(rr_micro) + count(*)) // (2 * count(*)))::BIGINT
                       AS mrr_micro
            FROM scored
        )
        SELECT s.query_id, s.first_rel_rank, s.rr_micro, m.mrr_micro
        FROM scored s CROSS JOIN m
    """


ORACLES["retrieval_mrr"] = _mrr_oracle()


#: Dirichlet smoothing pseudo-count for query-likelihood retrieval (Zhai &
#: Lafferty 2001). Sized to the fixture's ~100-token docs; the standard
#: web-scale default is ~2000.
QL_MU = 100
QL_TOPK = 20


def q_retrieval_query_likelihood(spark: SparkSession, sf: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001) for the fixed BM25_TERMS query — the language-modeling
    counterpart to bm25_topk: score(q, d) = sum_t ln((tf_{t,d} + mu *
    cf_t / T) / (|d| + mu)), ranking docs by how probable the query is
    under each doc's smoothed unigram LM. Running it next to BM25 (and
    fusing via retrieval_rrf_fusion) is the classic lexical ensemble.

    Unlike BM25 the smoothed term probability is nonzero for tf = 0, so
    EVERY doc scores against every query term — the doc-stats wide
    aggregate (one explode + groupBy producing doclen and the per-term
    tf columns together, the bm25_topk shape) feeds a pure map-side
    score; no postings filter, no per-term pass. Corpus stats (T and
    per-term collection frequencies cf_t) ride one broadcast scalar row.

    Determinism: tf, doclen, cf, T are exact integers; each term's ln is
    one fixed double expression over those integers floored to signed
    MICRO-NATS, and the |q| per-term micros add as plain integer column
    arithmetic (no float sum anywhere). The top-k cut orders by the
    integer score with doc_id tiebreak.

    100 TB: one corpus scan for doc stats + one self-derived branch for
    the corpus row (materialize doc_stats once for a real index, the
    bm25 note); the ranking cut is a global TakeOrdered top-k, never a
    full sort."""
    docs = load(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode_outer(F.expr(TOKENS)).alias("token"))
    doc_stats = tok.groupBy("doc_id").agg(
        F.count("token").alias("doclen"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    corpus = doc_stats.groupBy().agg(
        F.sum("doclen").alias("t_tokens"),
        *[F.sum(f"tf_{i}").alias(f"cf_{i}") for i in range(len(BM25_TERMS))],
    )
    term_micros = [
        F.expr(
            f"case when cf_{i} > 0 and t_tokens > 0 then"
            f" cast(floor(ln((cast(tf_{i} as double)"
            f" + {QL_MU} * cast(cf_{i} as double) / cast(t_tokens as double))"
            f" / (cast(doclen as double) + {QL_MU})) * 1000000.0 + 0.5)"
            " as bigint) else null end"
        ).alias(f"m_{i}")
        for i in range(len(BM25_TERMS))
    ]
    scored = doc_stats.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "doclen",
        sum(
            (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(BM25_TERMS))
        ).alias("n_terms_hit"),
        *term_micros,
    )
    total = None
    for i in range(len(BM25_TERMS)):
        total = F.col(f"m_{i}") if total is None else total + F.col(f"m_{i}")
    return (
        scored.select(
            "doc_id", "doclen", "n_terms_hit", total.alias("ql_micronats")
        )
        .orderBy(F.col("ql_micronats").desc(), F.col("doc_id").asc())
        .limit(QL_TOPK)
    )


#: burstiness census: minimum document frequency for a term to be reported
#: (variance of a 2-doc term is noise) and the report size
BURST_MIN_DF = 5
BURST_TOPK = 20


def q_text_term_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Term burstiness census: the variance-to-mean ratio (index of
    dispersion, Church & Gale 1995) of each term's per-document tf over
    ALL docs (zeros included) — bursty terms (VMR >> 1) concentrate in
    few docs (topical/boilerplate markers); VMR ~ 1 is Poisson-like
    function-word behavior. The standard signal for spotting template
    boilerplate that repetition_ngram's within-doc view misses.

    VMR = (E[tf^2] - E[tf]^2) / E[tf] with expectations over n_docs.
    Zeros contribute nothing to sum(tf) or sum(tf^2), so the per-term
    postings aggregate (sum, sum of squares, df, max) IS the full-corpus
    moment set once n_docs rides in as a broadcast scalar — no dense
    term x doc grid is ever built.

    Determinism: all moments are exact integers; VMR evaluates in one
    fixed double expression floored to micros. int64-headroom guard
    (ENFORCED, the Mann-Whitney discipline): sum(tf^2) <= df * max_tf^2,
    so the per-term guard reads only df and max_tf (exact at any scale):
    log2(df) + 2*log2(max_tf) < 62; tripped terms NULL their vmr_micro
    LOUDLY (headroom_ok = false) and the oracle mirrors the CASE.

    Scale shape: one explode + combine-friendly groupBy(term, doc) then
    groupBy(term) — both map-side-combining; n_docs is a 1-row broadcast;
    the report is a global TakeOrdered top-k. Nothing term x doc sized
    shuffles twice, no window anywhere."""
    docs = load(spark, sf, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    term = tf.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("sum_tf"),
        F.sum(F.col("tf") * F.col("tf")).alias("sum_tf2"),
        F.max("tf").alias("max_tf"),
    )
    ok = F.expr(
        "log2(cast(df as double)) + 2.0 * log2(cast(max_tf as double)) < 62.0"
    )
    vmr = F.expr(
        "case when sum_tf > 0 then"
        " (cast(sum_tf2 as double) / cast(n_docs as double)"
        "  - (cast(sum_tf as double) / cast(n_docs as double))"
        "    * (cast(sum_tf as double) / cast(n_docs as double)))"
        " / (cast(sum_tf as double) / cast(n_docs as double)) end"
    )
    return (
        term.where(F.col("df") >= BURST_MIN_DF)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            "sum_tf",
            F.when(ok, F.floor(vmr * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
                "vmr_micro"
            ),
            ok.alias("headroom_ok"),
        )
        .orderBy(F.col("vmr_micro").desc_nulls_last(), F.col("token").asc())
        .limit(BURST_TOPK)
    )


def q_lm_good_turing_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Good-Turing count-of-counts table (Good 1953; Gale & Sampson 1995
    notation): N_r = number of token types observed exactly r times, the
    adjusted count r* = (r+1) * N_{r+1} / N_r, and the leave-one-out
    unseen-mass estimate p_0 = N_1 / N attached as a scalar — the
    smoothing table every count-based LM (and the species-richness /
    coverage estimators built on it) starts from, complementing the
    Kneser-Ney ops with the frequency-spectrum view.

    r* is NULL where N_{r+1} = 0 (the gap seam Simple Good-Turing fills
    by regression — out of scope here, the raw table is the contract);
    the N_{r+1} lookup is an equi-JOIN of the count-of-counts table onto
    itself at r+1 rather than a lead() window, so gaps in observed r
    resolve exactly and nothing needs dense r.

    Determinism: N_r, N, N_1 are exact integers from two nested
    combine-friendly aggregates (token counts, then counts of counts);
    r* and p_0 are single double expressions over integers floored to
    micros.

    Scale shape: corpus scan -> vocab aggregate -> |distinct r|-sized
    table (tiny; Zipf gives ~O(sqrt(vocab)) distinct counts); the self
    join and the scalar attach are broadcasts. Nothing vocab-sized is
    sorted or windowed."""
    docs = load(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(F.expr(TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    cc = vocab.groupBy("cnt").agg(F.count("*").alias("n_types")).select(
        F.col("cnt").alias("r"), "n_types"
    )
    nxt = cc.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("n_types_next"))
    tot = cc.agg(
        F.sum(F.col("r") * F.col("n_types")).alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_types")).otherwise(0)).alias("n1"),
    )
    return (
        cc.join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_types",
            F.col("n_types_next").alias("n_types_next"),
            F.expr(
                "case when n_types_next is not null then"
                " cast(floor((cast(r as double) + 1.0)"
                " * cast(n_types_next as double) / cast(n_types as double)"
                " * 1000000.0 + 0.5) as bigint) end"
            ).alias("r_star_micro"),
            F.expr(
                "case when n_tokens > 0 then"
                " cast(floor(cast(n1 as double) / cast(n_tokens as double)"
                " * 1000000.0 + 0.5) as bigint) end"
            ).alias("unseen_mass_micro"),
        )
    )


QUERIES["retrieval_query_likelihood"] = q_retrieval_query_likelihood
QUERIES["text_term_burstiness"] = q_text_term_burstiness
QUERIES["lm_good_turing_counts"] = q_lm_good_turing_counts


def _ql_oracle() -> str:
    n = len(BM25_TERMS)
    tf_cols = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END)::BIGINT AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    cf_cols = ", ".join(
        f"sum(tf_{i})::BIGINT AS cf_{i}" for i in range(n)
    )
    term_micros = " + ".join(
        f"""CASE WHEN cf_{i} > 0 AND t_tokens > 0 THEN
            floor(ln((tf_{i}::DOUBLE + {QL_MU} * cf_{i}::DOUBLE / t_tokens::DOUBLE)
                     / (doclen::DOUBLE + {QL_MU})) * 1000000.0 + 0.5)::BIGINT
            ELSE NULL END"""
        for i in range(n)
    )
    hits = " + ".join(f"(tf_{i} > 0)::INT" for i in range(n))
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
        ), doc_stats AS (
            SELECT d.doc_id,
                   count(t.token)::BIGINT AS doclen, {tf_cols}
            FROM documents d LEFT JOIN tok t USING (doc_id)
            GROUP BY d.doc_id
        ), corpus AS (
            SELECT sum(doclen)::BIGINT AS t_tokens, {cf_cols} FROM doc_stats
        )
        SELECT doc_id, doclen, ({hits})::INT AS n_terms_hit,
               ({term_micros})::BIGINT AS ql_micronats
        FROM doc_stats CROSS JOIN corpus
        ORDER BY ql_micronats DESC, doc_id ASC
        LIMIT {QL_TOPK}
    """


ORACLES["retrieval_query_likelihood"] = _ql_oracle()

ORACLES["text_term_burstiness"] = f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
    ), n_docs_t AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    tf AS (
        SELECT token, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY token, doc_id
    ), term AS (
        SELECT token, count(*)::BIGINT AS df, sum(tf)::BIGINT AS sum_tf,
               sum(tf * tf)::BIGINT AS sum_tf2, max(tf)::BIGINT AS max_tf
        FROM tf GROUP BY token
    ), guarded AS (
        SELECT *, log2(df::DOUBLE) + 2.0 * log2(max_tf::DOUBLE) < 62.0 AS headroom_ok
        FROM term WHERE df >= {BURST_MIN_DF}
    )
    SELECT token, df, sum_tf,
           CASE WHEN headroom_ok THEN
             CASE WHEN sum_tf > 0 THEN
               floor((sum_tf2::DOUBLE / n_docs::DOUBLE
                      - (sum_tf::DOUBLE / n_docs::DOUBLE)
                        * (sum_tf::DOUBLE / n_docs::DOUBLE))
                     / (sum_tf::DOUBLE / n_docs::DOUBLE)
                     * 1000000.0 + 0.5)::BIGINT END
           END AS vmr_micro,
           headroom_ok
    FROM guarded CROSS JOIN n_docs_t
    ORDER BY vmr_micro DESC NULLS LAST, token ASC
    LIMIT {BURST_TOPK}
"""

ORACLES["lm_good_turing_counts"] = f"""
    WITH vocab AS (
        SELECT token, count(*)::BIGINT AS cnt
        FROM (SELECT unnest({TOKENS_DUCK}) AS token FROM documents)
        GROUP BY token
    ), cc AS (
        SELECT cnt AS r, count(*)::BIGINT AS n_types FROM vocab GROUP BY cnt
    ), tot AS (
        SELECT sum(r * n_types)::BIGINT AS n_tokens,
               sum(CASE WHEN r = 1 THEN n_types ELSE 0 END)::BIGINT AS n1
        FROM cc
    )
    SELECT c.r, c.n_types, nx.n_types AS n_types_next,
           CASE WHEN nx.n_types IS NOT NULL THEN
             floor((c.r::DOUBLE + 1.0) * nx.n_types::DOUBLE / c.n_types::DOUBLE
                   * 1000000.0 + 0.5)::BIGINT END AS r_star_micro,
           CASE WHEN t.n_tokens > 0 THEN
             floor(t.n1::DOUBLE / t.n_tokens::DOUBLE * 1000000.0 + 0.5)::BIGINT
           END AS unseen_mass_micro
    FROM cc c LEFT JOIN cc nx ON nx.r = c.r + 1 CROSS JOIN tot t
"""


def q_quality_gate_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the two independent quality
    raters this engine already runs — the Gopher rule conjunction and
    the fastText-style linear gate: chance-corrected agreement is the
    standard way to decide whether a second gate adds signal or merely
    echoes the first (kappa ~ 1: redundant; kappa ~ 0: independent
    errors worth ensembling).

    kappa = (p_o - p_e) / (1 - p_e) over the 2x2 agreement table; the
    four cells are exact integers from ONE inner join of the two per-doc
    verdict frames on doc_id; p_o/p_e evaluate in one fixed double
    expression over those integers, floored to micros; a degenerate
    p_e = 1 (both raters constant) NULLs kappa ANSI-safely.

    Scale shape: both gates are scan-speed map-side pipelines (the
    fastText side has one combine-friendly doc aggregate); the verdict
    join is doc-keyed; the census is a 1-row fold."""
    gopher = q_quality_gopher_rules(spark, sf).select("doc_id", "passes_gopher")
    ft = q_quality_fasttext_gate(spark, sf).select("doc_id", "keep")
    cells = gopher.join(ft, "doc_id").agg(
        F.sum(F.expr("if(passes_gopher and keep, 1, 0)")).alias("a"),
        F.sum(F.expr("if(passes_gopher and not keep, 1, 0)")).alias("b"),
        F.sum(F.expr("if(not passes_gopher and keep, 1, 0)")).alias("c"),
        F.sum(F.expr("if(not passes_gopher and not keep, 1, 0)")).alias("d"),
    )
    kappa = F.expr(
        "case when a + b + c + d > 0 and"
        " 1.0 - (cast(a + b as double) * cast(a + c as double)"
        "        + cast(c + d as double) * cast(b + d as double))"
        "   / (cast(a + b + c + d as double) * cast(a + b + c + d as double))"
        " > 0.0 then"
        " ((cast(a + d as double) / cast(a + b + c + d as double))"
        "  - (cast(a + b as double) * cast(a + c as double)"
        "     + cast(c + d as double) * cast(b + d as double))"
        "    / (cast(a + b + c + d as double) * cast(a + b + c + d as double)))"
        " / (1.0 - (cast(a + b as double) * cast(a + c as double)"
        "           + cast(c + d as double) * cast(b + d as double))"
        "   / (cast(a + b + c + d as double) * cast(a + b + c + d as double)))"
        " end"
    )
    return cells.select(
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n_docs"),
        F.col("a").alias("both_keep"),
        F.col("b").alias("gopher_only"),
        F.col("c").alias("fasttext_only"),
        F.col("d").alias("both_drop"),
        F.floor(kappa * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias(
            "kappa_micro"
        ),
    )


QUERIES["quality_gate_kappa"] = q_quality_gate_kappa
ORACLES["quality_gate_kappa"] = f"""
    WITH g AS (
        SELECT doc_id, passes_gopher FROM ({_GOPHER_ORACLE})
    ), f AS (
        SELECT doc_id, keep FROM ({ORACLES["quality_fasttext_gate"]})
    ), cells AS (
        SELECT sum((passes_gopher AND keep)::INT)::BIGINT AS a,
               sum((passes_gopher AND NOT keep)::INT)::BIGINT AS b,
               sum((NOT passes_gopher AND keep)::INT)::BIGINT AS c,
               sum((NOT passes_gopher AND NOT keep)::INT)::BIGINT AS d
        FROM g JOIN f USING (doc_id)
    )
    SELECT (a + b + c + d)::BIGINT AS n_docs,
           a AS both_keep, b AS gopher_only, c AS fasttext_only, d AS both_drop,
           CASE WHEN a + b + c + d > 0 AND
                     1.0 - ((a + b)::DOUBLE * (a + c)::DOUBLE
                            + (c + d)::DOUBLE * (b + d)::DOUBLE)
                       / ((a + b + c + d)::DOUBLE * (a + b + c + d)::DOUBLE) > 0.0
                THEN floor((((a + d)::DOUBLE / (a + b + c + d)::DOUBLE)
                            - ((a + b)::DOUBLE * (a + c)::DOUBLE
                               + (c + d)::DOUBLE * (b + d)::DOUBLE)
                              / ((a + b + c + d)::DOUBLE * (a + b + c + d)::DOUBLE))
                           / (1.0 - ((a + b)::DOUBLE * (a + c)::DOUBLE
                                     + (c + d)::DOUBLE * (b + d)::DOUBLE)
                              / ((a + b + c + d)::DOUBLE * (a + b + c + d)::DOUBLE))
                           * 1000000.0 + 0.5)::BIGINT END AS kappa_micro
    FROM cells
"""


def q_retrieval_precision_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Precision@K / Recall@K / F1@K over the same fixed evaluation
    queries, ranking, and relevance judgment as retrieval_mrr — the
    set-overlap completion of the eval suite (NDCG grades graded order,
    MRR the first hit; P/R/F1 grade the whole retrieved SET, the metric
    reported for filtering/dedup retrieval where every hit counts).

    Relevant = the document contains EVERY query term; retrieved = the
    top MRR_K by (total query-term tf desc, doc_id). All three metrics
    are exact integer micros: P = h/K, R = h/R_q, and F1 = 2PR/(P+R)
    simplifies to 2h/(K + R_q) — each quantized by the exact integer
    division (2e6*a + b) div (2b), so no doubles exist anywhere in the
    query.

    Scale shape: the retrieval_mrr plan (broadcast query set onto term-
    filtered postings, WindowGroupLimit partial top-K) plus ONE extra
    |queries|-row aggregate for the total-relevant denominators, computed
    from the SAME hits frame before the rank cut — no second corpus
    scan."""
    docs = load(spark, sf, "documents")
    qrows = [
        (qi, t, len(terms)) for qi, terms in enumerate(MRR_QUERIES) for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id int, term string, n_terms int")
    tok = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
    hits = (
        tok.join(F.broadcast(qdf), tok["token"] == qdf["term"])
        .groupBy("query_id", "n_terms", "doc_id")
        .agg(
            F.count("*").alias("tf_total"),
            F.count_distinct("term").alias("n_hit_terms"),
        )
    ).transform(pinned)
    rel = F.col("n_hit_terms") == F.col("n_terms")
    total_rel = hits.groupBy("query_id").agg(
        F.sum(rel.cast("bigint")).alias("n_relevant")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("tf_total").desc(), F.col("doc_id").asc()
    )
    topk = hits.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= MRR_K
    )
    per_q = topk.groupBy("query_id").agg(
        F.sum(rel.cast("bigint")).alias("hits_at_k"),
        F.count("*").alias("n_retrieved"),
    )
    qids = qdf.select("query_id").distinct()
    return (
        qids.join(per_q, "query_id", "left")
        .join(total_rel, "query_id", "left")
        .na.fill({"hits_at_k": 0, "n_retrieved": 0, "n_relevant": 0})
        .select(
            "query_id",
            "hits_at_k",
            "n_retrieved",
            "n_relevant",
            F.expr(
                f"(2000000 * hits_at_k + {MRR_K}) div (2 * {MRR_K})"
            ).alias("precision_micro"),
            F.expr(
                "case when n_relevant > 0 then"
                " (2000000 * hits_at_k + n_relevant) div (2 * n_relevant)"
                " else cast(0 as bigint) end"
            ).alias("recall_micro"),
            F.expr(
                f"case when hits_at_k > 0 then"
                f" (4000000 * hits_at_k + ({MRR_K} + n_relevant))"
                f" div (2 * ({MRR_K} + n_relevant))"
                " else cast(0 as bigint) end"
            ).alias("f1_micro"),
        )
        .orderBy("query_id")
    )


def _pr_oracle() -> str:
    qvals = ", ".join(
        f"({qi}, '{t}', {len(terms)})"
        for qi, terms in enumerate(MRR_QUERIES)
        for t in terms
    )
    return f"""
        WITH q(query_id, term, n_terms) AS (VALUES {qvals}),
        tok AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
        ), hits AS (
            SELECT q.query_id, q.n_terms, t.doc_id,
                   count(*)::BIGINT AS tf_total,
                   count(DISTINCT q.term)::BIGINT AS n_hit_terms
            FROM tok t JOIN q ON t.token = q.term
            GROUP BY 1, 2, 3
        ), total_rel AS (
            SELECT query_id,
                   sum((n_hit_terms = n_terms)::INT)::BIGINT AS n_relevant
            FROM hits GROUP BY query_id
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY tf_total DESC, doc_id ASC) AS rank
            FROM hits
        ), per_q AS (
            SELECT query_id,
                   sum((n_hit_terms = n_terms)::INT)::BIGINT AS hits_at_k,
                   count(*)::BIGINT AS n_retrieved
            FROM ranked WHERE rank <= {MRR_K} GROUP BY query_id
        ), qids AS (SELECT DISTINCT query_id FROM q)
        SELECT qids.query_id,
               coalesce(p.hits_at_k, 0)::BIGINT AS hits_at_k,
               coalesce(p.n_retrieved, 0)::BIGINT AS n_retrieved,
               coalesce(tr.n_relevant, 0)::BIGINT AS n_relevant,
               ((2000000 * coalesce(p.hits_at_k, 0) + {MRR_K})
                // (2 * {MRR_K}))::BIGINT AS precision_micro,
               CASE WHEN coalesce(tr.n_relevant, 0) > 0 THEN
                 ((2000000 * coalesce(p.hits_at_k, 0) + tr.n_relevant)
                  // (2 * tr.n_relevant))::BIGINT
               ELSE 0 END AS recall_micro,
               CASE WHEN coalesce(p.hits_at_k, 0) > 0 THEN
                 ((4000000 * p.hits_at_k + ({MRR_K} + coalesce(tr.n_relevant, 0)))
                  // (2 * ({MRR_K} + coalesce(tr.n_relevant, 0))))::BIGINT
               ELSE 0 END AS f1_micro
        FROM qids
        LEFT JOIN per_q p USING (query_id)
        LEFT JOIN total_rel tr USING (query_id)
        ORDER BY query_id
    """


QUERIES["retrieval_precision_recall"] = q_retrieval_precision_recall
ORACLES["retrieval_precision_recall"] = _pr_oracle()


#: RAKE geometry: candidate phrases are maximal stopword-free token runs,
#: truncated to this many words (the standard RAKE hygiene — unbounded runs
#: make degree scores meaningless), reported top-k by score
RAKE_MAX_PHRASE = 3
RAKE_TOPK = 20


def q_text_keyphrase_rake(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are the maximal stopword-delimited token runs (gaps-and-islands over
    the token stream — island id = running count of stopwords, the
    classic SQL formulation), each word scores deg(w)/freq(w) with
    deg(w) = sum of host-phrase lengths and freq(w) = occurrences over
    ALL phrase instances, and a phrase scores the sum of its word
    scores. The degree/frequency ratio up-weights words living in long
    collocations — TextRank's co-occurrence signal with zero iteration.

    Determinism: deg and freq are exact integers; the phrase score
    sum(deg_i / freq_i) is assembled as the exact rational
    sum(deg_i * (prod_j freq_j / freq_i)) / prod_j freq_j over the
    phrase's <= RAKE_MAX_PHRASE words (the div is exact — every freq_i
    divides the product), then quantized by ONE double division floored
    to micros. int64-headroom guard (ENFORCED): num/den are bounded by
    9 * max_freq^3, so the per-phrase guard reads only the max word
    frequency: 3 * log2(max_freq) + 4 < 62; tripped phrases NULL their
    score LOUDLY, mirrored in the oracle.

    Scale shape: one posexplode; the island id is a running sum over
    per-DOC partitions (the per-doc sequence discipline); phrase
    assembly and word stats are combine-friendly aggregates; the
    per-phrase word re-join is bounded by phrase length; the report is
    a global TakeOrdered top-k."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.expr(TOKENS)).alias("pos", "token")
    ).withColumn("is_stop", F.col("token").isin(*STOPWORDS))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    runs = toks.withColumn(
        "island", F.sum(F.col("is_stop").cast("int")).over(w_doc)
    ).where(~F.col("is_stop"))
    instances = (
        runs.groupBy("doc_id", "island")
        .agg(
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda x: x.token,
                ),
                1,
                RAKE_MAX_PHRASE,
            ).alias("words")
        )
        .select(F.array_join("words", " ").alias("phrase"), "words")
    )
    inst_members = instances.select(
        "phrase", F.size("words").alias("plen"), F.explode("words").alias("token")
    )
    word_stats = inst_members.groupBy("token").agg(
        F.sum("plen").alias("deg"), F.count("*").alias("freq")
    )
    uniq = instances.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences"),
        F.first("words").alias("words"),  # phrase determines words exactly
    )
    pairs = (
        uniq.select("phrase", "n_occurrences", F.explode("words").alias("token"))
        .join(F.broadcast(word_stats), "token")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.count("*").alias("n_words"),
            F.expr(
                "aggregate(collect_list(cast(freq as bigint)),"
                " cast(1 as bigint), (acc, x) -> acc * x)"
            ).alias("den"),
            F.collect_list(F.struct("deg", "freq")).alias("df"),
            F.max("freq").alias("max_freq"),
        )
    )
    ok = F.expr("3.0 * log2(cast(max_freq as double)) + 4.0 < 62.0")
    num = F.expr(
        "aggregate(df, cast(0 as bigint), (acc, p) ->"
        " acc + p.deg * (den div p.freq))"
    )
    score = F.expr(
        "cast(floor(cast(num as double) / cast(den as double)"
        " * 1000000.0 + 0.5) as bigint)"
    )
    return (
        pairs.withColumn("num", num)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.when(ok, F.col("num")).alias("score_num"),
            F.when(ok, F.col("den")).alias("score_den"),
            F.when(ok, score).alias("rake_micro"),
            ok.alias("headroom_ok"),
        )
        .orderBy(F.col("rake_micro").desc_nulls_last(), F.col("phrase").asc())
        .limit(RAKE_TOPK)
    )


ORACLES["text_keyphrase_rake"] = f"""
    WITH tok_lists AS (
        SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
    ), toks AS (
        SELECT doc_id, i AS pos, toks[i] AS token,
               toks[i] IN ({_SW}) AS is_stop
        FROM tok_lists, unnest(generate_series(1, len(toks))) t(i)
    ), runs AS (
        SELECT doc_id, pos, token,
               sum(is_stop::INT) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM toks
        QUALIFY NOT is_stop
    ), instances AS (
        SELECT array_to_string(words, ' ') AS phrase, words
        FROM (
            SELECT doc_id, island,
                   list_slice(list_transform(
                       list_sort(list({{'pos': pos, 'token': token}})),
                       r -> r.token),
                       1, {RAKE_MAX_PHRASE}) AS words
            FROM runs GROUP BY doc_id, island
        )
    ), inst_members AS (
        SELECT phrase, len(words)::BIGINT AS plen, unnest(words) AS token
        FROM instances
    ), word_stats AS (
        SELECT token, sum(plen)::BIGINT AS deg, count(*)::BIGINT AS freq
        FROM inst_members GROUP BY token
    ), uniq AS (
        SELECT phrase, count(*)::BIGINT AS n_occurrences FROM instances
        GROUP BY phrase
    ), pairs AS (
        SELECT u.phrase, u.n_occurrences,
               count(*)::BIGINT AS n_words,
               list({{'deg': w.deg, 'freq': w.freq}}) AS df,
               max(w.freq)::BIGINT AS max_freq
        FROM (SELECT phrase, n_occurrences,
                     unnest(string_split(phrase, ' ')) AS token
              FROM uniq) u
        JOIN word_stats w USING (token)
        GROUP BY u.phrase, u.n_occurrences
    ), scored AS (
        SELECT phrase, n_words, n_occurrences, max_freq, df,
               list_reduce(list_transform(df, p -> p.freq),
                           (a, b) -> a * b)::BIGINT AS den,
               3.0 * log2(max_freq::DOUBLE) + 4.0 < 62.0 AS headroom_ok
        FROM pairs
    ), final AS (
        SELECT phrase, n_words, n_occurrences, den, headroom_ok,
               list_sum(list_transform(df, p ->
                   p.deg * (den // p.freq)))::BIGINT AS num
        FROM scored
    )
    SELECT phrase, n_words, n_occurrences,
           CASE WHEN headroom_ok THEN num END AS score_num,
           CASE WHEN headroom_ok THEN den END AS score_den,
           CASE WHEN headroom_ok THEN
             floor(num::DOUBLE / den::DOUBLE * 1000000.0 + 0.5)::BIGINT
           END AS rake_micro,
           headroom_ok
    FROM final
    ORDER BY rake_micro DESC NULLS LAST, phrase ASC
    LIMIT {RAKE_TOPK}
"""
QUERIES["text_keyphrase_rake"] = q_text_keyphrase_rake


#: Heaps-law census: cumulative vocabulary checkpoints every this many docs
#: (ordered by doc_id)
HEAPS_CHECKPOINT_DOCS = 50


def q_vocab_heaps_law(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978; V = K * n^beta):
    cumulative distinct vocabulary V and cumulative token count n are
    sampled at every HEAPS_CHECKPOINT_DOCS-th document (doc_id order),
    and beta/ln K come from the least-squares fit of ln V on ln n over
    the checkpoints — the corpus-growth diagnostic that predicts
    vocabulary size (and so hash/vocab table sizing) at 100x the data.

    The cumulative distinct count uses the first-appearance rewrite (the
    window_cumulative_distinct discipline): each token type maps to the
    POSITION of its first host doc (one aggregate), checkpoints then
    count first-appearances <= c — no sequential scan, no quadratic
    re-distinct. Token totals ride the same per-doc aggregate.

    Determinism: positions/counts are exact integers; ln values quantize
    to integer milli-nats BEFORE the regression moments (the
    vocab_zipf_slope discipline — order-independent integer moments,
    slope/intercept as identical-double ratios of exact integers,
    micro-floored once).

    Scale shape: one corpus scan -> (token, first_pos) + per-doc token
    counts; the checkpoint table is |n_docs / 50| rows; windows run over
    the checkpoint/doc tables only."""
    docs = load(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
    w_pos = Window.orderBy("doc_id")
    doc_stats = (
        tok.groupBy("doc_id")
        .agg(F.count("*").alias("doclen"))
        .withColumn("pos", F.row_number().over(w_pos))
    )
    first_pos = (
        tok.join(doc_stats.select("doc_id", "pos"), "doc_id")
        .groupBy("token")
        .agg(F.min("pos").alias("first_pos"))
    )
    w_cum = Window.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    checkpoints = (
        doc_stats.withColumn("cum_tokens", F.sum("doclen").over(w_cum))
        .withColumn("max_pos", F.max("pos").over(w_all))
        .where(
            (F.col("pos") % HEAPS_CHECKPOINT_DOCS == 0)
            | (F.col("pos") == F.col("max_pos"))
        )
        .select("pos", "cum_tokens")
    )
    new_types = first_pos.groupBy("first_pos").agg(
        F.count("*").alias("n_new")
    )
    w_types = Window.orderBy("first_pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vocab_at = new_types.withColumn("cum_vocab", F.sum("n_new").over(w_types))
    # checkpoint vocab = cumulative new types at the LAST first_pos <= pos:
    # an as-of join expressed as max-over-filter via a range condition on
    # the tiny checkpoint x first_pos product (both bounded tables)
    joined = (
        checkpoints.join(
            F.broadcast(vocab_at), F.col("first_pos") <= F.col("pos"), "left"
        )
        .groupBy("pos", "cum_tokens")
        .agg(F.max(F.struct("first_pos", "cum_vocab")).alias("m"))
        .select(
            "pos",
            "cum_tokens",
            F.coalesce(F.col("m.cum_vocab"), F.lit(0)).alias("cum_vocab"),
        )
    )
    pts = joined.where(F.col("cum_vocab") > 0).select(
        "pos",
        "cum_tokens",
        "cum_vocab",
        F.expr(
            "cast(floor(ln(cast(cum_tokens as double)) * 1000 + 0.5) as bigint)"
        ).alias("x"),
        F.expr(
            "cast(floor(ln(cast(cum_vocab as double)) * 1000 + 0.5) as bigint)"
        ).alias("y"),
    )
    # int64 headroom (ADVICE r9): every regression product is bounded by
    # r^2 * max(x,y)^2 (sx*sx, r*sxx, r*sxy, sx*sy), so the ENFORCED guard
    # is 2*log2(r) + 2*log2(max_xy) < 62 — beta/lnK NULL loudly past it
    # (~5M docs at 50-doc checkpoints), mirrored in the oracle. Same
    # discipline as the spearman/gini/RAKE siblings.
    mom = pts.agg(
        F.count("*").alias("r"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.max(F.greatest("x", "y")).alias("max_xy"),
    ).withColumn(
        "headroom_ok",
        F.expr(
            "2.0 * log2(cast(r as double))"
            " + 2.0 * log2(cast(greatest(max_xy, 2) as double)) < 62.0"
        ),
    )
    beta = F.expr(
        "case when headroom_ok and r * sxx - sx * sx <> 0 then"
        " cast(r * sxy - sx * sy as double) / cast(r * sxx - sx * sx as double)"
        " end"
    )
    return pts.crossJoin(F.broadcast(mom)).select(
        "pos",
        "cum_tokens",
        "cum_vocab",
        F.col("r").alias("n_checkpoints"),
        F.floor(beta * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias(
            "heaps_beta_micro"
        ),
        F.expr(
            "case when headroom_ok and r * sxx - sx * sx <> 0 then cast(floor("
            " (cast(sy as double) / r - (cast(r * sxy - sx * sy as double)"
            " / cast(r * sxx - sx * sx as double)) * cast(sx as double) / r)"
            " / 1000.0 * 1000000.0 + 0.5) as bigint) end"
        ).alias("heaps_lnk_micro"),
        "headroom_ok",
    )


ORACLES["vocab_heaps_law"] = f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
    ), doc_stats AS (
        SELECT doc_id, count(*)::BIGINT AS doclen,
               row_number() OVER (ORDER BY doc_id) AS pos
        FROM tok GROUP BY doc_id
    ), first_pos AS (
        SELECT t.token, min(d.pos)::BIGINT AS first_pos
        FROM tok t JOIN doc_stats d USING (doc_id)
        GROUP BY t.token
    ), checkpoints AS (
        SELECT pos, cum_tokens FROM (
            SELECT pos,
                   sum(doclen) OVER (ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                       AS cum_tokens,
                   max(pos) OVER () AS max_pos
            FROM doc_stats
        ) WHERE pos % {HEAPS_CHECKPOINT_DOCS} = 0 OR pos = max_pos
    ), vocab_at AS (
        SELECT first_pos,
               sum(n_new) OVER (ORDER BY first_pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                   AS cum_vocab
        FROM (SELECT first_pos, count(*)::BIGINT AS n_new
              FROM first_pos GROUP BY first_pos)
    ), joined AS (
        SELECT c.pos, c.cum_tokens,
               coalesce(max_by(v.cum_vocab, v.first_pos), 0)::BIGINT AS cum_vocab
        FROM checkpoints c LEFT JOIN vocab_at v ON v.first_pos <= c.pos
        GROUP BY c.pos, c.cum_tokens
    ), pts AS (
        SELECT pos, cum_tokens, cum_vocab,
               floor(ln(cum_tokens::DOUBLE) * 1000 + 0.5)::BIGINT AS x,
               floor(ln(cum_vocab::DOUBLE) * 1000 + 0.5)::BIGINT AS y
        FROM joined WHERE cum_vocab > 0
    ), mom AS (
        SELECT count(*)::BIGINT AS r, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
               max(greatest(x, y))::BIGINT AS max_xy,
               2.0 * log2(count(*)::DOUBLE)
                 + 2.0 * log2(greatest(max(greatest(x, y)), 2)::DOUBLE) < 62.0
                 AS headroom_ok
        FROM pts
    )
    SELECT pos, cum_tokens, cum_vocab, r AS n_checkpoints,
           CASE WHEN headroom_ok AND r * sxx - sx * sx <> 0 THEN
             floor((r * sxy - sx * sy)::DOUBLE / (r * sxx - sx * sx)::DOUBLE
                   * 1000000.0 + 0.5)::BIGINT END AS heaps_beta_micro,
           CASE WHEN headroom_ok AND r * sxx - sx * sx <> 0 THEN
             floor((sy::DOUBLE / r - ((r * sxy - sx * sy)::DOUBLE
                    / (r * sxx - sx * sx)::DOUBLE) * sx::DOUBLE / r)
                   / 1000.0 * 1000000.0 + 0.5)::BIGINT END AS heaps_lnk_micro,
           headroom_ok
    FROM pts CROSS JOIN mom
"""
QUERIES["vocab_heaps_law"] = q_vocab_heaps_law


#: floor(ln(2) * 1e6 + 0.5): the micro-nat term every out-of-support token
#: contributes to KL(Q || M) in the Jensen-Shannon fold (q/m = 2 exactly)
_LN2_MICRO = 693147


def q_corpus_divergence_js(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the whole-corpus unigram
    distribution (Lin 1991) — the SYMMETRIC, bounded (<= ln 2) companion
    to corpus_divergence_kl, the standard corpus-mixing distance when
    neither side's support contains the other (JSD is finite always;
    KL needs P's support inside Q's).

    JSD(P_s, Q) = KL(P_s || M)/2 + KL(Q || M)/2 with M = (P_s + Q)/2.
    Both ratios collapse to count products: p/m = 2*c_s*n / (c_s*n +
    c_t*n_s) and q/m = 2*c_t*n_s / (c_s*n + c_t*n_s), so only tokens in
    the SOURCE's support need a scored row; every out-of-support corpus
    token contributes exactly q*ln 2, folded in closed form from the
    remainder mass rem = n - sum(c_t over the source support). The join
    is source-vocab sized, never |source| x |vocab|.

    Determinism (the KL discipline): per-type log terms floored to
    micro-nats FIRST, weighted by exact integer counts, integer-summed;
    the single final double expression divides the two integer sums by
    n_s and n and halves, floored once.

    int64-headroom guard (ENFORCED): each per-type micro magnitude is
    bounded by 1e6*(ln 2 + ln n), so the count-weighted sums are bounded
    by n * that; the guard reads only n: log2(n) + log2(693148 +
    1e6*ln(n)) < 62 (wraps past ~3e10 tokens). Tripped -> jsd NULL
    LOUDLY, same CASE in the oracle.

    Scale shape: one (source, token) partial-count shuffle (map-side
    combine, vocab-bounded), pinned and reused by the vocab / source-
    total branches; corpus totals ride a one-row broadcast."""
    docs = load(spark, sf, "documents")
    tok = docs.select("source", F.explode(F.expr(TOKENS)).alias("token"))
    st = (
        tok.groupBy("source", "token")
        .agg(F.count("*").alias("c_s"))
        .transform(pinned)
    )
    vocab = st.groupBy("token").agg(F.sum("c_s").alias("c_t"))
    stot = st.groupBy("source").agg(
        F.sum("c_s").alias("n_s"), F.count("*").alias("n_types")
    )
    tot = vocab.groupBy().agg(F.sum("c_t").alias("n"))
    joined = (
        st.join(vocab, "token")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
    )
    denom = (
        F.col("c_s").cast("double") * F.col("n").cast("double")
        + F.col("c_t").cast("double") * F.col("n_s").cast("double")
    )
    m1 = F.floor(
        F.log(2.0 * F.col("c_s").cast("double") * F.col("n").cast("double") / denom)
        * 1000000
        + 0.5
    ).cast("bigint")
    m2 = F.floor(
        F.log(2.0 * F.col("c_t").cast("double") * F.col("n_s").cast("double") / denom)
        * 1000000
        + 0.5
    ).cast("bigint")
    per_source = joined.groupBy("source").agg(
        F.min("n_s").alias("n_tokens"),
        F.min("n_types").alias("n_types"),
        F.min("n").alias("n"),
        F.sum(F.col("c_s") * m1).alias("sum_p"),
        F.sum(F.col("c_t") * m2).alias("sum_q"),
        F.sum("c_t").alias("support_mass"),
    )
    ok = F.expr(
        "case when n <= 1 then true"
        " else log2(cast(n as double))"
        "      + log2(693148.0 + 1000000.0 * ln(cast(n as double))) < 62.0 end"
    )
    jsd = F.expr(
        f"(cast(sum_p as double) / cast(n_tokens as double)"
        f" + (cast(sum_q as double)"
        f"    + cast(n - support_mass as double) * {_LN2_MICRO}.0)"
        f"   / cast(n as double)) / 2.0"
    )
    return per_source.select(
        "source",
        "n_tokens",
        "n_types",
        F.when(ok, F.floor(jsd + F.lit(0.5)).cast("bigint")).alias(
            "jsd_micronats"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["corpus_divergence_js"] = q_corpus_divergence_js
ORACLES["corpus_divergence_js"] = f"""
    WITH tok AS (
        SELECT source, unnest({TOKENS_DUCK}) AS token FROM documents
    ), st AS (
        SELECT source, token, count(*)::BIGINT AS c_s FROM tok
        GROUP BY source, token
    ), vocab AS (
        SELECT token, sum(c_s)::BIGINT AS c_t FROM st GROUP BY token
    ), stot AS (
        SELECT source, sum(c_s)::BIGINT AS n_s, count(*)::BIGINT AS n_types
        FROM st GROUP BY source
    ), tot AS (
        SELECT sum(c_t)::BIGINT AS n FROM vocab
    ), scored AS (
        SELECT s.source, s.c_s, v.c_t, g.n_s, g.n_types, tot.n,
               floor(ln(2.0 * s.c_s::DOUBLE * tot.n::DOUBLE
                        / (s.c_s::DOUBLE * tot.n::DOUBLE
                           + v.c_t::DOUBLE * g.n_s::DOUBLE))
                     * 1000000 + 0.5)::BIGINT AS m1,
               floor(ln(2.0 * v.c_t::DOUBLE * g.n_s::DOUBLE
                        / (s.c_s::DOUBLE * tot.n::DOUBLE
                           + v.c_t::DOUBLE * g.n_s::DOUBLE))
                     * 1000000 + 0.5)::BIGINT AS m2
        FROM st s JOIN vocab v USING (token)
                  JOIN stot g USING (source)
                  CROSS JOIN tot
    ), per_source AS (
        SELECT source, min(n_s)::BIGINT AS n_tokens,
               min(n_types)::BIGINT AS n_types, min(n)::BIGINT AS n,
               sum(c_s * m1)::BIGINT AS sum_p,
               sum(c_t * m2)::BIGINT AS sum_q,
               sum(c_t)::BIGINT AS support_mass
        FROM scored GROUP BY source
    ), ok_t AS (
        SELECT *, CASE WHEN n <= 1 THEN true
                  ELSE log2(n::DOUBLE)
                       + log2(693148.0 + 1000000.0 * ln(n::DOUBLE)) < 62.0
                  END AS headroom_ok
        FROM per_source
    )
    SELECT source, n_tokens, n_types,
           CASE WHEN headroom_ok THEN
             floor((sum_p::DOUBLE / n_tokens::DOUBLE
                    + (sum_q::DOUBLE + (n - support_mass)::DOUBLE * {_LN2_MICRO}.0)
                      / n::DOUBLE) / 2.0 + 0.5)::BIGINT END AS jsd_micronats,
           headroom_ok
    FROM ok_t
"""


#: how many distinctive terms text_distinctive_terms reports per source
DISTINCTIVE_TOPK = 10


def q_text_distinctive_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source distinctive vocabulary via the log-odds ratio with a
    Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words") —
    the corpus-linguistics standard for "which terms mark THIS slice
    against the rest", preferred over raw tf-idf deltas because the
    prior shrinks rare-term noise and the z-normalization makes scores
    comparable across frequency bands.

    With the symmetric a_w = 1 prior: delta_sw = ln((y_sw + 1) /
    (n_s + V - y_sw - 1)) - ln((y_rw + 1) / (n_r + V - y_rw - 1)) where
    y_rw = c_w - y_sw is the rest-of-corpus count and V the vocabulary
    size; var = 1/(y_sw + 1) + 1/(y_rw + 1); z = delta / sqrt(var).

    Determinism: every input to the score is an exact integer (counts,
    totals, V); z evaluates in ONE fixed double expression floored to
    micros, and the per-source top-DISTINCTIVE_TOPK cut orders by the
    INTEGER (z_micro desc, token asc) total order — never by a raw
    double — so the cut is engine-exact.

    Scale shape: one (source, token) partial-count shuffle pinned and
    reused (the JS/KL discipline); scalars (n, V) broadcast; the top-k
    is a per-source row_number over the vocab-sized score table that
    Catalyst executes as WindowGroupLimit (partial top-k below the
    exchange)."""
    docs = load(spark, sf, "documents")
    tok = docs.select("source", F.explode(F.expr(TOKENS)).alias("token"))
    st = (
        tok.groupBy("source", "token")
        .agg(F.count("*").alias("y_sw"))
        .transform(pinned)
    )
    vocab = st.groupBy("token").agg(F.sum("y_sw").alias("c_w"))
    stot = st.groupBy("source").agg(F.sum("y_sw").alias("n_s"))
    tot = vocab.groupBy().agg(
        F.sum("c_w").alias("n"), F.count("*").alias("v")
    )
    scored = (
        st.join(vocab, "token")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "z_micro",
            F.expr(
                "cast(floor("
                " (ln((cast(y_sw as double) + 1.0)"
                "     / (cast(n_s as double) + cast(v as double)"
                "        - cast(y_sw as double) - 1.0))"
                "  - ln((cast(c_w - y_sw as double) + 1.0)"
                "       / (cast(n - n_s as double) + cast(v as double)"
                "          - cast(c_w - y_sw as double) - 1.0)))"
                " / sqrt(1.0 / (cast(y_sw as double) + 1.0)"
                "        + 1.0 / (cast(c_w - y_sw as double) + 1.0))"
                " * 1000000.0 + 0.5) as bigint)"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("z_micro").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= DISTINCTIVE_TOPK)
        .select("source", "rank", "token", "y_sw", "z_micro")
    )


QUERIES["text_distinctive_terms"] = q_text_distinctive_terms
ORACLES["text_distinctive_terms"] = f"""
    WITH tok AS (
        SELECT source, unnest({TOKENS_DUCK}) AS token FROM documents
    ), st AS (
        SELECT source, token, count(*)::BIGINT AS y_sw FROM tok
        GROUP BY source, token
    ), vocab AS (
        SELECT token, sum(y_sw)::BIGINT AS c_w FROM st GROUP BY token
    ), stot AS (
        SELECT source, sum(y_sw)::BIGINT AS n_s FROM st GROUP BY source
    ), tot AS (
        SELECT sum(c_w)::BIGINT AS n, count(*)::BIGINT AS v FROM vocab
    ), scored AS (
        SELECT s.source, s.token, s.y_sw,
               floor((ln((s.y_sw::DOUBLE + 1.0)
                         / (g.n_s::DOUBLE + tot.v::DOUBLE
                            - s.y_sw::DOUBLE - 1.0))
                      - ln(((vv.c_w - s.y_sw)::DOUBLE + 1.0)
                           / ((tot.n - g.n_s)::DOUBLE + tot.v::DOUBLE
                              - (vv.c_w - s.y_sw)::DOUBLE - 1.0)))
                     / sqrt(1.0 / (s.y_sw::DOUBLE + 1.0)
                            + 1.0 / ((vv.c_w - s.y_sw)::DOUBLE + 1.0))
                     * 1000000.0 + 0.5)::BIGINT AS z_micro
        FROM st s JOIN vocab vv USING (token)
                  JOIN stot g USING (source)
                  CROSS JOIN tot
    ), ranked AS (
        SELECT source, row_number() OVER (PARTITION BY source
                   ORDER BY z_micro DESC, token ASC) AS rank,
               token, y_sw, z_micro
        FROM scored
    )
    SELECT source, rank, token, y_sw, z_micro
    FROM ranked WHERE rank <= {DISTINCTIVE_TOPK}
"""


#: the third rater for Fleiss' kappa: a blunt length gate (chars >= this).
#: Sized to the fixture's ~300-char median so the rater actually splits.
FLEISS_MIN_CHARS = 300


def q_quality_fleiss_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) across THREE independent binary
    quality raters — the Gopher rule conjunction, the fastText-style
    linear gate, and a blunt length gate — the multi-rater extension of
    quality_gate_kappa (Cohen handles exactly two raters; Fleiss grades
    the whole panel at once, the "is the gate ensemble coherent or
    noise" number reported for curation rater panels).

    With m = 3 raters and binary categories, each doc reduces to the
    integer k_i = #raters voting keep; per-item agreement P_i =
    (k_i^2 + (m-k_i)^2 - m) / (m(m-1)), so the whole statistic needs
    only the four counts n_k = |{i : k_i = k}| (k = 0..3):
    P_bar = sum_k n_k * (k^2 + (3-k)^2 - 3) / (N * 6), p_keep =
    sum_k n_k * k / (3N), P_e = p_keep^2 + (1-p_keep)^2, kappa =
    (P_bar - P_e) / (1 - P_e). All inputs exact integers; one fixed
    double expression floored to micros; a degenerate P_e = 1 (all
    raters constant) NULLs kappa ANSI-safely.

    Scale shape: all three raters are scan-speed map-side pipelines
    (the fastText side has one combine-friendly doc aggregate); the
    verdict joins are doc-keyed; the census is a 4-row fold."""
    gopher = q_quality_gopher_rules(spark, sf).select("doc_id", "passes_gopher")
    ft = q_quality_fasttext_gate(spark, sf).select("doc_id", "keep")
    length = load(spark, sf, "documents").select(
        "doc_id", (F.col("n_chars") >= FLEISS_MIN_CHARS).alias("len_keep")
    )
    votes = (
        gopher.join(ft, "doc_id")
        .join(length, "doc_id")
        .select(
            F.expr(
                "if(passes_gopher, 1, 0) + if(keep, 1, 0) + if(len_keep, 1, 0)"
            ).alias("k")
        )
    )
    cells = votes.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr("if(k = 0, 1, 0)")).alias("n0"),
        F.sum(F.expr("if(k = 1, 1, 0)")).alias("n1"),
        F.sum(F.expr("if(k = 2, 1, 0)")).alias("n2"),
        F.sum(F.expr("if(k = 3, 1, 0)")).alias("n3"),
    )
    kappa = F.expr(
        "case when n_docs > 0 then"
        # P_bar: per-item pair agreement averaged; k^2+(3-k)^2-3 maps
        # k=0,3 -> 6 and k=1,2 -> 2
        " (cast(6 * (n0 + n3) + 2 * (n1 + n2) as double)"
        "  / (cast(n_docs as double) * 6.0)) end"
    )
    p_keep = F.expr(
        "case when n_docs > 0 then"
        " cast(n1 + 2 * n2 + 3 * n3 as double) / (3.0 * cast(n_docs as double))"
        " end"
    )
    pe = p_keep * p_keep + (1.0 - p_keep) * (1.0 - p_keep)
    k_expr = F.when(
        (F.col("n_docs") > 0) & (F.lit(1.0) - pe > 0.0),
        F.floor((kappa - pe) / (F.lit(1.0) - pe) * 1000000.0 + 0.5).cast(
            "bigint"
        ),
    )
    return cells.select(
        "n_docs",
        "n0",
        "n1",
        "n2",
        "n3",
        k_expr.alias("fleiss_kappa_micro"),
    )


QUERIES["quality_fleiss_kappa"] = q_quality_fleiss_kappa
ORACLES["quality_fleiss_kappa"] = f"""
    WITH g AS (
        SELECT doc_id, passes_gopher FROM ({_GOPHER_ORACLE})
    ), f AS (
        SELECT doc_id, keep FROM ({{FASTTEXT}})
    ), votes AS (
        SELECT g.passes_gopher::INT + f.keep::INT
               + (d.n_chars >= {FLEISS_MIN_CHARS})::INT AS k
        FROM g JOIN f USING (doc_id) JOIN documents d USING (doc_id)
    ), cells AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum((k = 0)::INT)::BIGINT AS n0,
               sum((k = 1)::INT)::BIGINT AS n1,
               sum((k = 2)::INT)::BIGINT AS n2,
               sum((k = 3)::INT)::BIGINT AS n3
        FROM votes
    ), terms AS (
        SELECT *,
               CASE WHEN n_docs > 0 THEN
                 (6 * (n0 + n3) + 2 * (n1 + n2))::DOUBLE
                 / (n_docs::DOUBLE * 6.0) END AS p_bar,
               CASE WHEN n_docs > 0 THEN
                 (n1 + 2 * n2 + 3 * n3)::DOUBLE / (3.0 * n_docs::DOUBLE)
               END AS p_keep
        FROM cells
    )
    SELECT n_docs, n0, n1, n2, n3,
           CASE WHEN n_docs > 0
                 AND 1.0 - (p_keep * p_keep + (1.0 - p_keep) * (1.0 - p_keep))
                     > 0.0
           THEN floor((p_bar - (p_keep * p_keep
                                + (1.0 - p_keep) * (1.0 - p_keep)))
                      / (1.0 - (p_keep * p_keep
                                + (1.0 - p_keep) * (1.0 - p_keep)))
                      * 1000000.0 + 0.5)::BIGINT END AS fleiss_kappa_micro
    FROM terms
""".replace("{FASTTEXT}", ORACLES["quality_fasttext_gate"])


def q_retrieval_map(spark: SparkSession, sf: str) -> DataFrame:
    """Mean average precision at MRR_K over the fixed multi-query
    evaluation set — the area-under-precision-recall completion of the
    retrieval eval suite (NDCG grades graded order, MRR the first hit,
    P/R/F1 the retrieved set; AP integrates precision at EVERY relevant
    hit, the TREC headline metric). Ranking and relevance exactly as
    retrieval_mrr: rank by (total query-term tf desc, doc_id), relevant
    = contains EVERY query term; AP denominator = min(R_q, K) with R_q
    the TOTAL relevant count in the corpus, so a query whose relevant
    docs exceed the cutoff is graded against the best achievable K.

    Determinism: for the i-th relevant doc at rank k_i, precision i/k_i
    quantizes to the exact integer micro (2e6*i + k_i) div (2*k_i)
    BEFORE summation (a double sum over per-hit terms would be
    order-dependent); the per-query AP and the final mean are the same
    exact integer divisions. Queries with R_q = 0 report ap_micro = 0
    (the MRR no-hit convention).

    Scale shape: identical to retrieval_mrr — broadcast query set,
    postings filtered to query terms before any shuffle, per-query
    WindowGroupLimit top-K, |queries|-row folds."""
    docs = load(spark, sf, "documents")
    qrows = [
        (qi, t, len(terms)) for qi, terms in enumerate(MRR_QUERIES) for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id int, term string, n_terms int")
    tok = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
    hits = (
        tok.join(F.broadcast(qdf), tok["token"] == qdf["term"])
        .groupBy("query_id", "n_terms", "doc_id")
        .agg(
            F.count("*").alias("tf_total"),
            F.count_distinct("term").alias("n_hit_terms"),
        )
        .withColumn(
            "is_rel", (F.col("n_hit_terms") == F.col("n_terms")).cast("int")
        )
        .transform(pinned)
    )
    n_rel = hits.groupBy("query_id").agg(F.sum("is_rel").alias("n_relevant"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("tf_total").desc(), F.col("doc_id").asc()
    )
    topk = hits.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= MRR_K
    )
    wrel = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    rel_hits = (
        topk.where(F.col("is_rel") == 1)
        .withColumn("i", F.row_number().over(wrel))
        .select(
            "query_id",
            F.expr("(2000000 * i + rank) div (2 * rank)").alias("p_micro"),
        )
    )
    per_q_sum = rel_hits.groupBy("query_id").agg(
        F.sum("p_micro").alias("sum_p_micro")
    )
    qids = qdf.select("query_id").distinct()
    scored = (
        qids.join(n_rel, "query_id", "left")
        .join(per_q_sum, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0)).alias("n_relevant"),
            F.expr(
                f"case when coalesce(n_relevant, 0) > 0 then"
                f" (2 * coalesce(sum_p_micro, 0)"
                f"  + least(n_relevant, {MRR_K}))"
                f" div (2 * least(n_relevant, {MRR_K}))"
                " else cast(0 as bigint) end"
            ).alias("ap_micro"),
        )
    )
    m = scored.agg(
        F.expr(
            "(2 * sum(ap_micro) + count(*)) div (2 * count(*))"
        ).alias("map_micro")
    )
    return scored.crossJoin(F.broadcast(m))


QUERIES["retrieval_map"] = q_retrieval_map


def _map_oracle() -> str:
    qvals = ", ".join(
        f"({qi}, '{t}', {len(terms)})"
        for qi, terms in enumerate(MRR_QUERIES)
        for t in terms
    )
    return f"""
        WITH q(query_id, term, n_terms) AS (VALUES {qvals}),
        tok AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
        ),
        hits AS (
            SELECT q.query_id, q.n_terms, t.doc_id,
                   count(*)::BIGINT AS tf_total,
                   count(DISTINCT q.term)::BIGINT AS n_hit_terms
            FROM tok t JOIN q ON t.token = q.term
            GROUP BY 1, 2, 3
        ),
        flagged AS (
            SELECT *, (n_hit_terms = n_terms)::INT AS is_rel FROM hits
        ),
        n_rel AS (
            SELECT query_id, sum(is_rel)::BIGINT AS n_relevant
            FROM flagged GROUP BY query_id
        ),
        topk AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY tf_total DESC, doc_id ASC) AS rank
            FROM flagged
        ),
        rel_hits AS (
            SELECT query_id,
                   ((2000000 * row_number() OVER (PARTITION BY query_id
                                                  ORDER BY rank ASC)
                     + rank) // (2 * rank))::BIGINT AS p_micro
            FROM topk WHERE rank <= {MRR_K} AND is_rel = 1
        ),
        per_q_sum AS (
            SELECT query_id, sum(p_micro)::BIGINT AS sum_p_micro
            FROM rel_hits GROUP BY query_id
        ),
        scored AS (
            SELECT qq.query_id,
                   coalesce(r.n_relevant, 0)::BIGINT AS n_relevant,
                   CASE WHEN coalesce(r.n_relevant, 0) > 0 THEN
                     (2 * coalesce(s.sum_p_micro, 0)
                      + least(r.n_relevant, {MRR_K}))
                     // (2 * least(r.n_relevant, {MRR_K}))
                   ELSE 0 END::BIGINT AS ap_micro
            FROM (SELECT DISTINCT query_id FROM q) qq
            LEFT JOIN n_rel r USING (query_id)
            LEFT JOIN per_q_sum s USING (query_id)
        ),
        m AS (
            SELECT ((2 * sum(ap_micro) + count(*)) // (2 * count(*)))::BIGINT
                       AS map_micro
            FROM scored
        )
        SELECT s.query_id, s.n_relevant, s.ap_micro, m.map_micro
        FROM scored s CROSS JOIN m
    """


ORACLES["retrieval_map"] = _map_oracle()


#: the two behaviour cohorts the HLL intersection estimates overlap for
HLL_SET_A = "view"
HLL_SET_B = "purchase"


def q_sketch_hll_intersection(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-user OVERLAP between two behaviour cohorts from HLL
    sketches alone — inclusion-exclusion over mergeable registers:
    |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B), where est(A ∪ B) comes from
    MAX-merging the two register tables (never re-touching raw events).
    This is the sketch-algebra read every audience-overlap / cohort-
    intersection dashboard runs at 100 TB: three 64-row register tables
    answer a question whose exact form needs a distinct-pair join. The
    exact overlap is computed alongside for the measured error (the
    sketch_hll_distinct contract).

    Same register construction as sketch_hll_distinct (trailing-zero
    rho over the portable hash, exact-integer harmonic sums, the
    linear-counting branch); the three estimates and the intersection
    difference evaluate in ONE fixed double expression each, rounded
    once at 2 decimals (the difference can be negative — HLL error is
    unbiased, not one-sided — and ships as-is, clamping is the
    CONSUMER's choice; documented, and the exact column exposes it).

    Scale shape: one event scan -> per-(cohort, bucket) max registers
    (map-side combinable); the union merge and the three estimate folds
    run over <= 3*HLL_M rows."""
    from ..functions.hashing import portable_hash

    events = load(spark, sf, "events")
    hashed = events.where(
        F.col("event_type").isin(HLL_SET_A, HLL_SET_B)
    ).select(
        "event_type",
        "user_id",
        portable_hash(F.col("user_id").cast("string")).alias("h"),
    )
    regs = _hll_registers(hashed, "event_type").transform(pinned)
    union_regs = regs.groupBy("bucket").agg(F.max("m_j").alias("m_j")).select(
        F.lit("union").alias("set_name"), "bucket", "m_j"
    )
    all_regs = regs.select(
        F.col("event_type").alias("set_name"), "bucket", "m_j"
    ).union(union_regs)
    agg = all_regs.groupBy("set_name").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_CAP} - m_j)")).alias(
            "s_nonempty"
        ),
        F.count("*").alias("v_nonempty"),
    )
    scale = float(1 << _HLL_RHO_CAP)
    folded = agg.select(
        "set_name",
        (
            F.col("s_nonempty")
            + (F.lit(HLL_M) - F.col("v_nonempty")) * F.lit(1 << _HLL_RHO_CAP)
        ).alias("s"),
        (F.lit(HLL_M) - F.col("v_nonempty")).alias("v0"),
    )
    raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M * F.lit(scale) / F.col("s")
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("v0") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v0")),
    ).otherwise(raw)
    ests = folded.select("set_name", est.alias("est")).groupBy().agg(
        F.min(F.when(F.col("set_name") == HLL_SET_A, F.col("est"))).alias("ea"),
        F.min(F.when(F.col("set_name") == HLL_SET_B, F.col("est"))).alias("eb"),
        F.min(F.when(F.col("set_name") == "union", F.col("est"))).alias("eu"),
    )
    users = hashed.select("event_type", "user_id").distinct()
    exact = (
        users.groupBy("user_id")
        .agg(F.count("*").alias("n_types"))
        .groupBy()
        .agg(
            F.count("*").alias("n_exact_union"),
            F.sum(F.expr("if(n_types = 2, 1, 0)")).alias("n_exact_both"),
        )
    )
    return ests.crossJoin(F.broadcast(exact)).select(
        "n_exact_both",
        "n_exact_union",
        F.round("ea", 2).alias("est_a"),
        F.round("eb", 2).alias("est_b"),
        F.round("eu", 2).alias("est_union"),
        F.round(F.col("ea") + F.col("eb") - F.col("eu"), 2).alias(
            "est_intersection"
        ),
    )


QUERIES["sketch_hll_intersection"] = q_sketch_hll_intersection
ORACLES["sketch_hll_intersection"] = f"""
    WITH hashed AS (
        SELECT event_type, user_id,
               (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS h
        FROM events WHERE event_type IN ('{HLL_SET_A}', '{HLL_SET_B}')
    ), regs AS (
        SELECT event_type, h % {HLL_M} AS bucket,
               max(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_CAP}
                   ELSE length(bin((h >> {HLL_P}) & -(h >> {HLL_P})))
                   END) AS m_j
        FROM hashed GROUP BY event_type, h % {HLL_M}
    ), all_regs AS (
        SELECT event_type AS set_name, bucket, m_j FROM regs
        UNION ALL
        SELECT 'union', bucket, max(m_j) FROM regs GROUP BY bucket
    ), agg AS (
        SELECT set_name,
               sum((1::BIGINT << ({_HLL_RHO_CAP} - m_j)))::BIGINT AS s_nonempty,
               count(*)::BIGINT AS v_nonempty
        FROM all_regs GROUP BY set_name
    ), folded AS (
        SELECT set_name,
               (s_nonempty + ({HLL_M} - v_nonempty)
                * (1::BIGINT << {_HLL_RHO_CAP}))::BIGINT AS s,
               ({HLL_M} - v_nonempty)::BIGINT AS v0
        FROM agg
    ), ests AS (
        SELECT set_name,
               CASE WHEN {HLL_ALPHA} * {HLL_M} * {HLL_M}
                         * {float(1 << _HLL_RHO_CAP)} / s <= 2.5 * {HLL_M}
                     AND v0 > 0
               THEN {float(HLL_M)} * ln({float(HLL_M)} / v0)
               ELSE {HLL_ALPHA} * {HLL_M} * {HLL_M}
                    * {float(1 << _HLL_RHO_CAP)} / s END AS est
        FROM folded
    ), pivoted AS (
        SELECT min(CASE WHEN set_name = '{HLL_SET_A}' THEN est END) AS ea,
               min(CASE WHEN set_name = '{HLL_SET_B}' THEN est END) AS eb,
               min(CASE WHEN set_name = 'union' THEN est END) AS eu
        FROM ests
    ), exact AS (
        SELECT count(*)::BIGINT AS n_exact_union,
               sum((n_types = 2)::INT)::BIGINT AS n_exact_both
        FROM (
            SELECT user_id, count(*)::BIGINT AS n_types
            FROM (SELECT DISTINCT event_type, user_id FROM hashed)
            GROUP BY user_id
        )
    )
    SELECT e.n_exact_both, e.n_exact_union,
           round(p.ea, 2) AS est_a, round(p.eb, 2) AS est_b,
           round(p.eu, 2) AS est_union,
           round(p.ea + p.eb - p.eu, 2) AS est_intersection
    FROM pivoted p CROSS JOIN exact e
"""


def q_text_simpson_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical diversity via Simpson's index (Simpson 1949):
    lambda = sum_t c_t*(c_t-1) / (n*(n-1)) — the probability two tokens
    drawn without replacement are the SAME type — reported with its two
    standard transforms, diversity D = 1 - lambda and the effective
    vocabulary 1/lambda (the "how many equally-common types would look
    like this" number). The repeat-probability view of diversity that
    entropy (text_entropy) and Zipf/Heaps fits don't give directly:
    lambda is an EXACT rational of counts, no logs, so it is the
    diversity metric that survives integer-only auditing.

    Determinism: numerator sum(c*(c-1)) and denominator n*(n-1) are
    exact bigints; the three outputs are fixed double expressions over
    those integers floored to micros (effective vocab floored to
    milli-types for headroom).

    int64-headroom guard (ENFORCED, max-reading): sum(c^2) <= n * max_c,
    guard log2(n) + log2(max_c) < 62 on exact aggregates — NULLs loudly,
    mirrored. (n*(n-1) needs 2*log2(n) < 63, folded into the same CASE.)

    Scale shape: one (source, token) combine-friendly count (the
    JS-divergence shuffle, vocab-bounded), one source-level fold."""
    docs = load(spark, sf, "documents")
    tok = docs.select("source", F.explode(F.expr(TOKENS)).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    g = st.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("rep2"),
        F.max("c").alias("max_c"),
    )
    ok = F.expr(
        "case when n <= 1 then true else"
        " log2(cast(n as double)) + log2(cast(greatest(max_c, 2) as double))"
        " < 62.0 and 2.0 * log2(cast(n as double)) < 62.0 end"
    )
    lam = F.expr(
        "case when n > 1 then cast(rep2 as double)"
        " / (cast(n as double) * (cast(n as double) - 1.0)) end"
    )
    return g.select(
        "source",
        "n",
        "n_types",
        F.when(ok, F.col("rep2")).alias("rep2"),
        F.when(ok, F.floor(lam * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "simpson_micro"
        ),
        F.when(
            ok & (F.col("rep2") > 0),
            F.floor(F.lit(1000.0) / lam + F.lit(0.5)).cast("bigint"),
        ).alias("effective_vocab_milli"),
        ok.alias("headroom_ok"),
    )


QUERIES["text_simpson_diversity"] = q_text_simpson_diversity
ORACLES["text_simpson_diversity"] = f"""
    WITH tok AS (
        SELECT source, unnest({TOKENS_DUCK}) AS token FROM documents
    ), st AS (
        SELECT source, token, count(*)::BIGINT AS c FROM tok
        GROUP BY source, token
    ), g AS (
        SELECT source, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_types,
               sum(c * (c - 1))::BIGINT AS rep2, max(c)::BIGINT AS max_c
        FROM st GROUP BY source
    ), ok_t AS (
        SELECT *, CASE WHEN n <= 1 THEN true ELSE
                  log2(n::DOUBLE) + log2(greatest(max_c, 2)::DOUBLE) < 62.0
                  AND 2.0 * log2(n::DOUBLE) < 62.0 END AS headroom_ok
        FROM g
    )
    SELECT source, n, n_types,
           CASE WHEN headroom_ok THEN rep2 END AS rep2,
           CASE WHEN headroom_ok THEN
             CASE WHEN n > 1 THEN
               floor(rep2::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0))
                     * 1000000.0 + 0.5)::BIGINT END
           END AS simpson_micro,
           CASE WHEN headroom_ok AND rep2 > 0 AND n > 1 THEN
             floor(1000.0 / (rep2::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0)))
                   + 0.5)::BIGINT END AS effective_vocab_milli,
           headroom_ok
    FROM ok_t
"""


def q_quality_gate_mcnemar(spark: SparkSession, sf: str) -> DataFrame:
    """McNemar's test (McNemar 1947) between the two paired quality
    raters — the Gopher rule conjunction and the fastText-style gate on
    the SAME documents: do the two gates disagree symmetrically, or
    does one systematically keep what the other drops? The PAIRED
    complement to quality_gate_kappa (kappa grades agreement strength;
    McNemar tests the DIRECTION of disagreement — the question asked
    when replacing gate A with gate B: 'does B keep significantly more
    than A on the same docs?').

    With continuity correction: chi2 = (|b - c| - 1)^2 / (b + c) over
    the discordant cells (b = gopher-only keeps, c = fastText-only
    keeps); b + c = 0 (no disagreement) NULLs the statistic
    ANSI-safely. All cells exact integers from the one doc-keyed join;
    chi2 is one fixed double expression floored to micros, compared
    against the 3.841 (df=1, alpha=.05) Python-literal critical value
    (the chi-square precedent).

    Scale shape: identical to quality_gate_kappa — two scan-speed
    map-side raters, one doc-keyed join, a 1-row fold."""
    gopher = q_quality_gopher_rules(spark, sf).select("doc_id", "passes_gopher")
    ft = q_quality_fasttext_gate(spark, sf).select("doc_id", "keep")
    cells = gopher.join(ft, "doc_id").agg(
        F.sum(F.expr("if(passes_gopher and not keep, 1, 0)")).alias("b"),
        F.sum(F.expr("if(not passes_gopher and keep, 1, 0)")).alias("c"),
        F.count("*").alias("n_docs"),
    )
    chi2 = F.expr(
        "case when b + c > 0 then"
        " (cast(abs(b - c) as double) - 1.0) * (cast(abs(b - c) as double) - 1.0)"
        " / cast(b + c as double) end"
    )
    return cells.select(
        "n_docs",
        F.col("b").alias("gopher_only_keeps"),
        F.col("c").alias("fasttext_only_keeps"),
        F.floor(chi2 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias(
            "mcnemar_chi2_micro"
        ),
        F.expr(
            "case when b + c > 0 then"
            " (cast(abs(b - c) as double) - 1.0)"
            " * (cast(abs(b - c) as double) - 1.0)"
            " / cast(b + c as double) > 3.841 end"
        ).alias("significant_05"),
    )


QUERIES["quality_gate_mcnemar"] = q_quality_gate_mcnemar
ORACLES["quality_gate_mcnemar"] = f"""
    WITH g AS (
        SELECT doc_id, passes_gopher FROM ({_GOPHER_ORACLE})
    ), f AS (
        SELECT doc_id, keep FROM ({{FASTTEXT}})
    ), cells AS (
        SELECT sum((passes_gopher AND NOT keep)::INT)::BIGINT AS b,
               sum((NOT passes_gopher AND keep)::INT)::BIGINT AS c,
               count(*)::BIGINT AS n_docs
        FROM g JOIN f USING (doc_id)
    )
    SELECT n_docs, b AS gopher_only_keeps, c AS fasttext_only_keeps,
           CASE WHEN b + c > 0 THEN
             floor((abs(b - c)::DOUBLE - 1.0) * (abs(b - c)::DOUBLE - 1.0)
                   / (b + c)::DOUBLE * 1000000.0 + 0.5)::BIGINT
           END AS mcnemar_chi2_micro,
           CASE WHEN b + c > 0 THEN
             (abs(b - c)::DOUBLE - 1.0) * (abs(b - c)::DOUBLE - 1.0)
             / (b + c)::DOUBLE > 3.841 END AS significant_05
    FROM cells
""".replace("{FASTTEXT}", ORACLES["quality_fasttext_gate"])


def q_text_readability_flesch(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948) with a deterministic
    vowel-group syllable proxy — the classic document-difficulty gate (a
    curation signal orthogonal to the Gopher rules: gibberish can PASS
    length/stopword checks while scoring absurd readability).

    Proxy definitions (both engines share every regex primitive):
    words = the engine token definition; sentences = runs of [.!?]
    (min 1); syllables = runs of [aeiouy] in the lowercased text,
    clamped to >= n_words (a word has at least one syllable — the vowel
    proxy undercounts all-consonant/digit tokens). FRE = 206.835
    - 1.015*(words/sentences) - 84.6*(syllables/words), micro-quantized
    once from exact integer counts; NULL (loudly) for zero-word docs.
    Pure map-side: three regexp_extract_all per row, no shuffle."""
    return readability_flesch(load(spark, sf, "documents"))


def readability_flesch(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Flesch reading ease over ANY (id, text[, lang]) frame — see
    `q_text_readability_flesch` for the proxy definitions."""
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    lang_out = []
    if lang_col is not None:
        cols.append(F.col(lang_col).alias("lang"))
        lang_out = ["lang"]
    docs = docs.select(*cols)
    n_words = F.size(F.expr(TOKENS))
    n_sents = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    )
    vruns = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    )
    n_syll = F.greatest(vruns, n_words)
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    fre_micro = F.expr(
        "cast(floor(fre_d * 1000000 + 0.5) as bigint)"
    )
    return (
        docs.select(
            "doc_id",
            *lang_out,
            n_words.alias("n_words"),
            n_sents.alias("n_sentences"),
            n_syll.alias("n_syllables"),
            F.when(n_words > 0, fre).alias("fre_d"),
        )
        .select(
            "doc_id",
            *lang_out,
            "n_words",
            "n_sentences",
            "n_syllables",
            fre_micro.alias("flesch_micro"),
            F.expr(
                "case when fre_d is null then null"
                " when fre_d >= 70.0d then 'easy'"
                " when fre_d >= 50.0d then 'standard'"
                " else 'difficult' end"
            ).alias("band"),
        )
    )


QUERIES["text_readability_flesch"] = q_text_readability_flesch
ORACLES["text_readability_flesch"] = f"""
    WITH feat AS (
        SELECT doc_id, lang,
               len({TOKENS_DUCK}) AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vruns
        FROM documents
    ), syl AS (
        SELECT doc_id, lang, n_words, n_sentences,
               greatest(vruns, n_words) AS n_syllables,
               CASE WHEN n_words > 0 THEN
                 206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                         - 84.6 * (greatest(vruns, n_words)::DOUBLE / n_words::DOUBLE)
               END AS fre_d
        FROM feat
    )
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           floor(fre_d * 1000000 + 0.5)::BIGINT AS flesch_micro,
           CASE WHEN fre_d IS NULL THEN NULL
                WHEN fre_d >= 70.0 THEN 'easy'
                WHEN fre_d >= 50.0 THEN 'standard'
                ELSE 'difficult' END AS band
    FROM syl
"""


#: code-detect thresholds: symbol density per kilochar and structural hits
CODE_MIN_SYMBOL_PER_KILO = 20
CODE_MIN_STRUCT_HITS = 3


def q_text_code_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Code-vs-prose heuristic per document — the corpus-routing gate an
    LLM data pipeline runs before language-specific processing (code goes
    to the code tokenizer/dedup config, prose to the text one). Signals:
    code-symbol density ({{}}();=<>[] per kilochar, exact integer micro),
    structural hits (semicolons + camelCase transitions + underscores),
    and digit-token share; is_code_like = density over
    CODE_MIN_SYMBOL_PER_KILO OR structural hits over CODE_MIN_STRUCT_HITS.
    Pure map-side char-class counting — runs at scan speed; thresholds
    are constants, not learned (the deterministic stand-in for a fastText
    code classifier, same plumbing)."""
    return code_detect(load(spark, sf, "documents"))


def code_detect(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Code-vs-prose routing verdict over ANY (id, text[, lang]) frame —
    see `q_text_code_detect` for the signals and thresholds."""
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    lang_out = []
    if lang_col is not None:
        cols.append(F.col(lang_col).alias("lang"))
        lang_out = ["lang"]
    docs = docs.select(*cols)
    n_chars = F.length("text")
    n_sym = F.size(
        F.regexp_extract_all("text", F.lit("[{}();=<>\\[\\]]"), F.lit(0))
    )
    n_semi = F.size(F.regexp_extract_all("text", F.lit(";"), F.lit(0)))
    n_camel = F.size(
        F.regexp_extract_all("text", F.lit("[a-z][A-Z]"), F.lit(0))
    )
    n_under = F.size(F.regexp_extract_all("text", F.lit("_"), F.lit(0)))
    n_digit_tok = F.size(
        F.regexp_extract_all("text", F.lit("\\b[0-9]+\\b"), F.lit(0))
    )
    sym_per_kilo = F.expr(
        "case when n_chars > 0 then (2000000 * cast(n_sym as bigint)"
        " + n_chars) div (2 * n_chars) else cast(0 as bigint) end"
    )
    return (
        docs.select(
            "doc_id",
            *lang_out,
            n_chars.alias("n_chars"),
            n_sym.alias("n_sym"),
            (n_semi + n_camel + n_under).alias("n_struct_hits"),
            n_digit_tok.alias("n_digit_tokens"),
        )
        .select(
            "doc_id",
            *lang_out,
            "n_chars",
            "n_sym",
            "n_struct_hits",
            "n_digit_tokens",
            sym_per_kilo.alias("sym_per_kilo_micro"),
            (
                (sym_per_kilo >= F.lit(CODE_MIN_SYMBOL_PER_KILO) * 1000)
                | (F.col("n_struct_hits") >= CODE_MIN_STRUCT_HITS)
            ).alias("is_code_like"),
        )
    )


QUERIES["text_code_detect"] = q_text_code_detect
ORACLES["text_code_detect"] = f"""
    WITH feat AS (
        SELECT doc_id, lang, length(text) AS n_chars,
               len(regexp_extract_all(text, '[{{}}();=<>\\[\\]]')) AS n_sym,
               (len(regexp_extract_all(text, ';'))
                + len(regexp_extract_all(text, '[a-z][A-Z]'))
                + len(regexp_extract_all(text, '_')))::INT AS n_struct_hits,
               len(regexp_extract_all(text, '\\b[0-9]+\\b')) AS n_digit_tokens
        FROM documents
    ), scored AS (
        SELECT *,
               CASE WHEN n_chars > 0 THEN
                 (2000000 * n_sym::BIGINT + n_chars) // (2 * n_chars)
               ELSE 0 END::BIGINT AS sym_per_kilo_micro
        FROM feat
    )
    SELECT doc_id, lang, n_chars, n_sym, n_struct_hits, n_digit_tokens,
           sym_per_kilo_micro,
           (sym_per_kilo_micro >= {CODE_MIN_SYMBOL_PER_KILO} * 1000
            OR n_struct_hits >= {CODE_MIN_STRUCT_HITS}) AS is_code_like
    FROM scored
"""


# ---------------------------------------------------------------------------
# retrieval evaluation cores (API wave 6): metrics over ANY (results, qrels)
# frame pair — the offline-eval loop of a retrieval/RAG pipeline. The catalog
# twins (`retrieval_mrr`/`_map`/`_ndcg`/`_precision_recall`) derive their
# rankings from the fixture corpus and stay oracle-checked; these cores grade
# rankings the CALLER brings, with the same integer-micro discipline.
# ---------------------------------------------------------------------------
def _std_results(
    results: DataFrame, query_col: str, doc_col: str, rank_col: str
) -> DataFrame:
    # Dedupe per (query, doc) keeping the best (min) rank: a caller
    # ranking that repeats a doc must not double-count hits/DCG (which
    # would let precision_micro exceed 1_000_000). Map-side-combinable
    # groupBy; a no-op shuffle-wise for the common distinct-doc input
    # since every metric re-shuffles on query_id anyway.
    return (
        results.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.col(rank_col).alias("rank"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.min("rank").alias("rank"))
    )


def _std_qrels(qrels: DataFrame, query_col: str, doc_col: str) -> DataFrame:
    return qrels.select(
        F.col(query_col).alias("query_id"), F.col(doc_col).alias("doc_id")
    ).distinct()


def mrr_at_k(
    results: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Mean reciprocal rank at k over ANY ranked-results frame vs a
    binary qrels frame — (query_id, first_rel_rank, rr_micro, mrr_micro);
    queries in qrels with no relevant doc in the top k report rr = 0.
    Exact integer micros throughout (the `q_retrieval_mrr` idiom)."""
    r = _std_results(results, query_col, doc_col, rank_col).where(
        F.col("rank") <= k
    )
    q = _std_qrels(qrels, query_col, doc_col)
    per_q = (
        r.join(q, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_rel_rank"))
    )
    scored = (
        q.select("query_id")
        .distinct()
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            "first_rel_rank",
            F.expr(
                "case when first_rel_rank is not null then"
                " (2000000 + first_rel_rank) div (2 * first_rel_rank)"
                " else cast(0 as bigint) end"
            ).alias("rr_micro"),
        )
    )
    mrr = scored.agg(
        F.expr("(2 * sum(rr_micro) + count(*)) div (2 * count(*))").alias(
            "mrr_micro"
        )
    )
    return scored.crossJoin(F.broadcast(mrr)).select(
        "query_id", "first_rel_rank", "rr_micro", "mrr_micro"
    )


def precision_recall_at_k(
    results: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Precision@k and recall@k per query — (query_id, n_rel, n_hits,
    precision_micro, recall_micro); half-up integer micros. Queries with
    zero relevant docs report NULL recall (undefined) and 0 hits."""
    r = _std_results(results, query_col, doc_col, rank_col).where(
        F.col("rank") <= k
    )
    q = _std_qrels(qrels, query_col, doc_col)
    nrel = q.groupBy("query_id").agg(F.count("*").alias("n_rel"))
    hits = (
        r.join(q, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        nrel.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
        .select(
            "query_id",
            "n_rel",
            "n_hits",
            F.expr(
                f"(2000000 * n_hits + {k}) div (2 * {k})"
            ).alias("precision_micro"),
            F.expr(
                "case when n_rel > 0 then"
                " (2000000 * n_hits + n_rel) div (2 * n_rel) end"
            ).alias("recall_micro"),
        )
    )


def average_precision_at_k(
    results: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query average precision at k plus the mean over queries —
    (query_id, n_rel, ap_micro, map_micro). AP = (1/min(n_rel, k)) *
    sum over relevant ranks r of precision@r; each precision@r floors to
    micro once, the AP mean floors once (the exact-integer MAP form)."""
    r = _std_results(results, query_col, doc_col, rank_col).where(
        F.col("rank") <= k
    )
    q = _std_qrels(qrels, query_col, doc_col)
    nrel = q.groupBy("query_id").agg(F.count("*").alias("n_rel"))
    rel_hits = r.join(q, ["query_id", "doc_id"])
    w = Window.partitionBy("query_id").orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prec = rel_hits.select(
        "query_id",
        F.expr(
            "(2000000 * (count(*) over (partition by query_id order by rank"
            " rows between unbounded preceding and current row)) + rank)"
            " div (2 * rank)"
        ).alias("p_micro"),
    )
    ap = prec.groupBy("query_id").agg(F.sum("p_micro").alias("sum_p"))
    scored = (
        nrel.join(ap, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.expr(
                f"case when n_rel > 0 then"
                f" (2 * coalesce(sum_p, 0) + least(n_rel, {k}))"
                f" div (2 * least(n_rel, {k})) end"
            ).alias("ap_micro"),
        )
    )
    m = scored.agg(
        F.expr(
            "(2 * sum(coalesce(ap_micro, 0)) + count(*)) div (2 * count(*))"
        ).alias("map_micro")
    )
    return scored.crossJoin(F.broadcast(m)).select(
        "query_id", "n_rel", "ap_micro", "map_micro"
    )


def ndcg_at_k(
    results: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str | None = None,
) -> DataFrame:
    """nDCG@k per query — (query_id, dcg_micro, idcg_micro, ndcg_micro).
    Graded relevance via `rel_col` on the qrels frame (binary when None);
    gain = rel / log2(1 + rank), the ideal ordering sorts by relevance
    descending. Micros floor once per query."""
    r = _std_results(results, query_col, doc_col, rank_col).where(
        F.col("rank") <= k
    )
    rel = (
        qrels.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            (F.col(rel_col) if rel_col else F.lit(1.0))
            .cast("double")
            .alias("rel"),
        )
        .where(F.col("rel") > 0)
        .distinct()
    )
    dcg = (
        r.join(rel, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.floor(
                F.sum(F.col("rel") / F.log2(F.col("rank") + 1)) * 1000000.0
                + 0.5
            ).cast("bigint").alias("dcg_micro")
        )
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ideal = (
        rel.withColumn("irank", F.row_number().over(wi))
        .where(F.col("irank") <= k)
        .groupBy("query_id")
        .agg(
            F.floor(
                F.sum(F.col("rel") / F.log2(F.col("irank") + 1)) * 1000000.0
                + 0.5
            ).cast("bigint").alias("idcg_micro")
        )
    )
    return (
        ideal.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("dcg_micro", F.lit(0)).alias("dcg_micro"),
            "idcg_micro",
            F.expr(
                "case when idcg_micro > 0 then"
                " (2000000 * coalesce(dcg_micro, 0) + idcg_micro)"
                " div (2 * idcg_micro) end"
            ).alias("ndcg_micro"),
        )
    )
