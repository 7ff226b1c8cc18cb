"""Multimodal column plumbing (SURVEY.md §2 Part C).

Image/audio/video payloads are opaque `binary` columns with typed metadata.
The container has no codec libraries, so actual decoding is stubbed
(`decode_image_real` raises NotImplementedError unless PIL is importable);
what IS real and tested is everything Spark-side: the binary schema, Arrow
batch transfer, the `mapInPandas` iterator contract, and the deterministic
fake "decode" used to validate the plumbing end-to-end against the oracle.

At 100 TB the binary payloads dominate the scan; the pattern is:
read binaryFile/parquet -> repartition by size budget -> mapInPandas decode
(Arrow-batched, one python worker per core) -> write features columnar.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load
from .dedup import LSH_BUCKET_CAP, _skew_guarded_pairs

META_SCHEMA = "doc_id bigint, byte_len bigint, width int, height int, format string"


def decode_image_real(payload: bytes) -> dict:
    """Real decoder, gated on an optional dependency. This sandbox has no
    Pillow and installs are prohibited (constraint recorded in SURVEY §7
    "Hard parts" item 0), so here the ImportError branch is the only one
    that ever runs; the decode path below is complete and is exercised by
    tests/test_multimodal_real.py wherever Pillow IS installed (it
    pytest-skips otherwise). Returns the same schema as
    `fake_decode_batch` rows, so swapping kernels changes no plumbing."""
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "image decoding requires Pillow, not available in this container; "
            "use the deterministic fake decode for plumbing tests"
        ) from exc
    import io as _io

    with Image.open(_io.BytesIO(payload)) as im:  # pragma: no cover - needs PIL
        return {
            "byte_len": len(payload),
            "width": im.width,
            "height": im.height,
            "format": (im.format or "").lower(),
        }


def fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake decode: metadata derived arithmetically from the
    payload length, so the oracle can verify the full Arrow round-trip."""
    byte_len = pdf["payload"].map(len)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "byte_len": byte_len,
            "width": (byte_len % 640 + 1).astype("int32"),
            "height": (byte_len * 7 % 480 + 1).astype("int32"),
            "format": "fake",
        }
    )


def extract_image_meta(df: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload binary) -> typed metadata rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fake_decode_batch(pdf)

    return df.mapInPandas(run, schema=META_SCHEMA)


def q_multimodal_binary_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column metadata, pure-JVM path: utf-8 payload bytes, lengths,
    magic-prefix hex — the non-UDF half of the multimodal surface."""
    docs = load(spark, sf, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.length("text").alias("char_len"),
        F.upper(F.hex(F.encode(F.substring("text", 1, 4), "utf-8"))).alias("magic_hex"),
    )


def q_multimodal_decode_mapinpandas(spark: SparkSession, sf: str) -> DataFrame:
    """The Arrow/mapInPandas decode pipeline over synthesized binary payloads."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return extract_image_meta(docs)


RESIZE_SCHEMA = "doc_id bigint, width int, height int, new_w int, new_h int, resized_len bigint"
MAX_W, MAX_H = 320, 240

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_hash string"
FRAME_STRIDE = 4


def resize_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake resize: crop-to-fit bounds, payload shrunk
    proportionally — the real PIL/opencv kernel drops in here unchanged."""
    meta = fake_decode_batch(pdf)
    new_w = meta["width"].clip(upper=MAX_W)
    new_h = meta["height"].clip(upper=MAX_H)
    return pd.DataFrame(
        {
            "doc_id": meta["doc_id"],
            "width": meta["width"],
            "height": meta["height"],
            "new_w": new_w.astype("int32"),
            "new_h": new_h.astype("int32"),
            "resized_len": (new_w.astype("int64") * new_h // 16),
        }
    )


def q_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """decode -> resize fused in ONE mapInPandas pass (one Arrow round-trip,
    one Python worker pipeline — never two chained UDF stages)."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield resize_batch(pdf)

    return docs.mapInPandas(run, schema=RESIZE_SCHEMA)


def sample_frames_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake frame sampler: frame count derived from payload
    length, every FRAME_STRIDE-th frame emitted with a content-addressed
    hash — 1 video row -> N frame rows (generator-style expansion)."""
    import hashlib

    out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_hash": []}
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        n_frames = len(payload) % 24 + 1
        hx = payload.hex().upper()
        for idx in range(0, n_frames, FRAME_STRIDE):
            out["doc_id"].append(doc_id)
            out["frame_idx"].append(idx)
            out["frame_hash"].append(hashlib.md5(f"{hx}-{idx}".encode()).hexdigest())
    return pd.DataFrame(out)


def q_multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plumbing: binary payload -> sampled frame rows.

    The expansion happens inside mapInPandas (no explode of a
    python-materialized array column), so peak memory per task is one Arrow
    batch of payloads plus its sampled frames — at 100 TB tune
    `maxRecordsPerBatch` down so payload batches fit the worker."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield sample_frames_batch(pdf)

    return docs.mapInPandas(run, schema=FRAME_SCHEMA)


#: audio framing: window length / hop in samples (one byte = one fake sample)
AUDIO_WIN = 64
AUDIO_HOP = 32

AUDIO_SCHEMA = "doc_id bigint, win_idx int, n_samples int, energy bigint"


def audio_windows_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake audio featurizer: the payload's bytes act as the
    waveform (one byte = one sample, centered at 128); overlapping
    AUDIO_WIN-sample windows at AUDIO_HOP, each reduced to an INTEGER
    energy (sum of squared centered samples) — integer so the value is
    order-independent and engine-exact."""
    out: dict[str, list] = {"doc_id": [], "win_idx": [], "n_samples": [], "energy": []}
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        samples = [b - 128 for b in payload]
        n = len(samples)
        idx = 0
        start = 0
        while start < n:
            win = samples[start : start + AUDIO_WIN]
            out["doc_id"].append(doc_id)
            out["win_idx"].append(idx)
            out["n_samples"].append(len(win))
            out["energy"].append(sum(s * s for s in win))
            idx += 1
            start += AUDIO_HOP
    return pd.DataFrame(out)


def q_multimodal_audio_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Audio featurization plumbing: binary waveform -> overlapping frame
    windows with per-window energy, completing the image (decode/resize) /
    video (frame sample) / AUDIO trio.

    Same scale shape as the other mapInPandas kernels: the 1->N window
    expansion happens inside the Python worker per Arrow batch (no
    driver-side arrays, no explode of a Python-materialized column); real
    deployments swap the byte-waveform stand-in for an actual audio decode
    behind the identical schema and batching."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield audio_windows_batch(pdf)

    return docs.mapInPandas(run, schema=AUDIO_SCHEMA)


#: integer-DCT scale for the pHash basis coefficients
PHASH_COEF_SCALE = 1 << 10


def _dct_basis() -> list[tuple[int, int, int]]:
    """(u, x, floor(alpha(u)*cos((2x+1)*u*pi/16) * 2^10 + 0.5)) for the 8x8
    DCT-II basis — precomputed in PYTHON and shipped to both engines as a
    literal table (cos is not a correctly-rounded IEEE op; as integers the
    whole transform is exact in any summation order)."""
    import math

    out = []
    for u in range(8):
        alpha = math.sqrt(1 / 8) if u == 0 else 0.5
        for x in range(8):
            c = alpha * math.cos((2 * x + 1) * u * math.pi / 16)
            out.append((u, x, int(math.floor(c * PHASH_COEF_SCALE + 0.5))))
    return out


def q_multimodal_phash(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual hash (pHash) census over the synthesized image payloads:
    each doc's deterministic 8x8 pixel grid (md5-nibble stand-in for the
    real decoder's downscaled luma — the documented codec seam) goes
    through an 8x8 DCT-II, and the 63 AC coefficients hash to bits by
    comparison against their own median — the image near-dup fingerprint
    (two perceptually similar images differ in a few pHash bits, so dedup
    is a Hamming-ball join exactly like simhash_hamming_pairs).

    Determinism discipline: pixels are integer nibbles; the DCT basis is
    the _dct_basis() integer table (no engine-side cos()), so both
    separable DCT stages are INTEGER sums — exact in any order; the median
    is a rank selection over integers; the hash assembles by integer
    shifts. Nothing float anywhere.

    Why Python here (r14, the PQ-encode precedent): the per-document DCT
    census is ~1,200 integer multiply-adds through transform/aggregate
    lambdas, and Spark's higher-order functions are CodegenFallback —
    every op runs interpreted. The Arrow kernel does the identical
    integer arithmetic vectorized over the batch (two 8x8 int64 matmuls,
    a rank-32 sort, comparison bits) — measured 3.45 s -> 0.83 s paired
    min-of-10 at sf0.1. The values are bit-equal BY CONSTRUCTION (every
    sum is integer-exact in any evaluation order; the median is the 32nd
    order statistic of the 63 AC VALUES, invariant to the (f, u, v)
    struct tie-break since ties share the value) and PINNED by
    tests/test_phash_kernel.py against the pure-JVM relational form it
    replaced (`phash_hof_df` in tests/reference_folds.py). This is also the
    production shape: a real pHash decodes pixels in a Python/native
    codec kernel anyway (the documented `decode_image_real` seam), so
    the Arrow boundary is where the deployment boundary already is.

    Scale shape: one scan -> one mapInPandas projection; zero exchanges,
    zero joins, zero windows. Embarrassingly parallel across documents —
    swap the md5-nibble expression for decoded luma to use a real codec."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        _phash_kernel(), "doc_id bigint, phash bigint, n_ones bigint"
    )


def _phash_kernel():
    """Vectorized integer-DCT pHash kernel (the numpy tables K/nib/weights
    are built once on the DRIVER when this factory is called and shipped to
    workers inside the pickled closure — ADVICE r14): md5-nibble pixels ->
    F = K @ P @ K^T (int64 matmuls, exact) -> median = 32nd-smallest AC
    value -> bits by strict >. Bit-equal to the relational reference (see
    q_multimodal_phash docstring) FOR COALESCED INPUT: the kernel's
    `(t or '')` hashes raw NULL text like the empty string, while the
    HOF/SQL reference yields NULL phash (concat(NULL, ..) is NULL) — the
    equivalence contract therefore assumes text has been NULL-coalesced,
    which `io.load`'s ingestion coalesce guarantees for every catalog
    caller (ADVICE r14)."""
    import numpy as np

    K = np.zeros((8, 8), dtype=np.int64)
    for u, x, k in _dct_basis():
        K[u, x] = k
    nib = np.zeros(256, dtype=np.int64)
    for ch in b"0123456789abcdef":
        nib[ch] = int(chr(ch), 16)
    # bit weight for AC coefficient j = u*8+v is 2^(j-1), j = 1..63
    weights = np.left_shift(np.int64(1), np.arange(63, dtype=np.int64))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            hx = np.empty((n, 64), dtype=np.uint8)
            for i, t in enumerate(pdf["text"]):
                b = (t or "").encode("utf-8")
                hx[i, :32] = np.frombuffer(
                    hashlib.md5(b + b":px0").hexdigest().encode(), dtype=np.uint8
                )
                hx[i, 32:] = np.frombuffer(
                    hashlib.md5(b + b":px1").hexdigest().encode(), dtype=np.uint8
                )
            px = nib[hx].reshape(n, 8, 8)  # integer pixel nibbles
            g = px @ K.T  # g[r,v] = sum_c px[r,c] * K[v,c]
            f = np.einsum("ur,nrv->nuv", K, g)  # f[u,v] = sum_r K[u,r]*g[r,v]
            ac = f.reshape(n, 64)[:, 1:]  # j = 1..63 skips DC
            m = np.sort(ac, axis=1)[:, 31]  # 32nd-smallest AC value
            bits = ac > m[:, None]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": (bits * weights).sum(axis=1, dtype=np.int64),
                    "n_ones": bits.sum(axis=1).astype("int64"),
                }
            )

    return run


#: pHash near-dup ball: pairs within this Hamming distance are image dups.
#: 9 bands of 7 bits cover the 63-bit hash; pigeonhole: <= 8 differing
#: bits cannot touch all 9 bands, so band agreement is a LOSSLESS filter
#: (the oracle runs the exhaustive pairwise join to prove it).
PHASH_MAX_HAMMING = 8
_PHASH_BANDS = 9


def q_multimodal_phash_pairs(
    spark: SparkSession, sf: str, cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: documents whose
    63-bit pHash fingerprints differ in at most PHASH_MAX_HAMMING bits —
    the multimodal counterpart of `simhash_hamming_pairs`, and the dedup
    primitive for image training corpora (re-encoded / resized copies
    land within a few pHash bits of each other; the synthetic pixel seam
    is the documented codec stand-in, the pairing machinery is the real
    thing).

    Scale shape (Manku-style pigeonhole banding): each doc emits 9 keys —
    its 7-bit hash bands — so candidate generation is a groupBy on
    (band, value), O(docs x bands), never O(n^2); the exact
    bit_count(xor) ball check runs INSIDE each bucket's array domain, so
    failing candidates never leave their map task. The ORACLE deliberately
    runs the EXHAUSTIVE pairwise join instead (the ppjoin discipline):
    hash equality proves the 9-band filter lossless, not merely
    consistently implemented."""
    fps = q_multimodal_phash(spark, sf).select("doc_id", "phash")
    bands = fps.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("phash"), b * 7)
                        .bitwiseAND(F.lit(0x7F))
                        .alias("val"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "phash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    grouped = (
        bands.groupBy("band", "val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "phash"))).alias("members"))
        .where(F.size("members") > 1)
    )
    # Image corpora are exactly where near-identical hashes concentrate
    # (solid-color frames, re-encodes), so the hot (band, value) bucket is
    # the EXPECTED case: expansion goes through the chunked skew guard
    # (cap^2-bounded tasks), never one bucket in one collect task.
    return (
        _skew_guarded_pairs(
            grouped,
            keys=["band", "val"],
            pair_sql=(
                "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                "cast(bit_count(x.phash ^ y.phash) AS int) AS hamming)"
            ),
            keep_sql=f"s.hamming <= {PHASH_MAX_HAMMING}",
            cap=cap,
        )
        .select("p.*")
        .dropDuplicates(["doc_a", "doc_b"])
    )


QUERIES = {
    "multimodal_binary_meta": q_multimodal_binary_meta,
    "multimodal_decode_mapinpandas": q_multimodal_decode_mapinpandas,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    # appended last (new r5 surface) so the existing driver-checked prefix
    # composition shifts as little as possible
    "multimodal_audio_windows": q_multimodal_audio_windows,
    # r7 continuation: integer-DCT perceptual hash census
    "multimodal_phash": q_multimodal_phash,
    # r8: pHash Hamming-ball near-dup pairs (exhaustive-join oracle)
    "multimodal_phash_pairs": q_multimodal_phash_pairs,
}

ORACLES = {
    "multimodal_binary_meta": """
        SELECT doc_id,
               octet_length(encode(text)) AS byte_len,
               length(text) AS char_len,
               upper(hex(encode(substr(text, 1, 4)))) AS magic_hex
        FROM documents
    """,
    "multimodal_decode_mapinpandas": """
        SELECT doc_id,
               octet_length(encode(text)) AS byte_len,
               (octet_length(encode(text)) % 640 + 1)::INT AS width,
               (octet_length(encode(text)) * 7 % 480 + 1)::INT AS height,
               'fake' AS format
        FROM documents
    """,
    "multimodal_resize": f"""
        WITH meta AS (
            SELECT doc_id,
                   (octet_length(encode(text)) % 640 + 1)::INT AS width,
                   (octet_length(encode(text)) * 7 % 480 + 1)::INT AS height
            FROM documents
        )
        SELECT doc_id, width, height,
               least(width, {MAX_W})::INT AS new_w,
               least(height, {MAX_H})::INT AS new_h,
               (least(width, {MAX_W})::BIGINT * least(height, {MAX_H}) // 16) AS resized_len
        FROM meta
    """,
    "multimodal_audio_windows": f"""
        WITH wave AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n
            FROM documents
        ), wins AS (
            -- n > 0 guard: the Spark kernel's `while start < n` loop emits
            -- ZERO windows for an empty payload; without the guard the
            -- series (0, greatest(n-1,0)) would emit a phantom win_idx=0
            -- row for empty docs and the engines would diverge (ADVICE r9)
            SELECT doc_id, hx, n,
                   unnest(generate_series(0, greatest(n - 1, 0), {AUDIO_HOP})) AS start
            FROM wave WHERE n > 0
        )
        SELECT doc_id,
               (start // {AUDIO_HOP})::INT AS win_idx,
               least({AUDIO_WIN}, n - start)::INT AS n_samples,
               list_sum(list_transform(
                   generate_series(start + 1, least(start + {AUDIO_WIN}, n)),
                   i -> (('0x' || substr(hx, 2 * i - 1, 2))::BIGINT - 128)
                        * (('0x' || substr(hx, 2 * i - 1, 2))::BIGINT - 128)))::BIGINT
                   AS energy
        FROM wins
    """,
    "multimodal_frame_sample": f"""
        WITH v AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) % 24 + 1 AS n_frames
            FROM documents
        )
        SELECT doc_id, idx::INT AS frame_idx,
               md5(hx || '-' || idx::VARCHAR) AS frame_hash
        FROM v, unnest(generate_series(0, n_frames - 1, {FRAME_STRIDE})) AS t(idx)
    """,
    # same integer DCT over the same md5-nibble grid; basis via VALUES
    "multimodal_phash": f"""
        WITH px AS (
            SELECT doc_id,
                   md5(text || ':px0') || md5(text || ':px1') AS hx
            FROM documents
        ), pixels AS (
            SELECT doc_id, (i // 8) AS r, (i % 8) AS c,
                   ('0x' || substr(hx, i + 1, 1))::BIGINT AS p
            FROM px, unnest(generate_series(0, 63)) AS t(i)
        ), basis(u, x, k) AS (VALUES {", ".join(f"({u}, {x}, {k})" for u, x, k in _dct_basis())}),
        g AS (
            SELECT doc_id, r, b.u AS v, sum(p * k)::BIGINT AS g
            FROM pixels JOIN basis b ON pixels.c = b.x
            GROUP BY 1, 2, 3
        ), f AS MATERIALIZED (
            SELECT doc_id, b.u, g.v, sum(g * k)::BIGINT AS f
            FROM g JOIN basis b ON g.r = b.x
            GROUP BY 1, 2, 3
            HAVING NOT (b.u = 0 AND g.v = 0)
        ), med AS (
            SELECT doc_id, f AS m FROM (
                SELECT doc_id, f,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY f, u, v) AS rk
                FROM f
            ) WHERE rk = 32
        )
        SELECT f.doc_id,
               sum(CASE WHEN f.f > med.m
                        THEN (1::BIGINT << (f.u * 8 + f.v - 1))
                        ELSE 0 END)::BIGINT AS phash,
               sum(CASE WHEN f.f > med.m THEN 1 ELSE 0 END)::INT AS n_ones
        FROM f JOIN med USING (doc_id)
        GROUP BY f.doc_id
    """,
}


ORACLES["multimodal_phash_pairs"] = f"""
    WITH fp AS MATERIALIZED (
        SELECT doc_id, phash FROM ({ORACLES["multimodal_phash"]})
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.phash, b.phash))::INT AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""


#: constellation fingerprint geometry: AUDIO_WIN-sample windows split into
#: FP_BANDS interleaved "frequency" bands; each window's peak band pairs
#: with the NEXT window's peak (anchor->target, dt fixed at 1 hop)
FP_BANDS = 8


def audio_peaks_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per window: FP_BANDS interleaved band energies (band k sums the
    squared centered samples at in-window offsets j with j % FP_BANDS ==
    k — the deterministic stand-in for an FFT bin magnitude), then the
    peak band (argmax, FIRST band on ties). All integer."""
    out: dict[str, list] = {"doc_id": [], "win_idx": [], "peak_band": []}
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        samples = [b - 128 for b in payload]
        n = len(samples)
        idx = 0
        start = 0
        while start < n:
            win = samples[start : start + AUDIO_WIN]
            bands = [0] * FP_BANDS
            for j, s in enumerate(win):
                bands[j % FP_BANDS] += s * s
            peak = 0
            for k in range(1, FP_BANDS):
                if bands[k] > bands[peak]:
                    peak = k
            out["doc_id"].append(doc_id)
            out["win_idx"].append(idx)
            out["peak_band"].append(peak)
            idx += 1
            start += AUDIO_HOP
    return pd.DataFrame(out)


def q_multimodal_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Constellation audio fingerprinting (the Shazam scheme, Wang 2003):
    each window's spectral peak pairs with the NEXT window's peak into a
    landmark hash (peak_a * FP_BANDS + peak_b); matching recordings share
    hash sequences, so the corpus-wide hash frequency attached per
    landmark is the match-candidate generator — the audio twin of the
    pHash image path (hash -> equi-join candidates, never pairwise
    signal comparison).

    The peak extraction is the mapInPandas kernel (the audio_windows
    batching: the 1->N window expansion stays inside the Python worker
    per Arrow batch); pairing is ONE lead() window per doc ordered by
    win_idx (recording-sized partitions, the per-doc sequence discipline)
    and the frequency census joins back broadcast (hash space is
    FP_BANDS^2 = 64 values).

    Determinism: band energies are integer sums of squared byte-centered
    samples; peaks break ties to the FIRST band in both engines (Python
    strict > scan; DuckDB list_position on the max); hashes and counts
    are exact integers end to end — no float anywhere."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield audio_peaks_batch(pdf)

    peaks = docs.mapInPandas(
        run, schema="doc_id bigint, win_idx int, peak_band int"
    )
    w = Window.partitionBy("doc_id").orderBy("win_idx")
    landmarks = peaks.withColumn(
        "pair_hash",
        F.when(
            F.lead("peak_band").over(w).isNotNull(),
            F.col("peak_band") * FP_BANDS + F.lead("peak_band").over(w),
        ),
    )
    freq = (
        landmarks.where(F.col("pair_hash").isNotNull())
        .groupBy("pair_hash")
        .agg(F.count("*").alias("n_pairs_same_hash"))
    )
    return landmarks.join(F.broadcast(freq), "pair_hash", "left").select(
        "doc_id", "win_idx", "peak_band", "pair_hash", "n_pairs_same_hash"
    )


ORACLES["multimodal_audio_fingerprint"] = f"""
    WITH wave AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
    ), wins AS (
        -- n > 0: empty payloads emit zero windows in the Spark kernel
        -- (audio_peaks_batch), so the oracle must not emit a phantom
        -- win_idx=0 row for them (ADVICE r9 empty-payload parity)
        SELECT doc_id, hx, n,
               unnest(generate_series(0, greatest(n - 1, 0), {AUDIO_HOP})) AS start
        FROM wave WHERE n > 0
    ), banded AS (
        SELECT doc_id, (start // {AUDIO_HOP})::INT AS win_idx,
               list_transform(generate_series(0, {FP_BANDS - 1}), k ->
                   coalesce(list_sum(list_transform(
                       list_filter(generate_series(0,
                           least({AUDIO_WIN}, n - start) - 1),
                           j -> j % {FP_BANDS} = k),
                       j -> (('0x' || substr(hx, 2 * (start + j) + 1, 2))::BIGINT - 128)
                            * (('0x' || substr(hx, 2 * (start + j) + 1, 2))::BIGINT - 128))),
                   0)) AS bands
        FROM wins
    ), peaks AS (
        SELECT doc_id, win_idx,
               (list_position(bands, list_max(bands)) - 1)::INT AS peak_band
        FROM banded
    ), landmarks AS (
        SELECT doc_id, win_idx, peak_band,
               CASE WHEN lead(peak_band) OVER
                        (PARTITION BY doc_id ORDER BY win_idx) IS NOT NULL
                    THEN peak_band * {FP_BANDS}
                         + lead(peak_band) OVER
                           (PARTITION BY doc_id ORDER BY win_idx) END AS pair_hash
        FROM peaks
    ), freq AS (
        SELECT pair_hash, count(*)::BIGINT AS n_pairs_same_hash
        FROM landmarks WHERE pair_hash IS NOT NULL GROUP BY pair_hash
    )
    SELECT l.doc_id, l.win_idx, l.peak_band, l.pair_hash, f.n_pairs_same_hash
    FROM landmarks l LEFT JOIN freq f USING (pair_hash)
"""
QUERIES["multimodal_audio_fingerprint"] = q_multimodal_audio_fingerprint
