"""Dirty-fixture ENGINE PARITY (r11): null and empty text must not just
survive (tests/test_empty_corpus.py) — the two engines must agree on it.
io.load's ingestion contract coalesces null text to '' (io.py:93), and
`testing.connect_oracle` mirrors that contract, so parity here checks
the COMPUTATION on degenerate strings, not the contract.

The full-catalog dirty sweep (`python tools/selfcheck.py <nully-dir>`)
ran 303/303 green in r11 after three oracle fixes this test pins:
doc_fingerprint_rolling (DuckDB string_split('','') is ['']),
udtf_leading_tokens (same artifact vs the UDTF's `if text:` guard), and
scalar_array_funcs (array_to_string of an empty slice is NULL in DuckDB,
'' in Spark). This test keeps a representative text-family set green per
run; re-run the full sweep when touching text operators."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from emr_flink_example_spark.io import TABLES
from emr_flink_example_spark.plans import catalog
from emr_flink_example_spark.testing import compare, connect_oracle

from conftest import SF_DIR

#: the three r11 oracle fixes + the per-doc text maps + one of each text
#: pipeline family (tokens/shingles/fingerprints/retrieval)
PARITY_SET = (
    "doc_fingerprint_rolling",
    "udtf_leading_tokens",
    "scalar_array_funcs",
    "text_quality",
    "quality_gopher_rules",
    "text_readability_flesch",
    "text_code_detect",
    "lang_id_heuristic",
    "token_counts",
    "dedup_exact",
    "dedup_repeated_spans",
    "doc_fingerprint",
    "bm25_topk",
    "chunk_documents",
    # the span-duplication tests of the span trim and the curation gates
    "dedup_span_trim",
    "curation_gate_stats",
)


@pytest.fixture(scope="module")
def dirty_dir(tmp_path_factory):
    """sf0.001 clone: every 5th doc's text NULL, every 7th EMPTY, one doc
    all-consonant (no vowel runs — the flesch clamp case)."""
    d = tmp_path_factory.mktemp("sf_dirty_parity")
    for t in TABLES:
        src = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            pdf = src.to_pandas()
            pdf.loc[pdf.index % 5 == 0, "text"] = None
            pdf.loc[pdf.index % 7 == 0, "text"] = ""
            pdf.loc[pdf.index[3], "text"] = "xxx zzz qqq 123"
            src = pa.Table.from_pandas(pdf, preserve_index=False, schema=src.schema)
        pq.write_table(src, d / f"{t}.parquet")
    return str(d)


@pytest.mark.parametrize("name", PARITY_SET)
def test_dirty_text_parity(spark, dirty_dir, name):
    qs, os_ = catalog.all_queries(), catalog.all_oracles()
    ok, msg = compare(spark, connect_oracle(dirty_dir), qs[name], os_[name], dirty_dir)
    assert ok, f"{name} engine parity on dirty text: {msg}"
