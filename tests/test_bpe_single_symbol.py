"""Regression: BPE training when a word has merged into ONE symbol.

On a corpus whose most frequent word is a single letter, the first merge
is (letter, </w>), which leaves that word a single symbol. The next
round's pair generator then ran `sequence(0, size(syms) - 2)` =
sequence(0, -1), which counts DOWN to [0, -1], and `syms[i+1]` threw
ArrayIndexOutOfBounds. The DuckDB oracle's generate_series(1, 0) is
empty, so such a word simply has no pairs; both engines must agree on
the trained rules and on the segmentation.

A corpus with fewer possible merges than N_BPE_MERGES runs out of pairs:
the Spark trainer stops merging, and the oracle's vocab must carry over
unchanged (it used to CROSS JOIN the empty winner and lose every word).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from emr_flink_example_spark.io import TABLES
from emr_flink_example_spark.plans import catalog
from emr_flink_example_spark.testing import compare, connect_oracle

from conftest import SF_DIR

#: "a" is the most frequent word; "rich" leaves far more than
#: N_BPE_MERGES merges available, "short" runs out after three
CORPORA = {
    "rich": ["a a a the cat sat on a mat", "a hat with a cat", "on the mat a a"],
    "short": ["a b a", "ab b"],
}


@pytest.fixture(scope="module", params=sorted(CORPORA))
def tiny_dir(request, tmp_path_factory):
    texts = CORPORA[request.param]
    d = tmp_path_factory.mktemp(f"sf_bpe_{request.param}")
    for t in TABLES:
        src = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            pdf = src.slice(0, len(texts)).to_pandas()
            pdf["text"] = texts
            pdf["n_chars"] = [len(x) for x in texts]
            src = pa.Table.from_pandas(pdf, preserve_index=False, schema=src.schema)
        pq.write_table(src, d / f"{t}.parquet")
    return str(d)


@pytest.mark.parametrize("name", ["bpe_first_merges", "bpe_train_merges", "bpe_segment_docs"])
def test_bpe_single_symbol_word_matches_oracle(spark, tiny_dir, name):
    qs, os_ = catalog.all_queries(), catalog.all_oracles()
    ok, msg = compare(spark, connect_oracle(tiny_dir), qs[name], os_[name], tiny_dir)
    assert ok, f"{name} on a single-letter-word corpus: {msg}"


def test_corpora_exercise_both_cases(spark, tiny_dir):
    from emr_flink_example_spark.operators.textstats import N_BPE_MERGES

    rules = catalog.all_queries()["bpe_train_merges"](spark, tiny_dir).orderBy("rank").collect()
    if "sf_bpe_rich" in tiny_dir:  # the single-letter word closes first
        assert (rules[0].p1, rules[0].p2) == ("a", "</w>")
        assert len(rules) == N_BPE_MERGES
    else:  # pairs run out before the round budget
        assert 0 < len(rules) < N_BPE_MERGES
