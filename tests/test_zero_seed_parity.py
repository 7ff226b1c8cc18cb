"""Zero-seed engine parity for the coarse quantizer.

The coarse quantizer seeds its centroids from the smallest vec_ids of its
training frame. On a tight cone (every vector u + 0.1 * noise, normalized)
whose vec_ids 0 and 1 are all-zero, training over the whole corpus would
seed two centroids at zero that no unit vector ever joins (each is nearer
to a cone seed than to the origin), so they stay zero-norm: the Spark
probe's ANSI cosine divide raises while DuckDB ranks the NULL cosine
last. Both engines train on the nonzero rows only (`_coarse_codebook`,
`_ivf_cent_ctes`), so every query routed by the coarse quantizer must
match its oracle here. A cone is needed: among random unit vectors the
zero seeds gain members after the first round and the split never shows.
"""

from __future__ import annotations

import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from emr_flink_example_spark.io import TABLES
from emr_flink_example_spark.plans import catalog
from emr_flink_example_spark.testing import compare, connect_oracle

from conftest import SF_DIR

COARSE_ROUTED = (
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk",
    "dedup_semantic_clusters",
)


@pytest.fixture(scope="module")
def cone_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_zero_seed_cone")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    n, dim = table.num_rows, len(table["embedding"][0])
    rng = np.random.default_rng(5)
    X = rng.standard_normal(dim) + 0.1 * rng.standard_normal((n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    ids = table["vec_id"].to_numpy()
    X[ids < 2] = 0.0
    emb = pa.array(list(X.astype(np.float32)), type=table.schema.field("embedding").type)
    pq.write_table(
        table.set_column(table.schema.get_field_index("embedding"), "embedding", emb),
        d / "embeddings.parquet",
    )
    return str(d)


@pytest.mark.parametrize("name", COARSE_ROUTED)
def test_zero_seed_cone_parity(spark, cone_dir, name):
    qs, os_ = catalog.all_queries(), catalog.all_oracles()
    ok, msg = compare(spark, connect_oracle(cone_dir), qs[name], os_[name], cone_dir)
    assert ok, f"{name} engine parity with all-zero lowest vec_ids: {msg}"
