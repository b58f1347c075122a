"""Plan pin for the ANN serve paths: the IVF-PQ search perfbench's
`index_serve` workload runs (16 queries over the serveable codes of a
persisted index, k=10, nprobe=3) and the IVF-blocked k-NN graph. A
refactor of the shared probe / ADC / exact top-k steps must not add or
drop an exchange in either."""

from __future__ import annotations

import numpy as np

from disco_spark.session import load_tables
from disco_spark.similarity.ann import knn_graph
from disco_spark.similarity.index_store import (
    ann_index_load,
    ann_index_save,
    ann_index_serveable_codes,
)
from disco_spark.similarity.pq import ivfpq_search

from tests.conftest import SF_SMOKE
from tests.plan_pin import exchanges


def test_ivfpq_serve_exchanges(spark, tmp_path):
    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "ann_index")
    ann_index_save(e, path)
    cents, _, books = ann_index_load(spark, path)
    codes = ann_index_serveable_codes(spark, path)
    rows = e.select("vec_id", "embedding").orderBy("vec_id").limit(16).collect()
    queries = [(r.vec_id, np.array(r.embedding, dtype=np.float32)) for r in rows]
    df = ivfpq_search(e, codes, queries, books, spark, k=10, nprobe=3, cents=cents)
    # the probe window twice (the probe rows are broadcast into the ADC
    # join and also prune the label-partitioned code scan) and the
    # shortlist window; the rerank reuses the shortlist's partitioning.
    # Broadcasts: the centroids under each probe, the probe rows and the
    # raw vectors of the rerank.
    assert exchanges(df) == (3, 4)


def test_knn_graph_exchanges(spark):
    e = load_tables(spark, SF_SMOKE)["embeddings"]
    # centroid agg (two), probe window, top-k window; broadcast
    # centroids and members
    assert exchanges(knn_graph(e)) == (4, 2)
