"""Empty and whitespace-only documents through the per-document ratio
queries. A ratio over size(toks) or length(text) of such a document is
NULL in DuckDB; under Spark's ANSI mode a plain division raises
DIVIDE_BY_ZERO instead, so the shared quality features and the token
statistics divide with try_divide. Each query is compared with its
oracle on a corpus that holds such documents beside ordinary ones."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from disco_spark.testing import compare_query

TEXTS = [
    "",
    "   ",
    "the spark join and the vector scan is fast",
    "the spark join and the vector scan is fast today",
    "a data batch of rows",
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_docs")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(TEXTS)), pa.int64()),
                "text": TEXTS,
                "lang": ["en"] * len(TEXTS),
                "source": ["src0", "src1"] * 2 + ["src0"],
                "n_chars": pa.array([len(t) for t in TEXTS], pa.int64()),
            }
        ),
        root / "documents.parquet",
    )
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        "text_token_stats",
        "text_quality_score",
        "text_quality_logistic",
        "corpus_curation_pipeline",
        "dedup_keep_best_quality",
    ],
)
def test_ratio_queries_match_oracle_on_empty_documents(spark, corpus, name):
    compare_query(spark, name, corpus)
