"""Plan and job ceilings for the text queries that compose the shared
text primitives of textops/analysis.py (tokenizer, normalizer, n-grams,
quality features, BPE pretokens) at SF_SMOKE: Spark jobs, keyed shuffle
exchanges and broadcast exchanges per query. Moving a query onto a
shared primitive must not add any of them. The ceilings are the counts
the queries read before they shared the primitives; they held over
three runs. Lower a ceiling when a change cuts the count for good."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.plan_pin import query_counts

# name -> (Spark jobs, keyed Exchange nodes, BroadcastExchange nodes)
CEILINGS = {
    "contamination_train_bloom": (13, 4, 2),
    "corpus_curation_pipeline": (22, 3, 0),
    "dedup_exact": (2, 1, 0),
    "dedup_keep_best_quality": (22, 3, 1),
    "dedup_paragraph": (3, 2, 0),
    "dedup_paragraph_clean": (7, 3, 1),
    "dedup_tfidf_cosine_bigram": (19, 20, 11),
    "discodb_metaquery_recursive": (14, 15, 10),
    "sample_token_budget_per_source": (11, 8, 1),
    "sketch_countmin_heavy_hitters": (9, 3, 2),
    "text_bpe_pretokens": (1, 0, 0),
    "text_burrows_delta_sources": (27, 50, 18),
    "text_fingerprint": (1, 0, 0),
    "text_js_divergence_sources": (21, 13, 4),
    "text_quality_logistic": (1, 0, 0),
    "text_quality_score": (1, 0, 0),
    "text_repetition_ratio": (1, 0, 0),
    "text_token_stats": (1, 0, 0),
    "text_tokenizer_fertility_by_lang": (2, 1, 0),
    "vocab_keyness_test_vs_train": (6, 3, 1),
    "vocab_pmi_collocations": (14, 7, 4),
    "vocab_top_bigrams": (2, 1, 0),
}


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_text_query_stays_under_its_ceilings(spark, name):
    got = query_counts(spark, name, SF_SMOKE)
    assert all(g <= c for g, c in zip(got, CEILINGS[name])), (got, CEILINGS[name])
