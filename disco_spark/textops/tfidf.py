"""TF-IDF keyword extraction and train-vocab OOV coverage — term-level
corpus statistics a training-data pipeline runs before tokenizer/mixture
decisions (beyond-reference surface; the reference's closest analog is
the wordcount family, README.md:17-30).

Both operators are pure built-in-function Spark over the shared
whitespace tokenizer (textops.analysis.with_toks — same semantics as the
DuckDB `_TOKS_SQL` replay).

Scale story:
- tfidf_top_terms: two shuffles over (doc_id, term) / (term) aggregates;
  the corpus size N enters as a lazy 1-row cross-joined aggregate (no
  driver action), document frequencies join back onto the tf table by
  term (hash shuffle, partial aggs map-side). Top-k per doc is one
  window over doc_id — the same Exchange the tf aggregate already
  produced, so Catalyst reuses it.
- vocab_coverage_oov: the train-split vocabulary is a top-500 global
  TakeOrdered (bounded driver-free sort-limit), then BROADCAST to the
  test-split scan; per-doc coverage is one aggregate — at 100 TB the
  test scan never shuffles raw tokens, only (doc_id) partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.sampling import TEST_HI, VAL_HI, _bucket_sql, hash_bucket
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL, _ngrams_sql, ngrams_expr, with_toks

TOP_TERMS_PER_DOC = 3
VOCAB_SIZE = 500


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH d AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM d GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS rn FROM scored
    ) WHERE rn <= {TOP_TERMS_PER_DOC}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf-idf (smoothed idf
    ln((N+1)/(df+1))). Ranking is on the ROUNDED score with a term
    tie-break, so cross-engine 1-ulp log differences can't reorder."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select(
        "doc_id", F.explode("toks").alias("term")
    )
    tf = d.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_TERMS_PER_DOC)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "vocab_coverage_oov",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    trainterms AS (
      SELECT unnest(toks) AS term FROM d
      WHERE {_bucket_sql("doc_id")} >= {VAL_HI}
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (
          ORDER BY COUNT(*) DESC, term
        ) AS rn FROM trainterms GROUP BY term
      ) WHERE rn <= {VOCAB_SIZE}
    ),
    test AS (
      SELECT doc_id, unnest(toks) AS term FROM d
      WHERE {_bucket_sql("doc_id")} < {TEST_HI}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_toks,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_ratio
    FROM test t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id
    """,
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TEST-doc out-of-vocabulary ratio against the top-500 term
    vocabulary built from the TRAIN split — the tokenizer-coverage audit
    run before committing a vocab. Splits come from the single-sourced
    hash boundaries (sampling.TEST_HI/VAL_HI), so this measures exactly
    the splits the pipeline produces. The vocab cut ranks by
    (count DESC, term) — deterministic at the rank-500 tie boundary."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select(
        "doc_id", hash_bucket(F.col("doc_id")).alias("bucket"), "toks"
    )
    train_terms = d.filter(F.col("bucket") >= VAL_HI).select(
        F.explode("toks").alias("term")
    )
    # orderBy+limit lowers to TakeOrderedAndProject: per-partition top-500
    # merged once — no single-partition Exchange of the whole term table
    # (a global row_number window would move every distinct term to one
    # task, which dies at web-corpus vocabulary sizes)
    vocab = (
        train_terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(VOCAB_SIZE)
        .select("term")
    )
    test = d.filter(F.col("bucket") < TEST_HI).select(
        "doc_id", F.explode("toks").alias("term")
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        test.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            oov.alias("n_oov"),
            F.round(
                oov.cast("double") / F.count(F.lit(1)), 6
            ).alias("oov_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sparse-cosine near-dup detection — the classic IR dedup
# geometry (tf-idf vectors, cosine), completing the dedup family's
# coverage of similarity measures: set (Jaccard), sketch (MinHash),
# bit (SimHash), containment (asymmetric), dense (embedding cosine) —
# and now WEIGHTED sparse. Terms are token BIGRAMS (the unigram vocab
# of this corpus is ~40 words — unigram vectors would be dense and
# meaningless); DF-pruning keeps only bigrams in <= TFIDF_DF_CAP docs,
# which is simultaneously the quality move (stop-bigrams carry no
# near-dup signal at idf ~ 0) and the scale move (every posting list
# entering the pair join is bounded by DF_CAP, so per-term pair
# generation is O(DF_CAP^2), never O(corpus^2) — the rare-term
# blocking standard in large-scale dedup).
#
# Determinism: the only transcendental is ln((N+1)/(df+1)), quantized
# ONCE per df value to an integer micro-idf (ROUND(idf*1e6)); weights
# tf * idf6, dots, and norms are then exact integer/decimal sums in
# both engines, and the final cosine is one double division + sqrt of
# identical values, rounded to 6 before the threshold compare.
# Measured on this corpus: 25 planted near-dup pairs at cosine >=
# 0.868, next chance pair at 0.255 — the 0.5 threshold sits in a
# .25-wide dead zone.
# ---------------------------------------------------------------------------
TFIDF_DF_CAP = 40
TFIDF_MIN_COS = 0.5

_BIGRAM_TF_SQL = f"""
    btoks AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    bg AS (SELECT doc_id, unnest({_ngrams_sql(2)}) AS bigram FROM btoks),
    btf AS (SELECT doc_id, bigram, COUNT(*) AS tf FROM bg GROUP BY 1, 2)"""


@query(
    "dedup_tfidf_cosine_bigram",
    oracle=f"""
    WITH {_BIGRAM_TF_SQL},
    dfreq AS (
      SELECT bigram, COUNT(*) AS df FROM btf
      GROUP BY 1 HAVING COUNT(*) <= {TFIDF_DF_CAP}
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT btf.doc_id, btf.bigram,
             btf.tf * CAST(ROUND(
               LN((n.n_docs + 1.0) / (dfreq.df + 1.0)) * 1000000
             ) AS BIGINT) AS w
      FROM btf JOIN dfreq USING (bigram) CROSS JOIN n
    ),
    norms AS (
      SELECT doc_id, SUM(CAST(w AS DECIMAL(38,0)) * w) AS n2
      FROM w GROUP BY 1
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(a.w AS DECIMAL(38,0)) * b.w) AS dot
      FROM w a JOIN w b ON a.bigram = b.bigram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(dot AS DOUBLE)
                 / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE ROUND(CAST(dot AS DOUBLE)
                / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
                6) >= {TFIDF_MIN_COS}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_tfidf_cosine_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by tf-idf bigram cosine >= {TFIDF_MIN_COS}
    over DF-pruned (df <= {TFIDF_DF_CAP}) bigram vectors:
    (doc_a, doc_b, cosine), doc_a < doc_b.

    Plan: tokenize once -> bigram tf -> df filter (the posting-list
    bound) -> integer micro-idf weights -> pair join ON the bigram key
    (each posting list <= DF_CAP rows) -> exact decimal dot/norms ->
    one double cosine per surviving pair. No all-pairs stage exists
    anywhere in the plan; candidate volume is sum_t df_t^2 over pruned
    terms, the rare-term-blocking bound."""
    t = load_tables(spark, sf_dir)
    tf = (
        with_toks(t["documents"])
        .filter(F.size("toks") >= 2)
        .selectExpr("doc_id", f"explode({ngrams_expr(2)}) AS bigram")
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        tf.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= TFIDF_DF_CAP)
    )
    n_docs = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    idf6 = F.round(
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
        * 1000000
    ).cast("bigint")
    w = (
        tf.join(dfreq, "bigram")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "bigram", (F.col("tf") * idf6).alias("w"))
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).alias("n2")
    )
    a = w.select(
        F.col("bigram").alias("bg"),
        F.col("doc_id").alias("doc_a"),
        F.col("w").alias("wa"),
    )
    b = w.select(
        F.col("bigram").alias("bg"),
        F.col("doc_id").alias("doc_b"),
        F.col("w").alias("wb"),
    )
    dots = (
        a.join(b, "bg")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa").cast("decimal(38,0)") * F.col("wb")).alias(
                "dot"
            )
        )
    )
    na = norms.select(F.col("doc_id").alias("_na"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("_nb"), F.col("n2").alias("nb2"))
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return (
        dots.join(na, F.col("_na") == F.col("doc_a"))
        .join(nb, F.col("_nb") == F.col("doc_b"))
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= TFIDF_MIN_COS)
        .orderBy("doc_a", "doc_b")
    )
