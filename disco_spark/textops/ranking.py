"""Corpus ranking statistics: BM25 retrieval scoring and a Zipf
rank-frequency fit.

The reference's IR surface is the wordcount/grep family plus DiscoDB
inverted indexes (ref README.md:17-30, lib/discodb; SURVEY §2.6) — a
user builds the index and writes the scorer by hand. Here the classic
Okapi BM25 scorer and the Zipf's-law corpus diagnostic are declarative
DataFrame plans over the shared whitespace tokenizer
(textops.analysis.with_toks == the DuckDB ``_TOKS_SQL`` replay).

Scale story (100 TB corpus):
- bm25_topk_docs: document frequencies and corpus stats (N, avgdl) are
  tiny aggregates broadcast back onto the (doc, term) tf table; the
  only big shuffles are the two (doc_id, term)-grained aggregates the
  tf/df computation needs. Per-doc scores fold map-side; the final
  top-k is a global TakeOrdered (bounded, driver-free). No per-query
  index rebuild is implied at scale — the tf/df tables ARE the
  inverted index; the discodb/index_store modules show the persisted
  variant.
- zipf_token_slope: one token-count aggregate, a bounded top-1000
  TakeOrdered, then the stats.regr_by_group exact-moment fit (decimal
  accumulation, order-independent) over 1000 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from disco_spark.operators.stats import _msum_sql, regr_by_group
from disco_spark.registry import query
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL, with_toks

# Okapi BM25 defaults (Robertson et al.; the values every engine ships)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
# fixed demonstration query — common corpus terms with distinct df
BM25_QUERY_TERMS = ("spark", "stream", "merge")

ZIPF_VOCAB = 1000


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM d)
      WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             CAST(
               ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1)) /
                 (tf.tf + {BM25_K1} *
                  (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
               AS DECIMAL(28,15)) AS term_score
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id,
             ROUND(CAST(SUM(term_score) AS DOUBLE), 6) AS bm25
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} documents by Okapi BM25 for a fixed 3-term query
    (k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5))).

    Per-term contributions accumulate as exact DECIMAL(28,15) before
    the double cast (order-independent sum); ranking is on the ROUNDED
    score with a doc_id tie-break, so cross-engine 1-ulp log
    differences can't reorder the cut."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select("doc_id", "toks")
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1 - BM25_B)
        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * (F.col("tf") * F.lit(BM25_K1 + 1)) / denom)
            .cast("decimal(28,15)")
            .alias("term_score"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score").cast("double"), 6).alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


@query(
    "zipf_token_slope",
    # exact-moment replay of regr_by_group over (ln rank, ln freq) of
    # the top-1000 tokens — slope ~ -1 is Zipf's law; the fit is the
    # corpus-health diagnostic a tokenizer pipeline checks per source
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS term FROM documents
    ),
    cnt AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY 1),
    ranked AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
      FROM cnt
    ),
    xy AS (
      SELECT 'top{ZIPF_VOCAB}' AS vocab,
             ln(CAST(rank AS DOUBLE)) AS lx,
             ln(CAST(freq AS DOUBLE)) AS ly
      FROM ranked WHERE rank <= {ZIPF_VOCAB}
    ),
    sums AS (
      SELECT vocab, COUNT(*) AS n,
             {_msum_sql("lx", "sx")}, {_msum_sql("ly", "sy")}, {_msum_sql("lx * lx", "sxx")}, {_msum_sql("lx * ly", "sxy")}, {_msum_sql("ly * ly", "syy")}
      FROM xy GROUP BY vocab
    )
    SELECT vocab, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM sums
    """,
)
def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus: least squares of ln(freq) on
    ln(rank) for the top-1000 tokens. Natural language sits near slope
    -1; a synthetic or deduplicated-to-death corpus drifts — the
    one-row corpus diagnostic.

    Token ranks come from a bounded TakeOrdered (top-1000 by freq with
    a term tie-break); the fit reuses stats.regr_by_group's exact
    decimal moments, so the statistic is shuffle-order-independent."""
    t = load_tables(spark, sf_dir)
    cnt = (
        with_toks(t["documents"])
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(ZIPF_VOCAB)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    xy = cnt.withColumn("rank", F.row_number().over(w)).select(
        F.lit(f"top{ZIPF_VOCAB}").alias("vocab"),
        F.log(F.col("rank").cast("double")).alias("lx"),
        F.log(F.col("freq").cast("double")).alias("ly"),
    )
    return regr_by_group(xy, "lx", "ly", "vocab")


HEAPS_PCTS = (10, 25, 50, 100)


def _heaps_probe_sql(pct: int) -> str:
    return f"(({pct} * maxd) // 100)"


@query(
    "vocab_growth_heaps",
    # Heaps'-law curve: vocabulary size at doc-prefix checkpoints.
    # Cumulative-distinct is not prefix-decomposable, but each term's
    # FIRST occurrence is a plain MIN — V(prefix) = #terms whose
    # first_doc falls inside the prefix. Pure integers.
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    mx AS (SELECT MAX(doc_id) AS maxd FROM d),
    firstocc AS (
      SELECT term, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY term
    ),
    docs_agg AS (
      SELECT {", ".join(
        f"CAST(SUM(CASE WHEN doc_id <= {_heaps_probe_sql(p)} THEN 1 ELSE 0 END) AS BIGINT) AS nd{i}, "
        f"CAST(SUM(CASE WHEN doc_id <= {_heaps_probe_sql(p)} THEN len(toks) ELSE 0 END) AS BIGINT) AS nt{i}"
        for i, p in enumerate(HEAPS_PCTS))}
      FROM d CROSS JOIN mx
    ),
    vocab_agg AS (
      SELECT {", ".join(
        f"CAST(SUM(CASE WHEN first_doc <= {_heaps_probe_sql(p)} THEN 1 ELSE 0 END) AS BIGINT) AS v{i}"
        for i, p in enumerate(HEAPS_PCTS))}
      FROM firstocc CROSS JOIN mx
    )
    {" UNION ALL ".join(
      f"SELECT {p} AS pct, nd{i} AS n_docs, nt{i} AS n_tokens, v{i} AS vocab_size FROM docs_agg CROSS JOIN vocab_agg"
      for i, p in enumerate(HEAPS_PCTS))}
    """,
)
def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: vocabulary size at 10/25/50/100%
    document-prefix checkpoints (by doc_id order) with the token
    counts those prefixes contain — the "is the corpus still teaching
    the tokenizer new words" diagnostic (sublinear growth = healthy
    natural text; flat = exhausted/duplicated corpus).

    Cumulative-distinct doesn't decompose over prefixes, but each
    term's FIRST occurrence is one MIN aggregate — vocabulary at any
    checkpoint is then a conditional count over the first-occurrence
    table. Two grouped aggregates + two 1-row conditional folds; the
    probes never re-scan text."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select(
        "doc_id", "toks", F.size("toks").alias("n_toks")
    )
    mx = F.broadcast(d.agg(F.max("doc_id").alias("maxd")))
    firstocc = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )

    def probe_expr(p):
        return F.expr(f"({p} * maxd) div 100")

    docs_agg = d.crossJoin(mx).agg(
        *[
            a
            for i, p in enumerate(HEAPS_PCTS)
            for a in (
                F.sum((F.col("doc_id") <= probe_expr(p)).cast("int"))
                .cast("bigint")
                .alias(f"nd{i}"),
                F.sum(
                    F.when(
                        F.col("doc_id") <= probe_expr(p), F.col("n_toks")
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"nt{i}"),
            )
        ]
    )
    vocab_agg = firstocc.crossJoin(mx).agg(
        *[
            F.sum((F.col("first_doc") <= probe_expr(p)).cast("int"))
            .cast("bigint")
            .alias(f"v{i}")
            for i, p in enumerate(HEAPS_PCTS)
        ]
    )
    wide = docs_agg.crossJoin(F.broadcast(vocab_agg))
    stack = ", ".join(
        f"{p}, nd{i}, nt{i}, v{i}" for i, p in enumerate(HEAPS_PCTS)
    )
    return wide.select(
        F.expr(
            f"stack({len(HEAPS_PCTS)}, {stack}) "
            "AS (pct, n_docs, n_tokens, vocab_size)"
        )
    )


PHRASE = ("spark", "stream")


@query(
    "phrase_search_bigram",
    # positional phrase search: docs where 'spark' is IMMEDIATELY
    # followed by 'stream' — adjacency join on token positions (the
    # positional-posting-list operator boolean CNF queries can't
    # express), plus the occurrence count per doc
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, generate_subscripts({_TOKS_SQL}, 1) AS p,
             unnest({_TOKS_SQL}) AS term
      FROM documents
    )
    SELECT a.doc_id, COUNT(*) AS n_occurrences
    FROM pos a JOIN pos b
      ON b.doc_id = a.doc_id AND b.p = a.p + 1
    WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
    GROUP BY a.doc_id
    """,
)
def phrase_search_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search: documents containing the exact phrase
    '{spark stream}' as adjacent tokens, with per-doc occurrence
    counts — the positional-index operator that boolean/CNF index
    queries (discodb_*) cannot express. Posting lists carry (doc,
    position); the phrase is an equi-join on (doc_id, position+1)
    AFTER filtering each side to its term — the join input is two
    term posting lists, never the full position table.

    At 100 TB the filtered posting lists are the per-term index rows a
    real positional index stores; adjacency stays an equi-join (k-term
    phrases chain k-1 joins)."""
    t = load_tables(spark, sf_dir)
    pos = with_toks(t["documents"]).select(
        "doc_id", F.posexplode("toks").alias("p", "term")
    )
    a = pos.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("p").alias("pa")
    )
    b = pos.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", F.col("p").alias("pb")
    )
    return (
        a.join(b, (a.doc_id == b.doc_id) & (F.col("pb") == F.col("pa") + 1))
        .groupBy(a.doc_id)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# Burrows' Delta — the classic stylometric distance between sources:
# z-score each source's relative frequency of the corpus's top-K
# words, then average |z_a - z_b| over words per source pair. The
# authorship/provenance attribution primitive ("are these two corpus
# sources the same register?"), and a drift sibling of the PSI/KL
# screens built on marginal word frequencies instead of divergences.
# ---------------------------------------------------------------------------
DELTA_TOP_WORDS = 20


@query(
    "text_burrows_delta_sources",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS w FROM documents
    ),
    top AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS n FROM toks GROUP BY 1
        ORDER BY n DESC, w LIMIT {DELTA_TOP_WORDS}
      )
    ),
    st AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ts
      FROM toks GROUP BY 1
    ),
    c AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks JOIN top USING (w) GROUP BY 1, 2
    ),
    grid AS (
      SELECT st.source, top.w,
             CAST(COALESCE(c.c, 0) AS DOUBLE) / st.ts AS f
      FROM st CROSS JOIN top
      LEFT JOIN c ON c.source = st.source AND c.w = top.w
    ),
    ws AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS ns,
             CAST(SUM(CAST(f AS DECIMAL(28,15))) AS DOUBLE) AS fs
      FROM grid GROUP BY 1
    ),
    mu AS (SELECT w, ns, fs / ns AS mu FROM ws),
    vr AS (
      SELECT g.w, mu.mu,
             sqrt(CAST(SUM(CAST((g.f - mu.mu) * (g.f - mu.mu)
                      AS DECIMAL(28,15))) AS DOUBLE) / mu.ns) AS sd
      FROM grid g JOIN mu ON mu.w = g.w GROUP BY g.w, mu.mu, mu.ns
    ),
    z AS (
      SELECT g.source, g.w, (g.f - vr.mu) / vr.sd AS z
      FROM grid g JOIN vr ON vr.w = g.w WHERE vr.sd > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           ROUND(CAST(SUM(CAST(ABS(a.z - b.z) AS DECIMAL(28,12)))
                      AS DOUBLE) / COUNT(*), 6) AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY source_a, source_b
    """,
)
def text_burrows_delta_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Burrows' Delta between every pair of corpus sources over the
    top-{DELTA_TOP_WORDS} words: relative frequencies f = c/tokens per
    source (exact-integer ratios), per-word population z-scores across
    sources (zero-variance words excluded — z undefined), delta =
    mean |z_a - z_b|. All cross-source folds accumulate
    DECIMAL-rounded terms (order-independent); output is bounded by
    |sources|^2, not data volume.

    Plan: ONE pass over the exploded tokens pre-aggregates to
    (source, w, c) — vocab-x-sources-bounded (Heaps law), not
    token-volume-bounded — and that compact persisted frame feeds the
    top-word bound (sum per w), the per-source totals (sum per
    source), and the top-word counts (broadcast-semi filter, no
    re-aggregation). The exploded token rows never reach an exchange
    (partial agg combines per partition) and never sit in cache. The
    densified grid is |sources| x K cells (cross join of two
    broadcast-bounded sides); the pair join runs on the word key over
    that bounded grid."""
    from disco_spark.session import lazy_persist, load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    counts = lazy_persist(
        with_toks(docs)
        .select("source", F.explode("toks").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = (
        counts.groupBy("w")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(DELTA_TOP_WORDS)
        .select("w")
    )
    st = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("ts")
    )
    c = counts.join(F.broadcast(top), "w").select("source", "w", "c")
    grid = (
        st.crossJoin(F.broadcast(top))
        .join(c, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("ts")
            ).alias("f"),
        )
    )
    grid = lazy_persist(grid)
    ws = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum(F.col("f").cast("decimal(28,15)")).cast("double").alias("fs"),
    )
    mu = ws.select("w", "ns", (F.col("fs") / F.col("ns")).alias("mu"))
    vr = (
        grid.join(mu, "w")
        .groupBy("w", "mu", "ns")
        .agg(
            F.sqrt(
                F.sum(
                    ((F.col("f") - F.col("mu")) * (F.col("f") - F.col("mu")))
                    .cast("decimal(28,15)")
                ).cast("double")
                / F.col("ns")
            ).alias("sd")
        )
    )
    z = (
        grid.join(vr.filter(F.col("sd") > 0), "w")
        .select(
            "source", "w", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z")
        )
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "w", F.col("z").alias("zb")
    )
    return (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.round(
                F.sum(
                    F.abs(F.col("za") - F.col("zb")).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("delta"),
        )
        .orderBy("source_a", "source_b")
    )
