"""Text-analysis operators for training-data pipelines (beyond-reference
surface; driver north star): token counting, quality scoring, language
ID, document fingerprinting. Everything here is built-in-function Spark
(whole-stage codegen; zero Python UDFs) — at 100 TB these run as a
single scan with no shuffle.

The only reference analog is the wordcount/grep family
(README.md:17-30, examples/util/grep.py) — covered in classic_demo;
these operators extend the same one-pass-scan shape.

This module also holds the text primitives every text operator in the
package composes, each defined once in Spark and once as DuckDB oracle
SQL:

- whitespace tokens: `with_toks` (a `toks` column) / `_TOKS_SQL`;
- normalized text (lower-cased, whitespace runs collapsed to one
  space, trimmed): `normalized(col)` / `_normalized_sql(expr)`;
- token n-grams (k-token windows of `toks` joined by one space):
  `ngrams_expr(k)` / `_ngrams_sql(k)`;
- quality features (stopword ratio, alphabetic ratio, length prior;
  a ratio over an empty document is NULL): `quality_features()` /
  `_QUALITY_SQL`;
- BPE pretokens (GPT-2 pre-tokenizer pieces, whitespace-only pieces
  dropped): `bpe_pretokens()` / `_PRETOKENS_SQL`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import load_tables

# shared tokenization: non-empty runs after splitting on whitespace —
# identical semantics in Spark (split + filter) and DuckDB
# (regexp_split_to_array + list_filter), verified in tests.
def _toks() -> Column:
    # one parsed SQL expression instead of per-operator py4j round trips:
    # Column construction is a driver-side cost paid on every query
    # invocation. Same Catalyst expression as the Column-API
    # filter-of-split composition.
    return F.expr("filter(split(`text`, '\\\\s+'), x -> x != '')")


def with_toks(df: DataFrame) -> DataFrame:
    """Project tokenization ONCE as a `toks` column. Expressions that
    reference tokens (especially inside higher-order-function lambdas,
    where Catalyst does no common-subexpression elimination) must use
    `F.col("toks")`, never the raw `_toks()` expression — inlining the
    split+filter into a lambda body re-tokenizes the document on every
    lambda invocation (measured 19x slowdown on the shingle scan).
    Idempotent: a DataFrame already carrying `toks` passes through, so
    composition plans tokenize exactly once."""
    if "toks" in df.columns:
        return df
    return df.withColumn("toks", _toks())


_TOKS_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"


def normalized(text: Column) -> Column:
    """`text` lower-cased, each whitespace run replaced by one space,
    trimmed: the form exact and span dedup hash."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def _normalized_sql(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def ngrams_expr(k: int) -> str:
    """Spark SQL text of the k-token n-grams of the `toks` column, one
    string per window with its tokens joined by one space. Parsed in a
    single py4j call. Rows with fewer than k tokens must be filtered
    out first: their window sequence runs backwards."""
    cat = ", ".join(f"element_at(toks, i + {j + 1})" for j in range(k))
    return f"transform(sequence(0, size(toks) - {k}), i -> concat_ws(' ', {cat}))"


def _ngrams_sql(k: int) -> str:
    """DuckDB list of the k-token n-grams of `toks` (empty when the
    document has fewer than k tokens)."""
    cat = ", ".join(["toks[i]"] + [f"toks[i + {j}]" for j in range(1, k)])
    return f"list_transform(generate_series(1, len(toks) - {k - 1}), i -> concat_ws(' ', {cat}))"


# language-ID stopword profiles (tiny n-gram/stopword heuristic; order of
# comparison = fixed precedence en > de > fr > es on ties)
_PROFILES = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "les", "une", "et", "est", "dans"],
    "es": ["el", "los", "una", "y", "es", "que"],
}


def _hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _hits_sql(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> list_contains([{lst}], t)))"


def quality_features() -> tuple[Column, Column, Column]:
    """(stopword ratio, alphabetic ratio, length prior) over the `toks`
    and `text` columns: the cheap pre-filter features the quality score
    and the logistic classifier share. A ratio over an empty document is
    NULL, as in DuckDB, rather than an ANSI DIVIDE_BY_ZERO."""
    text = F.col("text")
    stop = F.try_divide(_hits(F.col("toks"), _PROFILES["en"]).cast("double"), F.size("toks"))
    alpha = F.try_divide(
        F.length(F.regexp_replace(text, "[^a-z ]", "")).cast("double"), F.length(text)
    )
    length = F.least(F.length(text).cast("double") / 500, F.lit(1.0))
    return stop, alpha, length


# the same three features as columns f_stop, f_alpha, f_len over `toks`
# and `text`
_QUALITY_SQL = f"""
      CAST({_hits_sql(_PROFILES["en"])} AS DOUBLE) / len(toks) AS f_stop,
      CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
        / length(text) AS f_alpha,
      LEAST(CAST(length(text) AS DOUBLE) / 500, 1.0) AS f_len"""


@query(
    "text_token_stats",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words_re,
           length(text) AS n_chars,
           ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                 / len(toks), 6) AS avg_token_len
    FROM d
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex word tokens (the
    BPE-ish lower bound) + char length + mean token length."""
    t = load_tables(spark, sf_dir)
    toks = F.col("toks")
    return with_toks(t["documents"]).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).alias("n_words_re"),
        F.length("text").alias("n_chars"),
        F.round(
            F.try_divide(
                F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double"),
                F.size(toks),
            ),
            6,
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    f AS (SELECT doc_id, {_QUALITY_SQL} FROM d)
    SELECT doc_id,
           ROUND(f_stop, 6) AS stopword_ratio,
           ROUND(f_alpha, 6) AS alpha_ratio,
           ROUND(0.4 * f_stop + 0.4 * f_alpha + 0.2 * f_len, 6) AS quality
    FROM f
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + alphabetic ratio + length prior,
    the standard cheap pre-filters before expensive LLM-data cleaning."""
    t = load_tables(spark, sf_dir)
    return quality_score_df(t["documents"])


def quality_column() -> Column:
    """The composite quality score as a Column expression (requires
    `toks` and `text` in scope) — composition plans add it to their own
    projection instead of joining a separate quality DataFrame."""
    stop, alpha, length = quality_features()
    return F.round(0.4 * stop + 0.4 * alpha + 0.2 * length, 6)


def quality_score_df(docs: DataFrame) -> DataFrame:
    """Quality columns over any documents DataFrame (tokenized or not) —
    the composable core of text_quality_score, shared by curation."""
    stop, alpha, _ = quality_features()
    return with_toks(docs).select(
        "doc_id",
        F.round(stop, 6).alias("stopword_ratio"),
        F.round(alpha, 6).alias("alpha_ratio"),
        quality_column().alias("quality"),
    )


def _langid_cases_sql() -> str:
    h = {lang: _hits_sql(words) for lang, words in _PROFILES.items()}
    return f"""
      CASE WHEN {h['en']} >= {h['de']} AND {h['en']} >= {h['fr']} AND {h['en']} >= {h['es']} THEN 'en'
           WHEN {h['de']} >= {h['fr']} AND {h['de']} >= {h['es']} THEN 'de'
           WHEN {h['fr']} >= {h['es']} THEN 'fr'
           ELSE 'es' END
    """


@query(
    "text_lang_id",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id, lang, {_langid_cases_sql()} AS lang_pred FROM d
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with fixed precedence on ties."""
    t = load_tables(spark, sf_dir)
    toks = F.col("toks")
    h = {lang: _hits(toks, words) for lang, words in _PROFILES.items()}
    pred = (
        F.when((h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["es"]), "en")
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]), "de")
        .when(h["fr"] >= h["es"], "fr")
        .otherwise("es")
    )
    return with_toks(t["documents"]).select("doc_id", "lang", pred.alias("lang_pred"))


@query(
    "text_fingerprint",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    sh AS (
      SELECT doc_id, min(md5(g)) AS fp_shingle_min
      FROM (SELECT doc_id, unnest({_ngrams_sql(3)}) AS g FROM d)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           md5({_normalized_sql("text")}) AS fp_norm,
           sh.fp_shingle_min
    FROM d LEFT JOIN sh USING (doc_id)
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text plus a
    winnowing-style minimum over 3-token shingle hashes (the building
    block minhash dedup reuses)."""
    t = load_tables(spark, sf_dir)
    shingle_min = F.when(
        F.size("toks") >= 3, F.array_min(F.transform(F.expr(ngrams_expr(3)), F.md5))
    )
    return with_toks(t["documents"]).select(
        "doc_id",
        F.md5(normalized(F.col("text"))).alias("fp_norm"),
        shingle_min.alias("fp_shingle_min"),
    )


@query(
    "text_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, toks, {_ngrams_sql(3)} AS grams
      FROM t WHERE len(toks) >= 3
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
             AS dup_word_ratio,
           ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
             AS dup_3gram_ratio
    FROM g
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: fraction of
    duplicate words and duplicate 3-grams per document (high values flag
    boilerplate/spam for training-data filtering). Pure array functions
    in one scan — no explode, no shuffle, no Python."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).filter(F.size("toks") >= 3)
    # grams as a real column: HOF lambdas get no CSE (see with_toks note)
    d = d.withColumn("grams", F.expr(ngrams_expr(3)))
    ratio = lambda col: F.round(  # noqa: E731
        1.0 - F.size(F.array_distinct(F.col(col))).cast("double") / F.size(F.col(col)), 6
    )
    return d.select(
        "doc_id",
        ratio("toks").alias("dup_word_ratio"),
        ratio("grams").alias("dup_3gram_ratio"),
    )


@query(
    "corpus_source_stats",
    oracle=f"""
    WITH t AS (SELECT source, lang, len({_TOKS_SQL}) AS n_toks, n_chars FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(CAST(n_chars AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS avg_chars
    FROM t GROUP BY source
    """,
)
def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (docs, language spread, token volume):
    the first dashboard any data pipeline runs over a new crawl dump.
    One scan + one shuffle on the source key."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select(
        "source", "lang", F.size("toks").alias("n_toks"), "n_chars"
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_toks").alias("total_tokens"),
        (F.sum(F.col("n_chars").cast("decimal(20,6)")).cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("avg_chars"),
    )


# GPT-2-style BPE pre-tokenizer pattern (public: the gpt-2 repo's
# encoder.py regex), restricted to the RE2-compatible subset — the
# \s+(?!\S) lookahead branch is dropped so DuckDB (RE2) and Spark (Java
# regex) tokenize IDENTICALLY; the only behavioral difference is that a
# trailing-space run stays glued to \s+ instead of splitting before the
# final word. Pre-token count is the standard cheap estimator for BPE
# token count (every BPE token boundary is a pre-token boundary).
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_pretokens() -> Column:
    """The BPE pretokens of `text`: its pre-tokenizer pieces, whitespace-
    only pieces dropped."""
    return F.filter(
        F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), 0),
        lambda x: ~x.rlike(r"^\s+$"),
    )


_PRETOKENS_SQL = (
    "list_filter(regexp_extract_all(text, '{}'), t -> NOT regexp_matches(t, '^\\s+$'))"
    .format(BPE_PRETOKEN_RE.replace("'", "''"))  # SQL string-literal escaping
)


@query(
    "text_bpe_pretokens",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, length(text) AS n_chars, {_PRETOKENS_SQL} AS pre
      FROM documents
    )
    SELECT doc_id,
           len(pre) AS n_pretokens,
           len(list_filter(pre, t -> regexp_matches(t, '^ ?\\p{{L}}+$'))) AS n_word_pretokens,
           ROUND(CASE WHEN len(pre) = 0 THEN 0
                      ELSE CAST(n_chars AS DOUBLE) / len(pre) END, 6) AS chars_per_token
    FROM p
    """,
)
def text_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token-count estimation: GPT-2 pre-tokenizer split (the
    regex every byte-pair encoder applies before merges), whitespace-run
    pretokens dropped. chars_per_token is the compression-ratio signal
    data pipelines use for cost estimates and quality filters."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", F.length("text").alias("n_chars"), bpe_pretokens().alias("pre")
    )
    n = F.size("pre")
    return d.select(
        "doc_id",
        n.alias("n_pretokens"),
        F.size(F.filter(F.col("pre"), lambda x: x.rlike(r"^ ?\p{L}+$"))).alias(
            "n_word_pretokens"
        ),
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(F.col("n_chars").cast("double") / n), 6
        ).alias("chars_per_token"),
    )


# PII / URL patterns: RE2-compatible (no lookarounds) so Spark's Java
# regex and the DuckDB oracle match byte-for-byte. These are the
# standard first-pass scrub patterns of a training-data pipeline;
# real deployments extend the list (SSNs, credit cards, addresses).
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
URL_RE = r"https?://[^\s]+"
DOMAIN_RE = r"https?://([^/\s]+)"


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{IP_RE}')) AS n_ips,
           md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{IP_RE}', '<IP>', 'g')) AS scrubbed_md5
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count emails/IPs per doc and emit the hash of
    the redacted text (the hash proves redaction equivalence without
    shipping full text through the gate). Pure Catalyst regexp — scales
    as a single scan with no shuffle."""
    t = load_tables(spark, sf_dir)
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
    )
    return t["documents"].select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(IP_RE), 0)).alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@query(
    "text_url_stats",
    oracle=f"""
    WITH u AS (
      SELECT doc_id,
             regexp_extract_all(text, '{URL_RE}') AS urls,
             list_filter(list_transform(regexp_extract_all(text, '{URL_RE}'),
                                        x -> regexp_extract(x, '{DOMAIN_RE}', 1)),
                         d -> d <> '') AS domains
      FROM documents
    )
    SELECT doc_id,
           len(urls) AS n_urls,
           len(list_distinct(domains)) AS n_unique_domains
    FROM u
    """,
)
def text_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain profiling per doc (source-quality signal: link spam has
    high n_urls with low domain diversity)."""
    t = load_tables(spark, sf_dir)
    urls = F.regexp_extract_all(F.col("text"), F.lit(URL_RE), 0)
    domains = F.filter(
        F.transform(urls, lambda x: F.regexp_extract(x, DOMAIN_RE, 1)),
        lambda d: d != "",
    )
    return t["documents"].select(
        "doc_id",
        F.size(urls).alias("n_urls"),
        F.size(F.array_distinct(domains)).alias("n_unique_domains"),
    )


# logistic quality classifier: fixed, published-recipe-style linear
# model over the same engineered features the composite quality score
# uses (fasttext-style quality filters are linear models over cheap text
# features; here the weights are constants, the POINT is the scoring
# shape: broadcast weights + one scan, zero shuffle, zero Python)
_LOGIT_W = {"stop": 2.0, "alpha": 3.0, "len": 1.0, "bias": -2.5}


@query(
    "text_quality_logistic",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    f AS (SELECT doc_id, {_QUALITY_SQL} FROM d WHERE len(toks) > 0)
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-({_LOGIT_W["stop"]} * f_stop
                                    + {_LOGIT_W["alpha"]} * f_alpha
                                    + {_LOGIT_W["len"]} * f_len
                                    + {_LOGIT_W["bias"]}))), 6) AS score,
           (({_LOGIT_W["stop"]} * f_stop + {_LOGIT_W["alpha"]} * f_alpha
             + {_LOGIT_W["len"]} * f_len + {_LOGIT_W["bias"]}) > 0) AS keep
    FROM f
    """,
)
def text_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a logistic classifier over cheap
    text features (stopword ratio, alphabetic ratio, length prior),
    evaluated as pure column arithmetic — the shape a real fasttext-
    style quality filter takes at 100 TB (weights broadcast as
    literals/small arrays; one scan; whole-stage codegen; the decision
    threshold is on the LOGIT so `keep` is float-rounding-proof)."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).filter(F.size("toks") > 0)
    f_stop, f_alpha, f_len = quality_features()
    logit = (
        F.lit(_LOGIT_W["stop"]) * f_stop
        + F.lit(_LOGIT_W["alpha"]) * f_alpha
        + F.lit(_LOGIT_W["len"]) * f_len
        + F.lit(_LOGIT_W["bias"])
    )
    return d.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
        (logit > 0).alias("keep"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition/format quality rules (Rae et al. 2021, published
# heuristics; standard cheap gate before model-based quality scoring)
# --------------------------------------------------------------------------
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_G_MIN_WORDS, _G_MAX_WORDS = 50, 100_000
_G_MIN_MWL, _G_MAX_MWL = 3.0, 10.0
_G_MAX_SYMBOL_RATIO = 0.1
_G_MIN_ALPHA_RATIO = 0.8
# Rae et al. use >= 2 distinct stopwords; the synthetic test corpus
# carries almost no English function words (max 1 distinct hit across
# the whole table), so the gate here is 1 — otherwise keep is
# vacuously all-false and the verdict column demonstrates nothing.
# The constant is the knob a real corpus sets back to 2.
_G_MIN_STOP_HITS = 1


@query(
    "text_quality_gopher",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             round(CAST(list_aggregate(list_transform(toks, x -> length(x)),
                                       'sum') AS DOUBLE) / len(toks), 6)
               AS mean_word_len,
             round(CAST(len(list_filter(toks,
                              x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   / len(toks), 6) AS alpha_word_ratio,
             round(CAST((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) // 3
                   AS DOUBLE) / len(toks), 6) AS symbol_word_ratio,
             len(list_intersect(list_transform(toks, x -> lower(x)),
                 {_GOPHER_STOPS!r})) AS n_stop_hits
      FROM toks WHERE len(toks) >= 1
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_ratio,
           symbol_word_ratio, n_stop_hits,
           (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}
            AND mean_word_len BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}
            AND symbol_word_ratio <= {_G_MAX_SYMBOL_RATIO}
            AND alpha_word_ratio >= {_G_MIN_ALPHA_RATIO}
            AND n_stop_hits >= {_G_MIN_STOP_HITS}) AS keep
    FROM m
    """,
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-rule gate, one row per document with
    every rule's signal and the conjunctive keep verdict: word-count
    envelope, mean word length envelope, symbol-to-word ratio ('#' and
    '...'), words-with-an-alphabetic-character ratio, and a minimum
    number of distinct common stopwords (the 'is this prose at all'
    test). One tokenized scan, zero shuffles, pure Catalyst — at corpus
    scale this is a map-only pass whose output feeds the curation
    filter directly. Ratios divide exact integer counts, so both
    engines agree bit-for-bit."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).filter(F.size("toks") >= 1)
    toks = F.col("toks")
    n = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    n_symbol = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ) + F.expr("(length(text) - length(replace(text, '...', ''))) div 3")
    n_stops = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
        )
    )
    mwl = F.round(sum_len.cast("double") / n, 6)
    alpha_ratio = F.round(n_alpha.cast("double") / n, 6)
    symbol_ratio = F.round(n_symbol.cast("double") / n, 6)
    keep = (
        n.between(_G_MIN_WORDS, _G_MAX_WORDS)
        & mwl.between(_G_MIN_MWL, _G_MAX_MWL)
        & (symbol_ratio <= _G_MAX_SYMBOL_RATIO)
        & (alpha_ratio >= _G_MIN_ALPHA_RATIO)
        & (n_stops >= _G_MIN_STOP_HITS)
    )
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        symbol_ratio.alias("symbol_word_ratio"),
        n_stops.cast("bigint").alias("n_stop_hits"),
        keep.alias("keep"),
    )


# registered AFTER text_lang_id so its oracle can compose the
# registered prediction oracle verbatim (curation-pipeline pattern)
from disco_spark.registry import ORACLES as _ORACLES  # noqa: E402


@query(
    "langid_confusion_matrix",
    oracle=f"""
    WITH pred AS ({_ORACLES["text_lang_id"]}),
    cells AS (
      SELECT lang AS actual, lang_pred AS predicted, COUNT(*) AS n
      FROM pred GROUP BY 1, 2
    )
    SELECT actual, predicted, n,
           ROUND(CAST(n AS DOUBLE) /
                 CAST(SUM(n) OVER (PARTITION BY actual) AS DOUBLE), 6)
             AS row_share
    FROM cells
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword lang-ID against the labeled
    lang column: (actual, predicted, count, per-actual share) — the
    model-eval readout (diagonal shares = per-class recall). The
    oracle composes the REGISTERED text_lang_id oracle, so the
    prediction rule cannot drift between the two queries.

    One grouped count over the predictions (|langs|^2 cells), a tiny
    window for row normalization."""
    pred = text_lang_id(spark, sf_dir)
    cells = pred.groupBy(
        F.col("lang").alias("actual"),
        F.col("lang_pred").alias("predicted"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("actual")
    return cells.select(
        "actual",
        "predicted",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"),
            6,
        ).alias("row_share"),
    )


# ---------------------------------------------------------------------------
# Template / boilerplate-prefix detection: documents opening with the
# SAME first TEMPLATE_PREFIX_TOKENS tokens are almost always generated
# from one template (form letters, scraped page chrome, licence
# headers) — a cheap high-precision screen that catches families the
# shingle-Jaccard dedup only catches pairwise. Canonical keep-one
# policy: min doc_id represents the cluster.
# ---------------------------------------------------------------------------
TEMPLATE_PREFIX_TOKENS = 5


@query(
    "doc_template_prefix_clusters",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    p AS (
      SELECT doc_id,
             concat_ws(' ', toks[1], toks[2], toks[3], toks[4], toks[5])
               AS prefix
      FROM t WHERE len(toks) >= {TEMPLATE_PREFIX_TOKENS}
    )
    SELECT md5(prefix) AS prefix_hash, prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS rep_doc_id
    FROM p GROUP BY 1, 2
    HAVING COUNT(*) > 1
    ORDER BY n_docs DESC, prefix_hash
    """,
)
def doc_template_prefix_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clusters of documents sharing their first
    {TEMPLATE_PREFIX_TOKENS} tokens: (prefix_hash, prefix, n_docs,
    rep_doc_id = min id), singletons dropped. One tokenized scan, one
    groupBy on the md5'd prefix — the shuffle key is a 32-byte hash
    regardless of document size, the dedup_exact posture applied to
    prefixes. At 100 TB this is the cheapest template screen there
    is; survivors go on to the shingle/LSH family for fuzzier
    matches."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = F.col("toks")
    prefix = F.concat_ws(
        " ",
        *[
            F.element_at(toks, i + 1)
            for i in range(TEMPLATE_PREFIX_TOKENS)
        ],
    )
    return (
        with_toks(docs)
        .filter(F.size(toks) >= TEMPLATE_PREFIX_TOKENS)
        .select("doc_id", prefix.alias("prefix"))
        .groupBy(F.md5(F.col("prefix")).alias("prefix_hash"), "prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "prefix_hash")
    )


# ---------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between sources — the symmetric,
# bounded [0,1] distance matrix over unigram distributions
# (text_kl_unigram_by_source is each source vs the corpus; Burrows'
# Delta is top-word z-scores; JS is the full-vocabulary
# information-theoretic pairing). One-sided words never need a dense
# grid: when q = 0 the JS contribution is exactly p/2 (log2(2) = 1),
# so JS = sum over the INTERSECTION of the two-sided terms plus half
# of each side's out-of-intersection probability mass.
# ---------------------------------------------------------------------------
@query(
    "text_js_divergence_sources",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS w FROM documents
    ),
    c AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    t AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY 1
    ),
    probs AS (
      SELECT c.source, c.w, CAST(c.c AS DOUBLE) / t.tot AS p
      FROM c JOIN t ON t.source = c.source
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             CAST(SUM(CAST(
               0.5 * (a.p * log2(2 * a.p / (a.p + b.p))
                      + b.p * log2(2 * b.p / (a.p + b.p)))
             AS DECIMAL(28,15))) AS DOUBLE) AS inter_terms,
             CAST(SUM(CAST(a.p AS DECIMAL(28,15))) AS DOUBLE) AS pin,
             CAST(SUM(CAST(b.p AS DECIMAL(28,15))) AS DOUBLE) AS qin
      FROM probs a JOIN probs b
        ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    ),
    universe AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM t a JOIN t b ON a.source < b.source
    )
    SELECT u.source_a, u.source_b,
           COALESCE(p.n_shared, 0) AS n_shared,
           ROUND(COALESCE(p.inter_terms, 0)
                 + 0.5 * ((1 - COALESCE(p.pin, 0))
                          + (1 - COALESCE(p.qin, 0))), 6) AS js
    FROM universe u
    LEFT JOIN pairs p ON p.source_a = u.source_a
                     AND p.source_b = u.source_b
    ORDER BY u.source_a, u.source_b
    """,
)
def text_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jensen-Shannon divergence (log2, so 0 = identical, 1 =
    disjoint) between every source pair's unigram distribution.
    Probabilities are exact-integer ratios; intersection terms fold
    as DECIMAL-rounded summands and the one-sided mass enters through
    the closed-form p/2 identity — no densified source x vocab grid,
    no NULL handling. Output bounded by |sources|^2.

    Plan: one tokenized scan -> per-source counts and totals; the
    pair join runs on the word key (each word joins only the sources
    containing it); the 190-cell fold is constant-size."""
    t = load_tables(spark, sf_dir)
    toks = with_toks(t["documents"]).select(
        "source", F.explode("toks").alias("w")
    )
    c = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    probs = c.join(tot, "source").select(
        "source", "w", (F.col("c").cast("double") / F.col("tot")).alias("p")
    )
    a = probs.select(
        F.col("source").alias("source_a"), "w", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("source").alias("source_b"), "w", F.col("p").alias("pb")
    )
    term = 0.5 * (
        F.col("pa") * F.log2(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
        + F.col("pb")
        * F.log2(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    )
    pairs = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum(term.cast("decimal(28,15)")).cast("double").alias(
                "inter_terms"
            ),
            F.sum(F.col("pa").cast("decimal(28,15)"))
            .cast("double")
            .alias("pin"),
            F.sum(F.col("pb").cast("decimal(28,15)"))
            .cast("double")
            .alias("qin"),
        )
    )
    ua = tot.select(F.col("source").alias("source_a"))
    ub = tot.select(F.col("source").alias("source_b"))
    universe = ua.crossJoin(ub).filter(
        F.col("source_a") < F.col("source_b")
    )
    # fully-disjoint pairs never meet in the word join — they must
    # still report a row (js = 1), so the universe drives a left join
    return universe.join(pairs, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        F.round(
            F.coalesce(F.col("inter_terms"), F.lit(0.0))
            + 0.5
            * (
                (1 - F.coalesce(F.col("pin"), F.lit(0.0)))
                + (1 - F.coalesce(F.col("qin"), F.lit(0.0)))
            ),
            6,
        ).alias("js"),
    ).orderBy("source_a", "source_b")


# --------------------------------------------------------------------------
# Filter-ablation audit over the Gopher gate — per-rule marginal impact
# --------------------------------------------------------------------------
# (rule name, SQL fail predicate over text_quality_gopher's columns);
# the Spark side derives its predicates from the same table so the two
# cannot drift.
_ABLATION_RULES = [
    ("words", f"n_words NOT BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}"),
    ("mwl", f"mean_word_len NOT BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}"),
    ("symbol", f"symbol_word_ratio > {_G_MAX_SYMBOL_RATIO}"),
    ("alpha", f"alpha_word_ratio < {_G_MIN_ALPHA_RATIO}"),
    ("stops", f"n_stop_hits < {_G_MIN_STOP_HITS}"),
]


def _ablation_oracle() -> str:
    flags = ",\n             ".join(
        f"CAST({pred} AS INT) AS f_{name}" for name, pred in _ABLATION_RULES
    )
    total = " + ".join(f"f_{name}" for name, _ in _ABLATION_RULES)
    per_rule = ",\n           ".join(
        f"CAST(SUM(f_{name}) AS BIGINT) AS {name}_fail,\n           "
        f"CAST(SUM(CASE WHEN f_{name} = 1 AND n_f = 1 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS {name}_unique"
        for name, _ in _ABLATION_RULES
    )
    from disco_spark.registry import ORACLES

    return f"""
    WITH g AS ({ORACLES["text_quality_gopher"]}),
    f AS (
      SELECT {flags}
      FROM g
    ),
    t AS (SELECT *, {total} AS n_f FROM f)
    SELECT {per_rule},
           CAST(SUM(CASE WHEN n_f >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS any_fail,
           CAST(SUM(CASE WHEN n_f = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS exactly_one_fail,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM t
    """


@query("quality_filter_ablation", oracle=_ablation_oracle())
def quality_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ABLATION of the Gopher gate: for each quality rule, how
    many documents fail it at all, and how many fail ONLY it (the
    documents that rule alone removes — its marginal contribution).
    This is the table a corpus owner reads before tuning or dropping a
    filter: a rule with a large fail count but zero unique failures is
    fully shadowed by the others; a rule with a large unique count is
    carrying real, irreplaceable signal. any_fail is the gate's total
    removal; exactly_one_fail is how much of it hangs on a single rule.

    Plan: composes the driver-checked text_quality_gopher signals (one
    tokenized scan, map-only), adds five boolean flags and ONE global
    aggregate — a single wide row, no shuffle beyond the final partial
    +final agg. At 100 TB this is the same one-pass scan the gate
    itself costs."""
    g = text_quality_gopher(spark, sf_dir)
    flags = {
        "words": ~F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS),
        "mwl": ~F.col("mean_word_len").between(_G_MIN_MWL, _G_MAX_MWL),
        "symbol": F.col("symbol_word_ratio") > _G_MAX_SYMBOL_RATIO,
        "alpha": F.col("alpha_word_ratio") < _G_MIN_ALPHA_RATIO,
        "stops": F.col("n_stop_hits") < _G_MIN_STOP_HITS,
    }
    assert list(flags) == [n for n, _ in _ABLATION_RULES]
    f = g.select(
        *[c.cast("int").alias(f"f_{name}") for name, c in flags.items()]
    )
    n_f = sum(F.col(f"f_{name}") for name in flags)
    t = f.withColumn("n_f", n_f)
    aggs = []
    for name in flags:
        aggs.append(
            F.sum(f"f_{name}").cast("bigint").alias(f"{name}_fail")
        )
        aggs.append(
            F.sum(
                ((F.col(f"f_{name}") == 1) & (F.col("n_f") == 1)).cast("int")
            )
            .cast("bigint")
            .alias(f"{name}_unique")
        )
    aggs.append(
        F.sum((F.col("n_f") >= 1).cast("int")).cast("bigint").alias("any_fail")
    )
    aggs.append(
        F.sum((F.col("n_f") == 1).cast("int"))
        .cast("bigint")
        .alias("exactly_one_fail")
    )
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return t.agg(*aggs)


# --------------------------------------------------------------------------
# Tokenizer fertility by language — tokens-per-word under the BPE-style
# pre-tokenizer, the number that decides per-language training cost
# --------------------------------------------------------------------------
@query(
    "text_tokenizer_fertility_by_lang",
    oracle=f"""
    WITH p AS (
      SELECT lang,
             length(text) AS n_chars,
             len({_PRETOKENS_SQL}) AS n_pre,
             len({_TOKS_SQL}) AS n_words
      FROM documents
    )
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_pre) AS BIGINT) AS n_pretokens,
           ROUND(CAST(SUM(n_pre) AS DOUBLE) / SUM(n_words), 6) AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_pre), 6)
             AS chars_per_pretoken
    FROM p GROUP BY lang
    """,
)
def text_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer FERTILITY per language: BPE-style pretokens per
    whitespace word, plus chars per pretoken — the two numbers that
    decide what a language actually costs to train on (a fertility-2
    language burns twice the sequence length per word of a fertility-1
    one) and the standard evidence for a tokenizer-choice review.
    Composes the same GPT-2 pre-tokenizer split text_bpe_pretokens
    ships, aggregated by the corpus's lang label.

    Plan: one document scan, two regex evaluations per row, a
    |languages|-row aggregate — map-side partials carry four integers
    per lang. Integer sums are exact, so both engines' ratios divide
    identical numbers."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(bpe_pretokens()).alias("n_pre"),
        F.size("toks").alias("n_words"),
    )
    return d.groupBy("lang").agg(
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_pre").cast("bigint").alias("n_pretokens"),
        F.round(
            F.sum("n_pre").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_pre"), 6
        ).alias("chars_per_pretoken"),
    )
