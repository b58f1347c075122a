"""Deterministic sampling & dataset splitting for training-data
pipelines (beyond-reference surface; driver north star).

RNG-based sampling (`df.sample`) is irreproducible across engines,
partitionings, and retries. These operators derive the decision from a
hash of a stable key instead: the same row lands in the same
sample/split everywhere, forever — which is what a 100 TB training
pipeline needs (resumable ingest, auditable splits, no sampling drift
between runs), and what makes an exact DuckDB oracle possible.

Bucket = first 8 hex chars of md5(key) as an integer, mod `buckets`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL, with_toks

BUCKETS = 10_000

# THE split boundaries — the single definition site every split producer
# and auditor shares (round-5 verdict: drifting re-derivations of the
# 0.1/0.2 fractions would silently break split_leakage_audit's "audits
# exactly what the pipeline produces" guarantee). bucket < TEST_HI ->
# 'test'; < VAL_HI -> 'val'; else 'train'.
TEST_FRAC = 0.1
VAL_FRAC = 0.1
TEST_HI = int(TEST_FRAC * BUCKETS)
VAL_HI = int((TEST_FRAC + VAL_FRAC) * BUCKETS)


def hash_bucket(key: Column, buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets): md5-derived, engine-portable
    (DuckDB: ('0x' || substr(md5(k), 1, 8))::BIGINT % buckets)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % buckets


def deterministic_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep ~`fraction` of rows, chosen by key hash (stable under
    re-partitioning, retries, and engine changes)."""
    return df.filter(hash_bucket(F.col(key)) < int(fraction * BUCKETS))


def train_val_test_split(
    df: DataFrame, key: str, val: float = VAL_FRAC, test: float = TEST_FRAC
) -> DataFrame:
    """Add a `split` column: 'test' | 'val' | 'train' by hash range —
    disjoint, exhaustive, stable."""
    b = hash_bucket(F.col(key))
    return df.withColumn(
        "split",
        F.when(b < int(test * BUCKETS), "test")
        .when(b < int((test + val) * BUCKETS), "val")
        .otherwise("train"),
    )


def _bucket_sql(key: str, buckets: int = BUCKETS) -> str:
    return f"(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {buckets})"


@query(
    "sample_documents_10pct",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_bucket_sql("doc_id")} < {int(0.10 * BUCKETS)}
    """,
)
def sample_documents_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return deterministic_sample(t["documents"], "doc_id", 0.10).select("doc_id", "lang")


@query(
    "split_documents_counts",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN {_bucket_sql("doc_id")} < {TEST_HI} THEN 'test'
                  WHEN {_bucket_sql("doc_id")} < {VAL_HI} THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n FROM s GROUP BY split
    """,
)
def split_documents_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        train_val_test_split(t["documents"], "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def mixture_temperature_sample(
    df: DataFrame, group_col: str, key: str, target_frac: float = 0.5
) -> DataFrame:
    """Temperature-based mixture resampling (alpha = 0.5): draw a corpus
    of ``target_frac * N`` rows whose per-group shares follow
    ``n_g^alpha / sum(n^alpha)`` instead of the raw counts — the
    standard recipe for flattening a skewed source/language mixture when
    assembling a training set (big sources downweighted, small sources
    upweighted, capped at keeping every row).

    Determinism across engines: weights are fixed-point integers
    (w = round(sqrt(n)*1e6)) and their normalizer Z is an exact bigint
    sum — no float-SUM ordering hazards. The final threshold is one
    fixed-shape scalar expression in IEEE doubles, written identically
    in Spark and the DuckDB oracle (same operands, same left-to-right
    order), so both engines floor the same bits; doubles also make it
    overflow-free — the earlier all-bigint product BUCKETS*T*w exceeded
    2^63 once a source held ~1.5M rows, where Spark would wrap silently
    and DuckDB would error. Shape at scale: one tiny groupBy for counts,
    all scalars broadcast, one filtered scan — the corpus itself never
    shuffles.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    w = F.round(F.sqrt(F.col("__n")) * 1_000_000).cast("bigint")
    weighted = counts.select(group_col, "__n", w.alias("__w"))
    z = weighted.agg(
        F.sum("__w").alias("__z"), F.sum("__n").alias("__total")
    )
    thr = weighted.crossJoin(F.broadcast(z)).select(
        group_col,
        F.col("__n"),
        F.least(
            F.lit(BUCKETS).cast("bigint"),
            # floor() made explicit: Spark's double->bigint cast truncates
            # while DuckDB's rounds — floor first so both engines agree
            F.expr(
                f"cast(floor(({BUCKETS}.0 * cast(floor(__total * {target_frac}) as bigint)"
                " * __w) / (cast(__z as double) * __n)) as bigint)"
            ),
        ).alias("__thr"),
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(hash_bucket(F.col(key)) < F.col("__thr"))
        .drop("__thr", "__n")
    )


@query(
    "sample_mixture_temperature",
    oracle=f"""
    WITH n AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    w AS (SELECT source, cnt,
                 CAST(ROUND(SQRT(cnt) * 1000000) AS BIGINT) AS w FROM n),
    z AS (SELECT CAST(SUM(w) AS BIGINT) AS z,
                 CAST(SUM(cnt) AS BIGINT) AS total FROM w),
    t AS (SELECT source, cnt,
                 LEAST({BUCKETS}, CAST(FLOOR(({BUCKETS}.0 * CAST(FLOOR(total * 0.5) AS BIGINT)
                       * w) / (CAST(z AS DOUBLE) * cnt)) AS BIGINT)) AS thr
          FROM w, z),
    kept AS (
      SELECT d.doc_id, d.source FROM documents d JOIN t ON d.source = t.source
      WHERE {_bucket_sql("d.doc_id")} < t.thr
    )
    SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source
    """,
)
def sample_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture flattening: sample ~half the corpus with
    per-source shares proportional to sqrt(source size)."""
    t = load_tables(spark, sf_dir)
    kept = mixture_temperature_sample(t["documents"], "source", "doc_id")
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


def training_shards(df: DataFrame, key: str, n_shards: int = 8) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    export: order rows by md5(key) (decorrelating shard contents from
    ingest order — adjacent source documents scatter uniformly), take
    the exact global rank, and deal rows round-robin into ``n_shards``
    balanced shards (shard sizes differ by at most 1 row).

    Scale shape: the rank comes from the two-pass range-partition plan
    (`global_row_number`) — no single-partition sort; the final write
    would `partitionBy("shard")`, giving n_shards equally-sized files
    regardless of input skew. Deterministic: same rows -> same shards,
    on any engine and any partitioning."""
    from disco_spark.operators.relational2 import global_row_number

    h = df.withColumn("__h", F.md5(F.col(key).cast("string")))
    ranked, _ = global_row_number(h, ["__h", key], out="__rn")
    return ranked.withColumn(
        "shard", ((F.col("__rn") - 1) % n_shards).cast("int")
    ).drop("__h", "__rn")


@query(
    "sample_training_shards",
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT CAST((rn - 1) % 8 AS INT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM r GROUP BY 1
    """,
)
def sample_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for the deterministic training-export
    shuffle: 8 round-robin shards over the md5-shuffled corpus."""
    t = load_tables(spark, sf_dir)
    return (
        training_shards(t["documents"], "doc_id", 8)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def stratified_balance(df: DataFrame, group_col: str, key: str) -> DataFrame:
    """Downsample every stratum to ~the minority stratum's size, keyed by
    hash (deterministic, engine-portable). The per-stratum keep-rate is
    ``minority_count / stratum_count`` applied as a hash-bucket
    threshold — NO per-stratum sort or window, so at 100 TB this is one
    broadcast join + a filtered scan (the exact-rank alternative would
    need a row_number over each stratum, i.e. a sort of the whole
    corpus). Threshold arithmetic is integer floor-division on bigints
    so the DuckDB oracle lands on identical rows."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt"))
    mn = counts.agg(F.min("__cnt").alias("__mn"))
    thresholds = counts.crossJoin(F.broadcast(mn)).select(
        group_col,
        F.expr(f"({BUCKETS} * __mn) div __cnt").alias("__thr"),
    )
    return (
        df.join(F.broadcast(thresholds), group_col)
        .filter(hash_bucket(F.col(key)) < F.col("__thr"))
        .drop("__thr")
    )


@query(
    "sample_stratified_balance",
    oracle=f"""
    WITH n AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    m AS (SELECT MIN(cnt) AS mn FROM n),
    t AS (SELECT lang, ({BUCKETS} * m.mn) // n.cnt AS thr FROM n, m),
    kept AS (
      SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
      WHERE {_bucket_sql("d.doc_id")} < t.thr
    )
    SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang
    """,
)
def sample_stratified_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus balancing: every language downsampled to
    ~the rarest language's share, deterministically."""
    t = load_tables(spark, sf_dir)
    kept = stratified_balance(t["documents"], "lang", "doc_id")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


from disco_spark.dedup.dedup import MINHASH_PAIRS_SQL  # noqa: E402

_SPLIT_CASE = (
    f"CASE WHEN {{b}} < {TEST_HI} THEN 'test' "
    f"WHEN {{b}} < {VAL_HI} THEN 'val' ELSE 'train' END"
)


def _split_col(key) -> Column:
    b = hash_bucket(key)
    return (
        F.when(b < TEST_HI, "test").when(b < VAL_HI, "val").otherwise("train")
    )


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL},
    lab AS (
      SELECT doc_a, doc_b,
             {_SPLIT_CASE.format(b=_bucket_sql("doc_a"))} AS split_a,
             {_SPLIT_CASE.format(b=_bucket_sql("doc_b"))} AS split_b
      FROM lsh_pairs
    )
    SELECT doc_a, split_a, doc_b, split_b FROM lab WHERE split_a <> split_b
    """,
)
def split_leakage_audit(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Near-duplicate pairs that STRADDLE any split boundary — the
    data-leakage check a split pipeline must run: a benchmark ('test')
    document whose near-dup lives in train inflates eval scores exactly
    like verbatim contamination, and a val<->train twin corrupts model
    selection the same way, so ALL boundary crossings are reported (not
    just test<->train). Candidate pairs come from the same banded
    MinHash-LSH plan as dedup_minhash_lsh (never the n^2 cross space);
    the split labels are the same hash buckets the split queries ship,
    so this audits exactly the artifacts the pipeline produces. Output
    is one row per leaking pair with both sides' splits. Remediation:
    split_cluster_aware (whole clusters move to one split)."""
    from disco_spark.dedup.dedup import (
        band_candidates,
        minhash_from_toks,
    )

    t = load_tables(spark, sf_dir)
    pairs = band_candidates(
        minhash_from_toks(with_toks(t["documents"]))
    )
    out = pairs.select(
        "doc_a",
        _split_col(F.col("doc_a")).alias("split_a"),
        "doc_b",
        _split_col(F.col("doc_b")).alias("split_b"),
    )
    return out.filter(F.col("split_a") != F.col("split_b"))


@query(
    "split_cluster_aware",
    oracle=f"""
    WITH RECURSIVE {MINHASH_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
      UNION SELECT doc_b, doc_a FROM lsh_pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      WHERE e.b <> r.a
    ),
    comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           {_SPLIT_CASE.format(b=_bucket_sql("COALESCE(c.comp, d.doc_id)"))} AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def split_cluster_aware(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The REMEDIATION for split_leakage_audit: assign every near-dup
    CLUSTER wholly to one split. Clusters are the connected components
    of the LSH candidate pairs; every member adopts the split of the
    cluster's canonical representative (min doc_id), unclustered docs
    keep their own hash split. By construction no near-dup pair can
    straddle a boundary, at the cost of slightly uneven split sizes
    (clusters move as units — the standard trade). The oracle replays
    the component labels with a recursive-CTE transitive closure (pair
    sets are tiny at oracle scale).

    Scale shape: pairs are LSH-banded (never n^2), components run on
    the pruned edge set (dedup/cc.py's hybrid union-find / large-small
    star), and the final label is one broadcast-sized left join against
    the component map (near-dup clusters are a small fraction of any
    real corpus)."""
    from disco_spark.dedup.cc import connected_components
    from disco_spark.dedup.dedup import (
        band_candidates,
        minhash_from_toks,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = band_candidates(minhash_from_toks(with_toks(docs)))
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    lab = docs.select("doc_id").join(
        F.broadcast(comp), docs["doc_id"] == comp["node"], "left"
    )
    return lab.select(
        "doc_id",
        _split_col(F.coalesce(F.col("comp"), F.col("doc_id"))).alias("split"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis-Spirakis exponential
# race): r_i = -ln(u_i) / w_i with u_i a deterministic md5-derived
# uniform; the n smallest r win. P(selection) is proportional to weight
# in the without-replacement sense, the selection is a pure function of
# the keys (stable under retries, re-partitioning, engine changes — the
# same contract every sampler in this module gives), and the engine
# plan is a TakeOrdered top-n: per-partition heaps + one merge, never a
# global sort. The standing use: length- or quality-weighted corpus
# subsampling where long/high-score documents must be overrepresented
# but a hard cap bounds the export.
# ---------------------------------------------------------------------------
_WEIGHTED_N = 200


def weighted_sample_topn(
    df: DataFrame, key: str, weight: Column, n: int
) -> DataFrame:
    """Top-n rows by the exponential-race key (smallest -ln(u)/w).

    Rows with weight <= 0 are excluded (they'd win with probability 0
    anyway; excluding keeps ln() finite). The race key is NOT in the
    output: selection only needs its ORDER, which last-ulp libm
    differences cannot flip, while emitting the key would put raw
    engine-library doubles into the hash-compare."""
    u = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    r = -F.log(u) / weight
    return (
        df.filter(weight > 0)
        .withColumn("__r", r)
        .orderBy("__r")
        .limit(n)
        .drop("__r")
    )


@query(
    "sample_weighted_topn",
    oracle=f"""
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             -LN(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   + 1) / 4294967296.0)) / n_chars AS r
      FROM documents WHERE n_chars > 0
    ) ORDER BY r LIMIT {_WEIGHTED_N}
    """,
)
def sample_weighted_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted without-replacement sample of the corpus:
    (doc_id, n_chars), _WEIGHTED_N rows, long documents proportionally
    favored."""
    docs = load_tables(spark, sf_dir)["documents"]
    return weighted_sample_topn(
        docs.select("doc_id", "n_chars"), "doc_id", F.col("n_chars"), _WEIGHTED_N
    )


# ---------------------------------------------------------------------------
# k-fold cross-validation assignment: fold = hash bucket mod k — the CV
# sibling of train_val_test_split with the same contract (disjoint,
# exhaustive, stable under re-partitioning/retries/engines, derivable
# from the key alone so any job can recompute membership without a
# side table).
# ---------------------------------------------------------------------------
K_FOLDS = 5


def kfold_assign(df: DataFrame, key: str, k: int = K_FOLDS) -> DataFrame:
    """Add a `fold` column in [0, k): md5-bucket mod k."""
    return df.withColumn(
        "fold", (hash_bucket(F.col(key)) % k).cast("int")
    )


@query(
    "split_kfold_counts",
    oracle=f"""
    SELECT CAST({_bucket_sql("doc_id")} % {K_FOLDS} AS INT) AS fold,
           lang,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def split_kfold_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(fold, lang, n_docs): the k-fold balance audit — folds should
    hold ~1/k of every language; a skewed cell means the hash key
    correlates with the stratum (the thing this audit exists to
    catch before a cross-validation run burns k training jobs)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        kfold_assign(docs, "doc_id")
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Token-budget sampling per source — the mixture primitive a training
# run actually consumes: "give me AT MOST B tokens from each source",
# deterministically, with the doc order decided by key hash (stable
# under re-partitioning, retries, and corpus growth: a doc keeps or
# loses its slot based only on its own hash rank, never on file order).
# ---------------------------------------------------------------------------
TOKEN_BUDGET_PER_SOURCE = 500

@query(
    "sample_token_budget_per_source",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len({_TOKS_SQL}) AS n_toks FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_toks,
             SUM(n_toks) OVER (
               PARTITION BY source
               ORDER BY {_bucket_sql("doc_id")}, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    ),
    kept AS (
      SELECT * FROM ranked
      WHERE cum <= {TOKEN_BUDGET_PER_SOURCE} OR cum - n_toks = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens_kept,
           MIN(doc_id) AS first_doc_id
    FROM kept GROUP BY source
    """,
)
def sample_token_budget_per_source(
    spark: "SparkSession", sf_dir: str
) -> "DataFrame":
    """Per-source corpus cut to a fixed TOKEN budget: within each
    source, docs are ranked by their doc_id hash (a deterministic
    shuffle) and kept while the running token total stays within the
    budget; the first doc of a source always survives, so no source
    vanishes under a tight budget. Emits the per-source audit row
    (docs kept, tokens kept) — the numbers a mixture designer checks
    against the target before launching a run.

    Scale shape: the running token total rides the shared two-pass
    range-partition prefix harness (operators.relational2
    global_prefix_sum) over the TOTAL order (source, doc-hash, doc_id)
    — each source's docs are contiguous in that order, so its running
    sum is the global exclusive prefix minus the source's base offset
    (a |sources|-row groupBy-min, broadcast back). A per-source
    `SUM OVER (PARTITION BY source ORDER BY ...)` window would funnel
    every doc of a source through ONE task's sort — with
    low-cardinality sources that is the single-partition-window shape
    the harness exists to avoid. Here every task holds ~1/N of the
    rows regardless of how skewed the source mix is. Output is
    |sources| rows regardless of corpus size. The budget binds harder
    as the corpus grows — which is exactly the production contract
    (fixed token diet, growing crawl)."""
    from disco_spark.operators.relational2 import global_prefix_sum

    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select(
        "doc_id",
        "source",
        F.size("toks").alias("n_toks"),
        hash_bucket(F.col("doc_id")).alias("_bkt"),
    )
    pref, _total = global_prefix_sum(
        d, ["source", "_bkt", "doc_id"], "n_toks", out="_gstart"
    )
    base = F.broadcast(
        pref.groupBy("source").agg(F.min("_gstart").alias("_base"))
    )
    ranked = pref.join(base, "source").withColumn(
        "cum", F.col("_gstart") - F.col("_base") + F.col("n_toks")
    )
    kept = ranked.filter(
        (F.col("cum") <= TOKEN_BUDGET_PER_SOURCE)
        | (F.col("cum") - F.col("n_toks") == 0)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
        F.sum("n_toks").cast("bigint").alias("n_tokens_kept"),
        F.min("doc_id").alias("first_doc_id"),
    )
