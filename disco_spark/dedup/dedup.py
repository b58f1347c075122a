"""Deduplication operators for training-data pipelines (beyond-reference
surface; driver north star): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Every near-duplicate method is the same two steps: a candidate step
(block by a key, self-join within each block, keep doc_a < doc_b) and
a verify step (score each candidate exactly). The shared pieces:
_band_pairs (the one band self-join), _star_edges (identical-signature
groups as rep -> member edges), _set_overlaps + _jaccard (the one
in-row shingle-set verify), _cap_sweep (the one recall-vs-cap tail)
and _edit_payload (the one edit-distance verify payload).

Scale design notes (the point of each algorithm at 100 TB):
- exact: one hash-shuffle on a 32-byte key; the groupBy carries only
  (hash, doc_id), never the text.
- minhash_lsh: per-doc signatures are computed in-row from the doc's
  own shingle array (minhash_from_toks / shingle_sets, no shuffle);
  candidate generation joins on (band_idx, band_key) so the self-join
  is band-bucketed, never all-pairs.
- ngram_jaccard: pairs only materialize for docs sharing >= 1 shingle
  (inverted-shingle join), not the n^2 cross product.
- simhash: the signature is an in-row fold of JVM higher-order
  functions (8 bytes/doc); pigeonhole bands over 10-bit blocks give
  the same join-bucketed candidate pattern as minhash, losslessly for
  hamming <= 3.
- embedding cosine: blocked on the `label` column (IVF-style coarse
  quantizer) so the pair space is per-block, not global.

All md5-based hashing matches DuckDB bit-for-bit, so every operator has
a full value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import fan_out, lazy_persist, load_tables
from disco_spark.textops.analysis import (
    _TOKS_SQL,
    _ngrams_sql,
    _normalized_sql,
    ngrams_expr,
    normalized,
    with_toks,
)


def _mh_sql(src: str, i: int) -> str:
    """SQL text of one minhash column: min over `src` (a shingle array)
    of the salt-i md5 — array_min(transform(...)), 1 parse."""
    return f"array_min(transform({src}, s -> md5(concat('s{i} ', s))))"


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_normalized_sql("text")}) AS content_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS rep_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content hash; representative = min id."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.md5(normalized(F.col("text"))).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("rep_doc_id"))
    )


# --------------------------------------------------------------------------
# shingles (shared by minhash + jaccard)
# --------------------------------------------------------------------------
# the default shingle width; exported so persisted-store manifests
# (dedup/incremental.py) record the actual parameter
SHINGLE_K = 3


def _spread_docs(docs: DataFrame) -> DataFrame:
    """Fan an under-split documents input across cores BEFORE the
    in-row shingle/signature compute (guide §2.5 — compute-heavy tiny
    rows). The map-only rewrites made signatures a property of the
    scan, which also means they inherit the SCAN's task count: at
    bench SF the documents table is one parquet row group, so the
    whole tokenize + k-shingle + N_HASHES x md5 pass ran on ONE task
    while the other cores idled (measured 1.26 -> 0.44 s for
    shingle_sets, 1.21 -> 0.29 s for minhash_from_toks at sf0.1).
    `session.fan_out` is measured-size-guarded: on any input that
    already scans as >= half the cores' worth of splits (every real
    corpus) it is a no-op, so no shuffle is added at scale. Streaming
    frames pass through untouched (their plans are micro-batch-sized
    and a repartition would reshape every batch)."""
    if docs.isStreaming:
        return docs
    return fan_out(docs)


def shingle_df(
    docs: DataFrame, k: int = SHINGLE_K, distinct: bool = True
) -> DataFrame:
    """k-token shingles per doc: (doc_id, shingle), deduped per doc by
    default. ``distinct=False`` keeps every occurrence AND keeps the
    plan stateless — streaming callers need that (distinct is a
    stateful operator, and a streaming plan gets at most one; the
    downstream aggregation is it).

    `toks` is projected ONCE before the transform lambda — inlining the
    split+filter expression into the lambda body re-tokenizes the text
    per shingle position (no CSE inside higher-order functions; 19x
    slower measured). If the input already carries a `toks` column it is
    reused — composition queries tokenize ONCE and share the scan."""
    sh = ngrams_expr(k)
    base = with_toks(_spread_docs(docs))
    if distinct:
        # per-doc dedup is a ROW-LOCAL property: array_distinct before
        # the explode yields exactly the rows the old global
        # `.distinct()` produced — (doc_id, shingle) is unique per doc
        # either way — without shuffling the exploded frame (guide
        # §2.4; the widest exchange of every posting-join consumer)
        return base.where(f"size(toks) >= {k}").selectExpr(
            "doc_id", f"explode(array_distinct({sh})) AS shingle"
        )
    return base.where(f"size(toks) >= {k}").selectExpr(
        "doc_id", f"explode({sh}) AS shingle"
    )


_SHINGLES_SQL = f"""
    shingles AS (
      SELECT DISTINCT doc_id, unnest({_ngrams_sql(SHINGLE_K)}) AS shingle
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    )
"""


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------
N_HASHES = 6
BAND_SIZE = 2  # 3 bands of 2 -> candidates need one identical band


# the signature columns of minhash_from_toks / shingle_sets
MH_COLS = [f"mh{i}" for i in range(N_HASHES)]


def minhash_from_toks(
    docs: DataFrame, k: int = SHINGLE_K, n_hashes: int = N_HASHES
) -> DataFrame:
    """MAP-ONLY minhash signatures (doc_id, mh0..mhN): each mh_i = min
    over the doc's shingles of md5('s<i> ' || shingle) — md5 under
    distinct salts is the classic k-independent-ish hash family, and is
    reproducible in any engine. ZERO shuffles:

    min(md5(salt || shingle)) over a doc's shingle SET equals the min
    over its shingle array (min over a multiset ignores repeats), so
    each mh_i is computable in-row with array_min over the shingle
    array — no explode, no per-doc distinct, no groupBy. That removes
    the two widest exchanges of the LSH chain (the exploded shingle
    rows are ~|toks| x ~30 bytes per doc; the signature is 6 fixed
    hashes), which is exactly guide §2.3/§2.4 at 100 TB: signatures
    become a property of the scan, and only 6 hashes per doc ever
    reach an exchange.

    The shingle array is projected ONCE as its own column before the
    n_hashes array_min passes — Catalyst does no CSE inside
    higher-order functions, and collapsing the projection would
    rebuild the array per hash (same hazard shingle_df documents).
    Same doc set as the shingle path: docs with fewer than k tokens
    have no shingles and no signature."""
    return (
        with_toks(_spread_docs(docs))
        .where(f"size(toks) >= {k}")
        .selectExpr("doc_id", f"{ngrams_expr(k)} AS _sh")
        .selectExpr(
            "doc_id",
            *[f"{_mh_sql('_sh', i)} AS mh{i}" for i in range(n_hashes)],
        )
    )


def shingle_sets(
    docs: DataFrame, k: int = SHINGLE_K, n_hashes: int = N_HASHES
) -> DataFrame:
    """MAP-ONLY per-doc shingle-set frame: (doc_id, sh_set, n,
    mh0..mhN) where sh_set is the doc's DISTINCT shingle array,
    n = |sh_set| and mh_i the minhash signature — every column computed
    IN-ROW from the doc's own text, zero Exchanges.

    This is the set-valued sibling of minhash_from_toks for callers
    that also need the exact-verify data: per-doc distinct is
    array_distinct (a row-local op — shingle_df's global `.distinct()`
    shuffle only re-derives a per-doc property), sizes are array_size,
    and a candidate pair's intersection count is
    size(array_intersect(a, b)) — so the whole
    sizes + common-shingle verify join of the LSH chain (two
    (doc_id, shingle)-wide exchanges + a per-pair re-aggregation)
    collapses into two doc_id-keyed joins against this frame. Exactly
    guide §2.3 at 100 TB: only |docs| array rows ever reach an
    exchange, never the exploded |shingles| rows, and the widest
    shuffle of the chain (the per-doc distinct) disappears.

    The distinct array is projected ONCE before the size/array_min
    passes (no CSE inside higher-order functions — shingle_df's
    measured hazard); minhash over the distinct set equals minhash
    over the multiset (min ignores repeats), and the doc set matches
    shingle_df's (< k tokens ⇒ no shingles ⇒ no row)."""
    return (
        with_toks(_spread_docs(docs))
        .where(f"size(toks) >= {k}")
        .selectExpr("doc_id", f"array_distinct({ngrams_expr(k)}) AS sh_set")
        .selectExpr(
            "doc_id",
            "sh_set",
            "size(sh_set) AS n",
            *[f"{_mh_sql('sh_set', i)} AS mh{i}" for i in range(n_hashes)],
        )
    )


# Hot-bucket cap: at most BAND_CAP signature-group REPRESENTATIVES
# survive per (band_idx, band_key) bucket (smallest doc_ids win —
# deterministic in any engine), so one boilerplate band of B members
# yields at most BAND_CAP² rep pairs, never B². Exact-signature groups
# are collapsed to their min-doc_id representative BEFORE banding and
# re-attached as linear (rep, member) star edges — on replica-heavy
# corpora this removes most of the quadratic mass losslessly (identical
# signatures ⇒ identical band keys ⇒ identical collisions), and the cap
# bounds what's left. Recall loss from the cap is audited by
# dedup_lsh_band_stats.
BAND_CAP = 20


def _sig_ctes(prefix: str = "", where: str = "") -> str:
    """DuckDB CTEs `{p}sig` (minhash signatures) → `{p}grp` (signature
    groups: rep = min doc_id per identical signature) → `{p}star`
    (rep→member edges) → `{p}repsig` (representatives only) →
    `{p}rawbands` (per-rep band keys, UNCAPPED, with the per-bucket
    doc_id row number as `rn`) — the shared head of the band chain.
    Composed by _bands_sql (which applies the BAND_CAP cut) and the
    calibration oracle (which sweeps the cut)."""
    p = prefix
    mins = ", ".join(
        f"min(md5(concat('s{i} ', shingle))) AS mh{i}" for i in range(N_HASHES)
    )
    mh_cols = ", ".join(f"mh{i}" for i in range(N_HASHES))
    wh = f"WHERE {where} " if where else ""
    parts = []
    for b in range(N_HASHES // BAND_SIZE):
        cols = ", ".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        parts.append(
            f"SELECT doc_id, {b} AS band_idx, md5(concat({cols})) AS band_key"
            f" FROM {p}repsig"
        )
    union = "\n      UNION ALL\n      ".join(parts)
    return f"""
    {p}sig AS (SELECT doc_id, {mins} FROM shingles {wh}GROUP BY doc_id),
    {p}grp AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY {mh_cols}) AS rep, {mh_cols}
      FROM {p}sig
    ),
    {p}star AS (SELECT rep AS doc_a, doc_id AS doc_b FROM {p}grp WHERE doc_id <> rep),
    {p}repsig AS (SELECT doc_id, {mh_cols} FROM {p}grp WHERE doc_id = rep),
    {p}rawbands AS (
      SELECT doc_id, band_idx, band_key,
             ROW_NUMBER() OVER (PARTITION BY band_idx, band_key
                                ORDER BY doc_id) AS rn
      FROM (
      {union}
      )
    )"""


def _bands_sql(prefix: str = "", where: str = "") -> str:
    """DuckDB CTEs `{p}sig` → `{p}grp` (signature groups) → `{p}star`
    (rep→member edges) → `{p}repsig` → `{p}bands` (per-bucket capped
    rep band keys) → `{p}cands` matching band_candidates() over the
    `shingles` CTE (same md5-salted hash family, same grouping, same
    BAND_CAP row_number cap on both sides). `where` filters the docs
    entering the chain (dedup_incremental_lsh builds one chain per
    side); `prefix` namespaces the CTEs so two chains can coexist."""
    p = prefix
    return f"""{_sig_ctes(prefix, where)},
    {p}bands AS (
      SELECT doc_id, band_idx, band_key FROM {p}rawbands
      WHERE rn <= {BAND_CAP}
    ),
    {p}cands AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {p}bands a JOIN {p}bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      UNION
      SELECT doc_a, doc_b FROM {p}star
    )"""


# shared oracle CTE chain: shingles -> minhash signatures -> LSH bands ->
# distinct candidate pairs, COMPOSED from _bands_sql (the single source
# of the band chain — dedup_minhash_lsh, dedup_lsh_jaccard, cc's cluster
# oracle, and sampling's split-integrity oracles all read the same
# text, so none can diverge).
MINHASH_PAIRS_SQL = f"""{_SHINGLES_SQL},{_bands_sql()},
    lsh_pairs AS (SELECT doc_a, doc_b FROM cands)"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL}
    SELECT doc_a, doc_b FROM lsh_pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures -> banded LSH -> candidate duplicate pairs."""
    t = load_tables(spark, sf_dir)
    return band_candidates(minhash_from_toks(with_toks(t["documents"])))


def band_keys_df(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) rows from minhash signatures — the
    join-ready LSH posting shape shared by the self-join candidate
    generator (band_candidates) and the persisted signature store
    (dedup/incremental.py)."""
    keys = ", ".join(
        "md5(concat("
        + ", ".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + "))"
        for b in range(N_HASHES // BAND_SIZE)
    )
    return sig.select(
        "doc_id",
        F.posexplode(F.expr(f"array({keys})")).alias("band_idx", "band_key"),
    )


def signature_groups(sig: DataFrame) -> DataFrame:
    """sig + `rep` column: rep = min doc_id among docs whose FULL
    signature (mh0..mhN) is identical. One window shuffle on the
    signature columns — no join, no per-group list materialization, so
    a 10M-member replica group streams through the sort instead of
    collecting anywhere."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*[F.col(f"mh{i}") for i in range(N_HASHES)])
    return sig.withColumn("rep", F.min("doc_id").over(w))


def _ranked_rep_bands(grouped: DataFrame, cap: int) -> DataFrame:
    """(doc_id, band_idx, band_key, rn) over the signature-group
    REPRESENTATIVES of a signature_groups() frame, rn = the rep's
    doc_id rank within its bucket, cut at rn <= cap."""
    from pyspark.sql.window import Window

    reps = grouped.filter(F.col("doc_id") == F.col("rep")).drop("rep")
    wc = Window.partitionBy("band_idx", "band_key").orderBy("doc_id")
    return (
        band_keys_df(reps)
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= cap)
    )


def rep_band_keys(grouped: DataFrame) -> DataFrame:
    """Per-bucket-capped (doc_id, band_idx, band_key) rows over the
    signature-group REPRESENTATIVES of a signature_groups() frame: at
    most BAND_CAP reps (smallest doc_ids) survive per bucket, so the
    downstream self-join is bounded per bucket no matter how hot a
    boilerplate band gets. The row_number window partitions on exactly
    the self-join key, so AQE reuses one Exchange for both."""
    return _ranked_rep_bands(grouped, BAND_CAP).drop("rn")


def _band_pairs(bands: DataFrame, *carry: str) -> DataFrame:
    """The one band self-join: (doc_id, band_idx, band_key, *carry)
    rows that share a (band_idx, band_key) bucket, as doc_a < doc_b
    pairs with each carried column suffixed ``_a``/``_b``. One row per
    colliding band — a pair proposed by several bands repeats, and the
    caller dedups or counts."""

    def side(s: str) -> DataFrame:
        return bands.select(
            F.col("doc_id").alias(f"doc_{s}"),
            "band_idx",
            "band_key",
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return side("a").join(side("b"), ["band_idx", "band_key"]).filter(
        F.col("doc_a") < F.col("doc_b")
    )


def _star_edges(grouped: DataFrame, *extra: Column) -> DataFrame:
    """(doc_a = rep, doc_b = member, *extra) edges of a
    signature_groups() frame: an identical-signature group as linear
    rep -> member edges. doc_b is never a rep, so these never overlap
    the rep pairs of the band self-join."""
    return grouped.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"), *extra
    )


def _grouped(sig: DataFrame | None, grouped: DataFrame | None) -> DataFrame:
    """The caller's signature_groups() frame, or one built from ``sig``."""
    if grouped is None and sig is None:
        raise ValueError("band candidates need sig or grouped")
    return grouped if grouped is not None else lazy_persist(signature_groups(sig))


def band_candidates(
    sig: DataFrame | None = None, grouped: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded minhash signatures:
    docs collide when one whole band of their signatures matches. The
    self-join is bucketed on (band_idx, band_key) AND bounded per
    bucket: exact-signature groups collapse to one representative
    before banding (members re-attach as linear star edges), and each
    bucket keeps at most BAND_CAP reps — so a hot band costs
    O(BAND_CAP²), never B². See BAND_CAP for the full scale rationale.

    The band keys come from ONE posexplode over an array expression
    (not a UNION of per-band selects, which would re-evaluate the
    signature aggregation once per band — 3 shuffles instead of 1).

    ``grouped`` lets a caller that also reads the signature-group map
    (the recall-curve audit) pass its own persisted frame in, so the
    grouping window runs once; ``sig`` is ignored (and may be None)
    when ``grouped`` is provided."""
    grouped = _grouped(sig, grouped)
    rep_pairs = _band_pairs(rep_band_keys(grouped)).select("doc_a", "doc_b")
    # the arms are disjoint; distinct() only dedups rep pairs proposed
    # by multiple bands (set semantics, matching the oracle's UNION)
    return rep_pairs.union(_star_edges(grouped)).distinct()


# Per-doc candidate-degree cap: BAND_CAP bounds what one HOT BUCKET can
# propose (O(BAND_CAP²) per bucket), but a corpus where every document
# has many moderate-similarity "gray zone" siblings inflates the
# candidate set through MANY DISTINCT buckets — each sibling pair
# colliding in some band, no bucket ever hot (measured on the
# growing-vocab 10x rehearsal: candidates grew 51.6x while no bucket
# exceeded BAND_CAP; PERFORMANCE.md "dedup_edit_distance"). The degree
# cap closes that route: each rep keeps at most EDIT_CAND_CAP candidate
# partners (among larger-id reps), ranked by how many bands proposed
# the pair — the band-collision count is a monotone estimate of Jaccard,
# so the partners a capped doc KEEPS are its most-similar ones and the
# ones it drops are the gray zone the cap exists to shed. Identical-
# signature star edges are exempt (linear in total by construction and
# always true pairs). Candidate count is then <= EDIT_CAND_CAP * n_reps
# + n_members BY CONSTRUCTION — linear at any corpus size. The recall
# price is measured per corpus by dedup_edit_cap_calibration (the
# degree-cap analog of dedup_band_cap_calibration).
# One constant feeds both the Spark plan and the DuckDB oracle SQL
# (which bakes the cap into its ranked-candidate cut). Its measured
# price: 1.0% of true pairs on the adversarial clique corpus, 0% at
# sf0.01/0.001; dedup_edit_cap_calibration's curve shows where the
# cap starts to cost recall on another corpus.
EDIT_CAND_CAP = 8


def ranked_band_candidates(grouped: DataFrame) -> DataFrame:
    """(doc_a, doc_b, cr) rep candidate pairs where cr is doc_a's
    per-doc candidate rank: partners ordered by band-collision count
    descending (ties: doc_b ascending — deterministic in any engine).
    The groupBy that counts colliding bands also dedups the pair, so
    this costs the same single shuffle as band_candidates' distinct().
    Callers cut at cr <= cap; the calibration sweep reads cr itself."""
    from pyspark.sql.window import Window

    pairs = (
        _band_pairs(rep_band_keys(grouped))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    w = Window.partitionBy("doc_a").orderBy(F.desc("n_bands"), "doc_b")
    return pairs.select("doc_a", "doc_b", F.row_number().over(w).alias("cr"))


def capped_band_candidates(
    sig: DataFrame | None = None,
    cap: int = EDIT_CAND_CAP,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """band_candidates with the per-doc degree cap: at most ``cap``
    rep partners per doc (highest band-collision counts win) plus the
    cap-exempt star edges. ``sig`` is ignored (and may be None) when
    ``grouped`` is provided. See EDIT_CAND_CAP for the scale
    rationale."""
    grouped = _grouped(sig, grouped)
    capped = (
        ranked_band_candidates(grouped)
        .filter(F.col("cr") <= cap)
        .select("doc_a", "doc_b")
    )
    # arms disjoint; groupBy already deduped
    return capped.union(_star_edges(grouped))


def spread_verify_pairs(pairs: DataFrame) -> DataFrame:
    """Round-robin spread for propose/verify candidate frames.

    Candidate pairs are byte-TINY (a few ints each) but verify-HEAVY (a
    banded levenshtein / shingle intersection each once payloads are
    attached), so AQE's byte-based partition coalescing packs them into
    ONE post-shuffle partition and serializes the whole verify stage on
    one core (measured at 10x: 19,827 of 22,489 survivors in partition
    0; 22.9s -> 9.9s with the spread — PERFORMANCE.md "AQE coalescing
    vs verify-heavy tiny rows"). An explicit round-robin repartition is
    the idiomatic override: AQE never coalesces a user-specified
    repartition. Every propose/verify operator must route its candidate
    frame through here BEFORE attaching verify payloads; the plan-shape
    test pins RoundRobinPartitioning in the executed plan.

    Scale boundary: the spread placement matters while the payload side
    BROADCASTS (the measured pathology — the tiny pair frame's
    partitioning survives the broadcast join into the verify stage). At
    a scale where the payload join goes sort-merge, the join itself
    re-shuffles both sides by key and AQE's coalescing then sizes
    partitions by the combined (payload-heavy) bytes — the
    one-partition collapse cannot recur there, because the rows being
    packed now carry the texts. Spreading AFTER attaching payloads
    would cover both regimes but round-robin-shuffles the full text
    bytes a second time; pre-attach placement is the right default."""
    from disco_spark.session import default_parallelism

    return pairs.repartition(default_parallelism(pairs.sparkSession))


def _ranked_cands_sql() -> str:
    """DuckDB CTEs extending _bands_sql's chain with the per-doc
    candidate rank: `ranked` (doc_a, doc_b, cr) mirrors
    ranked_band_candidates() — same BAND_CAP'd band chain, same
    (n_bands DESC, doc_b) rank order. Callers cut at cr and union
    `star` themselves (production: cr <= EDIT_CAND_CAP; the
    calibration sweeps the cut)."""
    return f"""{_bands_sql()},
    ranked AS (
      SELECT doc_a, doc_b,
             ROW_NUMBER() OVER (PARTITION BY doc_a
                                ORDER BY n_bands DESC, doc_b) AS cr
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
    )"""


@query(
    "dedup_lsh_band_stats",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_bands_sql()},
    bucket AS (
      SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS sz
      FROM rawbands GROUP BY 1, 2
    )
    SELECT band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN sz > {BAND_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped_buckets,
           CAST(SUM(CASE WHEN sz > {BAND_CAP} THEN sz - {BAND_CAP} ELSE 0 END)
                AS BIGINT) AS n_dropped_reps
    FROM bucket GROUP BY band_idx ORDER BY band_idx
    """,
)
def dedup_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIT half of the BAND_CAP contract: per band, how many
    buckets exist (over signature-group representatives), the hottest
    bucket's size, how many buckets exceeded the cap, and how many reps
    the cap dropped. A corpus owner reads this before trusting a capped
    dedup run — n_dropped_reps is the recall budget the cap spent, and
    a pathological max_bucket is the boilerplate band this operator
    exists to survive (the quadratic pair blowup the cap prevented)."""
    docs = load_tables(spark, sf_dir)["documents"]
    grouped = signature_groups(minhash_from_toks(with_toks(docs)))
    reps = grouped.filter(F.col("doc_id") == F.col("rep")).drop("rep")
    bucket = (
        band_keys_df(reps)
        .groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    over = F.col("sz") > BAND_CAP
    return (
        bucket.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(over.cast("int")).cast("bigint").alias("n_capped_buckets"),
            F.sum(
                F.when(over, F.col("sz") - BAND_CAP).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_dropped_reps"),
        )
        .orderBy("band_idx")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard similarity pairs
# --------------------------------------------------------------------------
JACCARD_MIN = 0.05


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= {JACCARD_MIN}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over 3-gram shingle sets, inverted-index join (pairs
    exist only for docs sharing a shingle — never the n^2 cross space).
    Rides the SALTED hot/cold split join (identical results, pytest-
    proved in test_skew.py): head-shingle posting lists are spread
    across n_salts tasks instead of one straggler, so the exact
    baseline keeps its semantics without the skew cliff. The lossy
    production disciplines are the registered siblings (df_pruned /
    lsh_jaccard)."""
    t = load_tables(spark, sf_dir)
    return salted_ngram_jaccard_pairs(with_toks(t["documents"]))


# The universes pair_overlaps accepts: each names the discipline that
# bounds the posting lists BEFORE the O(df²) self-join. The opt-out
# string is deliberately loud — no production call site passes it (the
# exact small-SF references in the tests do), and a source-scan test
# pins that count at zero so no future caller quietly re-promotes the
# unbounded join into a default (the round-8 cluster_map regression,
# and the measured sf1 OOM that followed).
_BOUNDED_UNIVERSES = frozenset({"df_pruned", "lsh_candidates"})
_EXACT_BASELINE_OPTOUT = "UNBOUNDED_EXACT_BASELINE"


def pair_overlaps(
    sh: DataFrame, *, universe: str
) -> tuple[DataFrame, DataFrame]:
    """(common, sizes) over a (doc_id, shingle) DataFrame: the
    inverted-index pair join counting shared shingles per u < v pair,
    plus per-doc set sizes — the ONE overlap-count core under both the
    symmetric Jaccard and the asymmetric containment scorers (caller
    persists `sh`).

    SCALE CONTRACT / GUARD: this join emits O(df²) pairs per shingle,
    so it is the small-SF oracle core, never a production default.
    Callers MUST declare the bounded universe they feed in via the
    required keyword `universe` — one of _BOUNDED_UNIVERSES
    ('df_pruned' = posting lists capped at DF_PRUNE_MAX via
    df_pruned_shingles; 'lsh_candidates' = pair space limited to
    minhash band collisions) — or explicitly opt out with
    'UNBOUNDED_EXACT_BASELINE' for small-SF oracle duty (measured
    lesson: the unbounded join OOMs the salted sf1 artifact even WITH
    hot/cold salting — straggler mitigation is not pair-volume
    mitigation). Any other value raises."""
    if universe not in _BOUNDED_UNIVERSES and universe != _EXACT_BASELINE_OPTOUT:
        raise ValueError(
            f"pair_overlaps universe {universe!r} is not a bounded "
            f"discipline {sorted(_BOUNDED_UNIVERSES)}; pass "
            f"{_EXACT_BASELINE_OPTOUT!r} ONLY for small-SF exact-oracle "
            "work (the O(df²) posting join is never a production "
            "default — see the scale contract in this docstring)"
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # rename by NAME, not position (joins reorder columns: an anti-join
    # on shingle puts shingle first)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return common, sizes


def _jaccard_from_shingles(sh: DataFrame, *, universe: str) -> DataFrame:
    """sizes + inverted-index pair join + Jaccard filter over a
    (doc_id, shingle) DataFrame (caller persists it; `universe`
    forwards to pair_overlaps' scale guard)."""
    common, sizes = pair_overlaps(sh, universe=universe)
    return _jaccard_select(common, sizes)


def _jaccard(na: str = "na", nb: str = "nb", digits: int | None = 6) -> Column:
    """|A∩B| / |A∪B| from the intersection count `c` and the two set
    sizes, rounded to ``digits`` (the oracles' ROUND(.., 6))."""
    c = F.col("c")
    jac = c.cast("double") / (F.col(na) + F.col(nb) - c)
    return jac if digits is None else F.round(jac, digits)


def _jaccard_select(
    common: DataFrame, sizes: DataFrame, min_jac: float = JACCARD_MIN
) -> DataFrame:
    """(doc_a, doc_b, c=|A∩B|) + per-doc set sizes -> Jaccard >= min."""
    return (
        common.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", _jaccard("sa.n", "sb.n").alias("jaccard"))
        .filter(F.col("jaccard") >= min_jac)
    )


def _set_overlaps(cands: DataFrame, sets: DataFrame, *extra: str) -> DataFrame:
    """The one in-row set verify: ``cands`` (doc_a, doc_b, ...) joined
    to a shingle_sets() frame on both docs, returned with c = |A∩B|
    (size of array_intersect), the set sizes na/nb and each ``extra``
    column of ``sets`` suffixed ``_a``/``_b``. Two doc_id-keyed joins
    and an in-row intersection: only |docs| array rows reach an
    exchange, never exploded shingle rows, and no per-pair
    re-aggregation runs. A zero-overlap candidate keeps c = 0."""

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("sh_set").alias(f"set_{s}"),
            F.col("n").alias(f"n{s}"),
            *[F.col(x).alias(f"{x}_{s}") for x in extra],
        )

    return (
        cands.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            *cands.columns,
            F.size(F.array_intersect("set_a", "set_b")).alias("c"),
            "na",
            "nb",
            *[f"{x}_{s}" for s in "ab" for x in extra],
        )
    )


# --------------------------------------------------------------------------
# LSH-prefiltered exact Jaccard: candidates from minhash bands, exact
# verify only on candidates — the 100 TB shape (pair space = band
# collisions, not posting-list blowup)
# --------------------------------------------------------------------------


@query(
    "dedup_lsh_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_bands_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS c
      FROM cands c
        JOIN shingles a ON a.doc_id = c.doc_a
        JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= {JACCARD_MIN}
    """,
)
def dedup_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard restricted to LSH band candidates: minhash bands
    propose pairs, exact set intersection verifies them. This is the
    near-dup plan that survives 100 TB — the full inverted-shingle join's
    pair space is sum(df²) over shingles (head-shingle quadratic), while
    this one's is only band collisions (true near-dups + the LSH false
    positive rate), and the verify join starts FROM the tiny candidate
    list. Recall is the banding curve 1-(1-j^r)^b, so near-exact for
    true duplicates and intentionally low for weakly-similar pairs."""
    t = load_tables(spark, sf_dir)
    return lsh_jaccard_pairs(with_toks(t["documents"]))


def lsh_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Composable core of dedup_lsh_jaccard: candidates from minhash
    bands, exact Jaccard verify only on candidates. ONE persisted
    map-only shingle_sets frame (per-doc distinct array + size +
    signature, all in-row) serves both: signatures project off it, and
    _set_overlaps verifies in-row — no exploded shingle frame, no
    per-doc-distinct shuffle. A zero-overlap candidate pair scores
    jaccard = 0 (< JACCARD_MIN) and is filtered out."""
    st = lazy_persist(shingle_sets(docs))
    cands = band_candidates(st.select("doc_id", *MH_COLS))
    return (
        _set_overlaps(cands, st)
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )


# --------------------------------------------------------------------------
# Prefix-filtered EXACT Jaccard (the AllPairs/PPJoin prefix principle,
# Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06): exact high-threshold
# near-dup pairs with a LOSSLESS candidate bound. Where dedup_lsh_jaccard
# trades recall for a bounded pair space (the banding curve), this one
# keeps EXACT semantics: order every doc's shingles by ascending global
# document frequency, keep only the first n - ceil(t*n) + 1 (the
# "prefix"), and posting-join ONLY the prefixes. Theorem: two sets with
# Jaccard >= t must share a prefix shingle (if all of A's prefix misses
# B, the >= ceil(t*|A|) intersecting shingles all sit in A's suffix of
# size ceil(t*|A|) - 1 — contradiction), so every qualifying pair is a
# candidate. The prefix holds each doc's RAREST shingles, so posting
# lists in the join are short by construction — the head-shingle
# quadratic that OOMs the unbounded exact join never materializes.
# --------------------------------------------------------------------------
PREFIX_JACCARD_T = 0.8
# The registered filter is ROUND(j, 6) >= T, which admits true Jaccard
# down to T - 5e-7. Computing the required overlap with T - 1e-4 keeps
# the prefix bound sound for every pair the rounded filter can accept
# (strictly more candidates, never fewer — losslessness is one-sided).
_PREFIX_T_EFF = PREFIX_JACCARD_T - 1e-4


@query(
    "dedup_ngram_jaccard_prefix",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6)
          >= {PREFIX_JACCARD_T}
    """,
)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= {PREFIX_JACCARD_T} pairs via prefix filtering.
    The ORACLE runs the naive full posting join — the pruned Spark plan
    must reproduce it bit-for-bit, which is precisely the prefix
    theorem's claim (the candidate bound is lossless at the threshold,
    unlike LSH banding's probabilistic recall). This is the exact-
    semantics near-dup plan that survives 100 TB: candidates come from
    rare-shingle collisions only, verification starts FROM the tiny
    candidate list."""
    t = load_tables(spark, sf_dir)
    return prefix_jaccard_pairs(with_toks(t["documents"]))


def prefix_jaccard_pairs(
    docs: DataFrame, t: float = PREFIX_JACCARD_T, sets: DataFrame | None = None
) -> DataFrame:
    """Composable core: (doc_a, doc_b, jaccard) with EXACT jaccard >= t
    via AllPairs prefix filtering + the PPJoin positional filter, over
    ONE persisted MAP-ONLY shingle-set frame (per-doc distinct array +
    size, computed in-row — shingle_sets with no minhash columns).
    Callers that already hold a persisted shingle_sets frame of
    ``docs`` (the recall-curve audit, which also bands its signatures)
    pass it as ``sets`` so the tokenize scan happens once. df counts
    come from an explode that feeds PARTIAL aggregation directly
    (vocab-bounded partials cross, never the exploded rows), per-doc
    sizes are array_size (no window count), and the verify is
    _set_overlaps — no global per-doc-distinct shuffle, no exploded
    verify exchanges, no per-pair re-aggregation.

    Plan: the set frame feeds (1) global shingle df counts, (2) a
    per-doc window ranking shingles by ascending (df, shingle) that
    keeps each doc's prefix WITH its rank, (3) the verify join. Three
    lossless prunes stack before verification:

    - prefix posting join: qualifying pairs must collide on a prefix
      (rarest-first) shingle, so posting lists in the join are short by
      construction;
    - length filter: jac >= t forces min(n) >= t * max(n) (the
      intersection is <= min(n) and >= t * max(n));
    - positional filter (PPJoin, Xiao et al. WWW'08): with i*, j* the
      ranks of the LAST shared prefix shingle in each doc's canonical
      order, every intersection element beyond it ranks above i*/j* in
      both docs, so |A∩B| <= cpref + min(na - i*, nb - j*); require
      that bound >= ceil(t/(1+t) * (na+nb)), the tight overlap
      equivalent of jac >= t. The groupBy computing (cpref, i*, j*)
      doubles as the pair dedup — no separate distinct.

    All bounds use t_eff = t - 1e-4 so the rounded output filter can
    never admit a pair the prunes dropped. Measured on the 10x salted
    artifact (50k docs, frozen 9.6k-shingle vocab — the worst case for
    df-based prefixes): raw collisions 88.5M -> 22.4M grouped pairs ->
    5.6M after the positional bound -> 2,550 true pairs, completing in
    ~1 min where the unbounded exact join OOMs outright. On a real
    corpus the vocabulary grows with the data (Heaps' law), prefix dfs
    stay bounded, and the candidate set tracks the true pair set."""
    from pyspark.sql.window import Window

    t_eff = t - 1e-4
    # same (doc_id, shingle) universe as shingle_df (distinct per doc;
    # < k tokens => no row), with the per-doc size attached in-row
    st = sets if sets is not None else lazy_persist(shingle_sets(docs, n_hashes=0))
    dfc = (
        st.select(F.explode("sh_set").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    wd = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        st.select("doc_id", "n", F.explode("sh_set").alias("shingle"))
        .join(dfc, "shingle")
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(t_eff) * F.col("n")) + 1)
        .select("doc_id", "shingle", "n", "rn")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("n").alias("na"),
        F.col("rn").alias("ia"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("n").alias("nb"),
        F.col("rn").alias("ib"),
    )
    req = F.ceil(
        F.lit(t_eff / (1.0 + t_eff)) * (F.col("na") + F.col("nb"))
    )
    cands = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("na", "nb")
            >= F.lit(t_eff) * F.greatest("na", "nb")
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("cpref"),
            F.max("ia").alias("imax"),
            F.max("ib").alias("jmax"),
        )
        .filter(
            F.col("cpref")
            + F.least(
                F.col("na") - F.col("imax"), F.col("nb") - F.col("jmax")
            )
            >= req
        )
        .select("doc_a", "doc_b")
    )
    # verify join starts FROM the candidate list (the lsh_jaccard
    # shape). Measured: an explicit pre-join repartition of the
    # candidates (the k-NN probe join's fix) buys nothing here — the
    # verify aggregation follows immediately, so AQE's coalesced
    # candidate shuffle feeds a wide groupBy anyway (53.7s vs 57.8s at
    # the 10x artifact, 2.7x WORSE at sf0.1 where the extra shuffle
    # dominates). Every candidate shares >= 1 prefix shingle, so c >= 1.
    return (
        _set_overlaps(cands, st)
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


# --------------------------------------------------------------------------
# LSH banding recall S-curve, measured against EXACT ground truth: the
# prefix-filtered exact join (provably lossless) supplies every true
# pair with jaccard >= 0.5, the PRODUCTION band chain (signature
# groups + BAND_CAP, exactly what dedup_minhash_lsh ships) proposes
# candidates, and the curve reports per-jaccard-bucket recall. This is
# the number the LSH default's "banding recall ~1 for true near-dups"
# claim rests on — previously an analytic argument (1-(1-j^2)^3 for
# 3 bands of 2), now a driver-checked measurement per corpus.
# --------------------------------------------------------------------------
RECALL_CURVE_T = 0.5  # curve floor: exact ground truth down to j=0.5


@query(
    "dedup_lsh_recall_curve",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_bands_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    true_pairs AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      FROM common JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6)
            >= {RECALL_CURVE_T}
    )
    SELECT CAST(LEAST(FLOOR(t.jaccard * 10 + 1e-9), 9) AS BIGINT) AS j_bucket,
           COUNT(*) AS n_true,
           CAST(SUM(CASE WHEN h.doc_a IS NOT NULL OR ga.rep = gb.rep
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_proposed,
           ROUND(CAST(SUM(CASE WHEN h.doc_a IS NOT NULL OR ga.rep = gb.rep
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS recall
    FROM true_pairs t
      LEFT JOIN cands h ON h.doc_a = t.doc_a AND h.doc_b = t.doc_b
      JOIN grp ga ON ga.doc_id = t.doc_a
      JOIN grp gb ON gb.doc_id = t.doc_b
    GROUP BY 1
    """,
)
def dedup_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH banding recall by exact-jaccard bucket: ground
    truth is the prefix-filtered EXACT join at t=0.5 (RECALL_CURVE_T)
    (lossless bound — the oracle recomputes it with the naive posting
    join, so every driver check re-proves both the bound AND the
    curve), candidates are the PRODUCTION band chain including the
    signature-group star edges and the BAND_CAP hot-bucket cut. Rows:
    (j_bucket, n_true, n_proposed, recall) with j_bucket = floor(10j)
    clamped to 9 (identical docs land in bucket 9 and arrive via star
    edges, so their recall is structurally 1.0).

    Scale shape: one persisted shingle_sets frame (sets, sizes and
    signatures, all in-row) feeds both arms;
    the truth side is the prefix plan (rare-shingle collisions only),
    the candidate side is the capped band self-join; the final left
    join starts FROM the true-pair list — at 100 TB this is the audit
    you run on a sample to certify the banding config before trusting
    LSH recall on the full corpus, the recall-side companion to
    dedup_band_cap_calibration (which sweeps the cap on the same
    chain). The 1e-9 nudge before floor() keeps bucket edges identical
    on both engines (round-to-6 values like 0.7 sit one ulp below the
    edge in IEEE doubles; both engines floor the same nudged value).

    A true pair counts as proposed when it is a direct candidate OR
    both docs share a signature group: the chain REPRESENTS an
    identical-signature clique as rep->member star edges (that linear
    representation is the whole point of the grouping), so a
    (member, member) pair inside one group is recovered by the
    downstream transitive clustering by construction — counting it
    missed would charge the audit for the chain's own compression."""
    t = load_tables(spark, sf_dir)
    return lsh_recall_curve_frame(with_toks(t["documents"]))


def lsh_recall_curve_frame(docs: DataFrame) -> DataFrame:
    """Composable core of dedup_lsh_recall_curve over any (doc_id,
    text[, toks]) frame — the per-bucket banding-recall curve."""
    st = lazy_persist(shingle_sets(docs))
    truth = prefix_jaccard_pairs(docs, t=RECALL_CURVE_T, sets=st)
    grouped = lazy_persist(signature_groups(st.select("doc_id", *MH_COLS)))
    cands = band_candidates(None, grouped=grouped).withColumn(
        "hit", F.lit(1)
    )
    reps = grouped.select("doc_id", "rep")
    caught = F.when(
        F.col("hit").isNotNull() | (F.col("rep_a") == F.col("rep_b")), 1
    ).otherwise(0)
    bucket = F.least(
        F.floor(F.col("jaccard") * 10 + F.lit(1e-9)), F.lit(9)
    ).cast("long")
    return (
        truth.join(cands, ["doc_a", "doc_b"], "left")
        .join(reps.toDF("doc_a", "rep_a"), "doc_a")
        .join(reps.toDF("doc_b", "rep_b"), "doc_b")
        .groupBy(bucket.alias("j_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(caught).alias("n_proposed"),
            F.round(
                F.sum(caught).cast("double") / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
    )


def _cap_sweep_sql(caps: list[int]) -> str:
    """DuckDB tail mirroring _cap_sweep over a `scored` (min_cap, ok)
    CTE: one row per cap in ``caps``."""
    return f"""caps AS (SELECT unnest({caps}) AS cap),
    per_cap AS (
      SELECT caps.cap, COUNT(s.min_cap) AS n_candidates,
             COALESCE(SUM(s.ok), 0) AS n_verified
      FROM caps LEFT JOIN scored s ON s.min_cap <= caps.cap
      GROUP BY caps.cap
    ),
    total AS (SELECT COALESCE(SUM(ok), 0) AS tot FROM scored)
    SELECT CAST(cap AS BIGINT) AS cap,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_verified AS BIGINT) AS n_verified,
           CASE WHEN tot > 0
                THEN ROUND(CAST(n_verified AS DOUBLE) / tot, 6)
           END AS recall_vs_max
    FROM per_cap CROSS JOIN total"""


def _cap_sweep(scored: DataFrame, caps: list[int]) -> DataFrame:
    """The one recall-vs-cap tail of both calibrations: (min_cap, ok)
    scored candidates -> one row per cap with the candidates a cap
    admits (min_cap <= cap), how many of them verify, and recall
    normalized to the largest cap. The pairs pre-aggregate by min_cap
    FIRST, so the <= join runs between two kernel-sized frames
    (<= max(caps) rows vs |caps| rows). Hinting broadcast on the
    PRESERVED side of a left-outer non-equi join can't be honored —
    Spark's BroadcastNestedLoopJoin would have to broadcast the full
    candidate-pair set instead, an executor-OOM risk at scale."""
    scored = lazy_persist(scored)
    by_mincap = scored.groupBy("min_cap").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum("ok"), F.lit(0)).alias("n_ok"),
    )
    cap_df = scored.sparkSession.createDataFrame([(c,) for c in caps], "cap int")
    per_cap = (
        cap_df.join(
            F.broadcast(by_mincap), F.col("min_cap") <= F.col("cap"), "left"
        )
        .groupBy("cap")
        .agg(
            F.coalesce(F.sum("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce(F.sum("n_ok"), F.lit(0))
            .cast("bigint")
            .alias("n_verified"),
        )
    )
    total = F.broadcast(
        scored.agg(F.coalesce(F.sum("ok"), F.lit(0)).alias("_tot"))
    )
    return per_cap.crossJoin(total).select(
        F.col("cap").cast("bigint").alias("cap"),
        "n_candidates",
        "n_verified",
        F.when(
            F.col("_tot") > 0,
            F.round(F.col("n_verified").cast("double") / F.col("_tot"), 6),
        ).alias("recall_vs_max"),
    )


# --------------------------------------------------------------------------
# BAND_CAP calibration: recall-vs-cap sweep, so a corpus owner picks the
# cap from data instead of trusting the default 20 — the decision-side
# companion to dedup_lsh_band_stats (which audits what the chosen cap
# spent after the fact)
# --------------------------------------------------------------------------
CAP_SWEEP = [5, 10, 20, 40]


@query(
    "dedup_band_cap_calibration",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_sig_ctes()},
    rb AS (SELECT * FROM rawbands WHERE rn <= {max(CAP_SWEEP)}),
    rep_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             MIN(GREATEST(a.rn, b.rn)) AS min_cap
      FROM rb a JOIN rb b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    allpairs AS (
      SELECT doc_a, doc_b, min_cap FROM rep_pairs
      UNION ALL
      SELECT doc_a, doc_b, 1 AS min_cap FROM star
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS c
      FROM allpairs p
        JOIN shingles a ON a.doc_id = p.doc_a
        JOIN shingles b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.min_cap,
             CASE WHEN ROUND(CAST(c.c AS DOUBLE) / (sa.n + sb.n - c.c), 6)
                       >= {JACCARD_MIN}
                  THEN 1 ELSE 0 END AS ok
      FROM allpairs p
        LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
        LEFT JOIN sizes sa ON sa.doc_id = p.doc_a
        LEFT JOIN sizes sb ON sb.doc_id = p.doc_b
    ),
    {_cap_sweep_sql(CAP_SWEEP)}
    """,
)
def dedup_band_cap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cap sweep over BAND_CAP candidates ∈ {CAP_SWEEP}: for
    each cap, how many candidate pairs the capped LSH generator would
    propose and how many of them VERIFY (exact Jaccard >= JACCARD_MIN),
    with recall normalized to the sweep's largest cap. The flat part of
    the recall curve is where the cap is safe; a corpus owner reads
    this once per corpus and sets BAND_CAP from data.

    ONE band chain and ONE verify join serve the whole sweep: each
    candidate pair is annotated with the MINIMUM cap at which it
    appears (min over colliding bands of max(rn_a, rn_b); star edges
    from identical-signature groups are cap-independent, min_cap = 1),
    and _cap_sweep counts every cap from that one scored frame. Never
    one pipeline per cap value. The pair space is bounded by the
    sweep max (rn <= {max(CAP_SWEEP)} before the self-join), so the
    sweep itself carries the cap discipline it calibrates. Output is
    exactly |CAP_SWEEP| rows."""
    t = load_tables(spark, sf_dir)
    st = lazy_persist(shingle_sets(with_toks(t["documents"])))
    grouped = lazy_persist(signature_groups(st.select("doc_id", *MH_COLS)))
    rep_pairs = (
        _band_pairs(_ranked_rep_bands(grouped, max(CAP_SWEEP)), "rn")
        .groupBy("doc_a", "doc_b")
        .agg(F.min(F.greatest("rn_a", "rn_b")).alias("min_cap"))
    )
    cands = lazy_persist(
        rep_pairs.unionByName(_star_edges(grouped, F.lit(1).alias("min_cap")))
    )
    # a zero-overlap pair scores jac = 0 here where the oracle's left
    # join yields c = NULL — both fall to ok = 0 (NULL >= t is NULL)
    ok = F.when(_jaccard() >= JACCARD_MIN, F.lit(1)).otherwise(F.lit(0))
    return _cap_sweep(
        _set_overlaps(cands, st).select("min_cap", ok.alias("ok")), CAP_SWEEP
    )


def salted_ngram_jaccard_pairs(
    docs: DataFrame, hot_df_min: int = 50, n_salts: int = 8
) -> DataFrame:
    """EXACT Jaccard pairs (same result as the unbounded pair_overlaps
    core, _jaccard_select over pair_overlaps(shingle_df(docs))) with
    head-shingle skew mitigation: shingles whose document frequency
    exceeds `hot_df_min` are routed through a salted self-join
    (hot_cold_split_join), spreading each hot posting list's O(df²)
    pair generation across n_salts tasks instead of one straggler.

    This composes with the UN-pruned path: unlike
    dedup_ngram_jaccard_df_pruned (which drops head shingles and changes
    the result), salting preserves exact semantics — use it when the
    head shingles carry signal you can't drop. The hot set is
    |shingles with df > hot_df_min| — tiny by construction, broadcast.
    """
    from disco_spark.operators.skew import hot_cold_split_join

    sh = lazy_persist(shingle_df(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > hot_df_min)
        .select("shingle")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        hot_cold_split_join(a, b, "shingle", hot, n_salts=n_salts)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _jaccard_select(common, sizes)


# --------------------------------------------------------------------------
# DF-pruned Jaccard: the skew-hardened variant for head-heavy corpora
# --------------------------------------------------------------------------
DF_PRUNE_MAX = 5


@query(
    "dedup_ngram_jaccard_df_pruned",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    hot AS (SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > {DF_PRUNE_MAX}),
    kept AS (SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= {JACCARD_MIN}
    """,
)
def dedup_ngram_jaccard_df_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs over shingle sets PRUNED of head shingles
    (document frequency > DF_PRUNE_MAX).

    The scale rationale: the inverted-shingle join's cost and skew are
    both dominated by head shingles (stopword 3-grams appear in a huge
    fraction of documents, so their posting lists produce O(df²) pair
    candidates while carrying almost no discriminative signal). Dropping
    them bounds every posting list at DF_PRUNE_MAX — the pair space
    becomes O(n_shingles · DF_PRUNE_MAX²) regardless of corpus skew.
    The hot-shingle set itself is tiny by construction (at most
    corpus_shingle_count / DF_PRUNE_MAX keys), so the prune is a
    broadcast anti-join: no extra shuffle of the shingle table."""
    t = load_tables(spark, sf_dir)
    sh = lazy_persist(shingle_df(with_toks(t["documents"])))
    return _jaccard_from_shingles(
        df_pruned_shingles(sh), universe="df_pruned"
    )


def df_pruned_shingles(
    sh: DataFrame, df_max: int = DF_PRUNE_MAX
) -> DataFrame:
    """The DF-prune discipline as a composable step: drop head shingles
    (document frequency > df_max) from a (doc_id, shingle) DataFrame via
    a broadcast anti-join. Bounds every posting list at df_max, so any
    downstream pair_overlaps join is O(n_shingles · df_max²) regardless
    of corpus skew. Shared by the pruned-Jaccard and containment
    scorers; the hot set is at most |shingles|/df_max keys — broadcast,
    no extra shuffle of the shingle table."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") > df_max)
        .select("shingle")
    )
    return lazy_persist(sh.join(F.broadcast(hot), "shingle", "left_anti"))


# --------------------------------------------------------------------------
# span-level (sentence/paragraph) dedup: the operator real pipelines run
# right after doc-level dedup — boilerplate sentences (cookie banners,
# license headers, nav text) repeat across otherwise-unique documents
# --------------------------------------------------------------------------
SPAN_MIN_CHARS = 20


@query(
    "dedup_paragraph",
    oracle=f"""
    WITH spans AS (
      SELECT doc_id, {_normalized_sql("s")} AS span
      FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+')) AS s
            FROM documents)
    ),
    kept AS (SELECT * FROM spans WHERE len(span) >= {SPAN_MIN_CHARS})
    SELECT md5(span) AS span_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS rep_doc_id
    FROM kept
    GROUP BY 1
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence/paragraph-granularity dedup map: split documents on
    sentence punctuation, normalize each span (lower, collapse
    whitespace), and group identical spans across the corpus. Output is
    one row per distinct span with its occurrence count, document
    spread, and representative doc — downstream removal filters spans
    WHERE n_docs > 1 (cross-document boilerplate) while keeping
    in-document repeats intact. One scan + one shuffle on span hash;
    the span text itself never shuffles (only the 16-byte hash and
    counters), which is what keeps this viable at corpus scale."""
    t = load_tables(spark, sf_dir)
    spans = t["documents"].select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s"),
    ).select("doc_id", normalized(F.col("s")).alias("span"))
    return (
        spans.filter(F.length("span") >= SPAN_MIN_CHARS)
        .select("doc_id", F.md5("span").alias("span_hash"))
        .groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


@query(
    "dedup_paragraph_clean",
    oracle=f"""
    WITH spans AS (
      SELECT doc_id, i AS pos, {_normalized_sql("arr[i]")} AS span
      FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
            FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS arr
                  FROM documents))
    ),
    nonempty AS (SELECT * FROM spans WHERE span <> ''),
    hot AS (
      SELECT md5(span) AS h FROM nonempty
      WHERE len(span) >= {SPAN_MIN_CHARS}
      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
    ),
    kept AS (
      SELECT doc_id, pos, span FROM nonempty
      WHERE len(span) < {SPAN_MIN_CHARS} OR md5(span) NOT IN (SELECT h FROM hot)
    )
    SELECT a.doc_id,
           CAST(a.n_spans AS BIGINT) AS n_spans,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(k.cleaned_text, '') AS cleaned_text
    FROM (SELECT doc_id, COUNT(CASE WHEN span <> '' THEN 1 END) AS n_spans
          FROM spans GROUP BY 1) a
    LEFT JOIN (SELECT doc_id, COUNT(*) AS n_kept,
                      string_agg(span, '. ' ORDER BY pos) AS cleaned_text
               FROM kept GROUP BY 1) k USING (doc_id)
    """,
)
def dedup_paragraph_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACT on the dedup_paragraph map: re-emit every document with its
    cross-document boilerplate spans removed (spans >= {SPAN_MIN_CHARS}
    chars normalized-identical in more than one distinct doc), keeping
    in-document repeats and short spans. The boilerplate set is computed
    shuffling only 16-byte hashes and doc counters, then rides to the
    executors as ONE broadcast array so the rewrite is a map-side array
    filter — document text never shuffles, and span order (hence the
    cleaned text) is the original document order by construction.

    Scale note: the broadcast set holds only spans repeated across
    docs; if a corpus's boilerplate vocabulary outgrew the broadcast
    budget the fallback is explode -> left-anti join on span hash ->
    regroup by (doc_id, pos) — one corpus shuffle, same output. A bloom
    over the hot set cannot replace exact membership here: a false
    positive would DELETE a good span (contrast the contamination
    screen, where the exact join removes bloom false positives)."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    norm = F.transform(F.split(F.col("text"), r"[.!?]+"), normalized)
    # null text: the oracle's unnest drops such docs entirely; without
    # this filter Spark would emit them with size(NULL) = -1 span counts
    base = lazy_persist(
        docs.filter(F.col("text").isNotNull()).select("doc_id", norm.alias("spans"))
    )
    hot = (
        base.select("doc_id", F.explode("spans").alias("span"))
        .filter((F.col("span") != "") & (F.length("span") >= SPAN_MIN_CHARS))
        .groupBy(F.md5("span").alias("h"))
        .agg(F.count_distinct("doc_id").alias("d"))
        .filter(F.col("d") > 1)
        .agg(F.collect_list("h").alias("hot"))
    )
    nonempty = F.filter(F.col("spans"), lambda s: s != "")
    kept = F.filter(
        nonempty,
        lambda s: (F.length(s) < SPAN_MIN_CHARS)
        | ~F.array_contains(F.col("hot"), F.md5(s)),
    )
    return base.crossJoin(F.broadcast(hot)).select(
        "doc_id",
        F.size(nonempty).cast("bigint").alias("n_spans"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.concat_ws(". ", kept).alias("cleaned_text"),
    )


# --------------------------------------------------------------------------
# SimHash (60-bit, md5-derived), folded in-row by JVM built-ins
# --------------------------------------------------------------------------
SIMHASH_BITS = 60


# shared head of the simhash oracle chain (toks -> per-token 60-bit
# hash -> per-bit vote sums); composed by dedup_simhash (signature per
# doc) and dedup_simhash_pairs (signatures -> naive hamming join) so
# the two oracles cannot diverge
_SIMHASH_CTES = f"""toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
    bits AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
      GROUP BY doc_id, j
    )"""


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_CTES}
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document, entirely in JVM built-ins (zero
    Python in the plan) and with ZERO shuffle: each document's token
    array is already one row (`with_toks`), so the whole bit-vote runs
    inside that row via higher-order functions — transform() hashes
    every token with built-in md5 (same hex as the oracle's), one
    aggregate() folds the 60 vote counters as an array accumulator, and
    a final aggregate() assembles the signature from the vote signs.
    The previous plan exploded tokens into a 60-column bit-vote groupBy;
    correct, but agg-buffer-bound (61 fields per buffer) and it paid a
    shuffle the in-row fold doesn't need — measured 2x slower at sf0.1.
    `_spread_docs` spreads an under-split input across cores first
    (no-op on big inputs, so no shuffle is added at scale).
    Output is 8 bytes/doc; downstream near-dup search bands on
    pigeonhole blocks of the signature (simhash_pigeonhole_pairs)."""
    t = load_tables(spark, sf_dir)
    return simhash_frame(_spread_docs(with_toks(t["documents"])))


def simhash_frame(docs: DataFrame) -> DataFrame:
    """Composable core of dedup_simhash over any tokenized (doc_id,
    toks) frame: (doc_id, simhash) — docs with zero tokens are dropped
    (no signature; cluster callers re-attach them as singletons)."""
    B = SIMHASH_BITS
    hv = docs.select(
        "doc_id",
        F.expr(
            "transform(toks, t -> cast(conv(substring(md5(t),1,15),16,10) as bigint))"
        ).alias("hvs"),
    ).filter(F.size("hvs") > 0)
    votes = hv.select(
        "doc_id",
        F.expr(
            f"""aggregate(hvs, array_repeat(0L, {B}),
                 (acc, h) -> zip_with(acc, sequence(0, {B - 1}),
                   (a, j) -> a + IF(((h >> j) & 1) = 1, 1L, -1L)))"""
        ).alias("votes"),
    )
    return votes.select(
        "doc_id",
        F.expr(
            f"""aggregate(zip_with(votes, sequence(0, {B - 1}),
                 (v, j) -> IF(v > 0, shiftleft(1L, j), 0L)), 0L, (acc, x) -> acc + x)"""
        ).alias("simhash"),
    )


SIMHASH_HAMMING_MAX = 3
# Manku-Jain-Sarma (WWW'07) pigeonhole banding: split the 60-bit
# signature into 6 disjoint 10-bit blocks and band on every C(6,3)=20
# 3-block combination. A pair within hamming <= 3 differs in <= 3
# blocks, so >= 3 blocks are IDENTICAL and some 3-subset of them is one
# of the bands — the candidate bound is lossless, the exact analog of
# the prefix-Jaccard principle for hamming space. Block count is the
# scale knob: 6 blocks -> 2^30 buckets (collision rate ~n^2/2^30 on
# near-uniform simhash bits); the naive-oracle contract re-proves the
# bound at every driver check.
_SIMHASH_BAND_COMBOS = [
    (a, b, c)
    for a in range(6)
    for b in range(a + 1, 6)
    for c in range(b + 1, 6)
]


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTES},
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with EXACT hamming <= 3
    (SIMHASH_HAMMING_MAX) semantics at scale: pigeonhole banding proposes (any qualifying
    pair matches one of the C(6,3)=20 three-block band keys — see
    _SIMHASH_BAND_COMBOS for the losslessness argument), bit_count of
    the XOR verifies. The ORACLE is the naive all-pairs hamming join
    (small-SF duty, like the prefix-Jaccard contract), so every driver
    check re-proves the pigeonhole bound.

    Scale shape: the signature frame is one row per doc (the
    dedup_simhash plan, zero shuffle); banding posexplodes 20 30-bit
    keys per doc and self-joins bucketed on (band_idx, band_key) —
    2^30 bucket space on near-uniform signature bits keeps buckets
    tiny where a single 15-bit band (2^15 buckets) would go quadratic
    at 100 TB; distinct() dedups multi-band proposals before the
    bit_count verify, which is O(1) per candidate."""
    return simhash_pigeonhole_pairs(
        lazy_persist(dedup_simhash(spark, sf_dir))
    )


def simhash_pigeonhole_pairs(
    sigs: DataFrame, max_hamming: int = SIMHASH_HAMMING_MAX
) -> DataFrame:
    """Composable core over any (doc_id, simhash) frame — the banded
    exact hamming <= max_hamming join. The 6-block/3-combination band
    set is lossless ONLY for max_hamming <= 3 (SIMHASH_HAMMING_MAX,
    the registered default): a pair at hamming h can dirty at most h
    of the 6 blocks, so some clean 3-block combo exists iff
    h <= 6 - 3. A larger budget needs a re-derived block count
    (m blocks of c cover hamming <= m - c) — enforced, not documented
    away: silently-incomplete pairs are the one failure mode a
    lossless operator must not have."""
    if max_hamming > SIMHASH_HAMMING_MAX:
        raise ValueError(
            f"max_hamming={max_hamming} voids the 6-block/3-combo "
            f"pigeonhole guarantee (lossless only for <= "
            f"{SIMHASH_HAMMING_MAX}); re-derive the band set instead"
        )

    def blk(i: int) -> Column:
        return F.shiftright(F.col("simhash"), i * 10).bitwiseAND(F.lit(1023))

    keys = F.array(
        *[
            blk(c0) * F.lit(1 << 20) + blk(c1) * F.lit(1 << 10) + blk(c2)
            for (c0, c1, c2) in _SIMHASH_BAND_COMBOS
        ]
    )
    bands = sigs.select(
        "doc_id", "simhash", F.posexplode(keys).alias("band_idx", "band_key")
    )
    pairs = (
        _band_pairs(bands, "simhash")
        .select("doc_a", "doc_b", "simhash_a", "simhash_b")
        .distinct()
    )
    xor = F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    return (
        pairs.withColumn("hamming", F.bit_count(xor).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup (blocked on the label column = IVF coarse cells)
# --------------------------------------------------------------------------
COS_MIN = 0.40


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays in double (JVM higher-order
    functions; no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm of a float array in double."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, computed in double (JVM
    higher-order functions; no UDF). For pairwise workloads prefer
    precomputing `norm()` per row BEFORE the join (see
    embedding_cosine_block_exact below) — this form re-walks both
    arrays three times per pair."""
    return dot(a, b) / (norm(a) * norm(b))


def embedding_cosine_block_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within label blocks — the EXACT
    within-block baseline the adaptive plan's recall is gated against
    in pytest. NOT registered since round 5: fixed-cardinality label
    blocks are quadratic per block (measured 71x pair-work at a 10x
    scale-up, PERFORMANCE.md round 4); the registered
    `dedup_embedding_cosine` is the adaptive sqrt(n)-cell plan
    (similarity/ann.py)."""
    t = load_tables(spark, sf_dir)
    # norms are computed once per ROW before the join (2N array walks),
    # not once per PAIR after it (2·N² walks); the arithmetic
    # dot/(na·nb) is unchanged so results stay bit-identical.
    e = t["embeddings"].withColumn("nrm", norm(F.col("embedding")))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
                 F.col("nrm").alias("norm_a"), "label")
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
                 F.col("nrm").alias("norm_b"), "label")
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")), 6),
        )
        .filter(F.col("cos_sim") >= COS_MIN)
        .select("vec_a", "vec_b", "cos_sim")
    )


# --------------------------------------------------------------------------
# LSH candidates -> exact edit-distance verify (the character-level
# sibling of dedup_lsh_jaccard's shingle-level verify)
# --------------------------------------------------------------------------
# keep a pair when 5 * levenshtein <= 2 * max(len_a, len_b), i.e. the
# edit distance is at most 40% of the longer text — integer arithmetic
# on both engines, no float threshold to disagree about
ED_NUM, ED_DEN = 2, 5
# ...AND at most ED_MAX absolute: the per-pair VERIFY BUDGET. With the
# threshold, Spark's levenshtein runs the banded early-exit algorithm —
# O(ED_MAX · len) per pair instead of O(len²) — so the verify stage is
# O(candidates · len) total, a budget that cannot blow up on long docs.
# A pair needing > ED_MAX edits isn't a near-dup worth confirming at
# this operator's granularity (observed true dup distances are single
# digits; boilerplate-band false positives are in the hundreds).
ED_MAX = 64

# Character-histogram prescreen alphabet. For ANY subset alphabet A,
# sum over c in A of |count_c(a) - count_c(b)| <= full-alphabet L1
# <= 2 * levenshtein(a, b)  (a substitution moves two histogram cells
# by one each; an insert/delete moves one) — so ceil(L1_A / 2) is a
# LOWER BOUND on the edit distance and screening on it is lossless.
# 36 chars covers the token alphabet; chars outside A only make the
# bound looser, never wrong.
ED_HIST_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def _char_hist(col: str = "text") -> Column:
    """array<int> of per-character counts over ED_HIST_ALPHABET —
    computed ONCE PER DOCUMENT (projected before the pair join, so the
    cost is O(|A| * len) per doc, never per candidate pair). One parsed
    expression — the unrolled 36-cell Column build was ~220 py4j round
    trips of pure construction tax per call site."""
    cells = ", ".join(
        f"length(`{col}`) - length(replace(`{col}`, '{c}', ''))"
        for c in ED_HIST_ALPHABET
    )
    return F.expr(f"array({cells})")


def _edit_payload(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """The one edit-distance verify payload: ``pairs`` (doc_a, doc_b,
    ...) joined to both docs' text (ta/tb) and char histograms (ha/hb)."""

    def side(s: str) -> DataFrame:
        return docs.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("text").alias(f"t{s}"),
            _char_hist().alias(f"h{s}"),
        )

    return pairs.join(side("a"), "doc_a").join(side("b"), "doc_b")


# lossless prescreen, shared by dedup_edit_distance and the cap
# calibration: ed_lb = max(length gap, ceil(L1/2)) lower-bounds the true
# edit distance, so a pair whose BOUND already breaks either threshold
# skips levenshtein with the result set provably unchanged. One parsed
# predicate (the Column build was ~40 py4j calls per call site); the L1
# fold appears twice textually, exactly as the shared-Column version
# duplicated its tree.
_ED_L1_SQL = "aggregate(zip_with(ha, hb, (x, y) -> abs(x - y)), 0, (acc, x) -> acc + x)"
_ED_LB_SQL = (
    "greatest(cast(abs(length(ta) - length(tb)) as bigint), "
    f"floor(({_ED_L1_SQL} + 1) / 2))"
)
_ED_SCREEN_SQL = (
    f"({ED_DEN} * {_ED_LB_SQL} <= {ED_NUM} * greatest(length(ta), length(tb)))"
    f" AND ({_ED_LB_SQL} <= {ED_MAX})"
)


@query(
    "dedup_edit_distance",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_ranked_cands_sql()},
    ed_cands AS (
      SELECT doc_a, doc_b FROM ranked WHERE cr <= {EDIT_CAND_CAP}
      UNION
      SELECT doc_a, doc_b FROM star
    )
    SELECT p.doc_a, p.doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM ed_cands p
      JOIN documents a ON a.doc_id = p.doc_a
      JOIN documents b ON b.doc_id = p.doc_b
    WHERE levenshtein(a.text, b.text) <= {ED_MAX}
      AND {ED_DEN} * levenshtein(a.text, b.text)
          <= {ED_NUM} * greatest(length(a.text), length(b.text))
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verify: LSH bands PROPOSE candidate
    pairs (never the n^2 cross space), capped at EDIT_CAND_CAP partners
    per doc (highest band-collision counts win; identical-signature
    star edges exempt), and exact Levenshtein CONFIRMS — keeping pairs
    whose edit distance is <= 40% of the longer text AND <= ED_MAX
    absolute. Both thresholds are integer arithmetic so both engines
    decide identically; the distance itself is an exact int.

    Scale budget, both factors bounded BY CONSTRUCTION:
    - candidate COUNT <= EDIT_CAND_CAP * n_reps + n_members (the degree
      cap closes the gray-zone inflation route BAND_CAP cannot: many
      moderate-similarity siblings colliding through many distinct,
      never-hot buckets — measured 51.6x candidate growth on the 10x
      growing-vocab rehearsal before the cap; recall price measured by
      dedup_edit_cap_calibration);
    - per-candidate VERIFY cost: a lossless char-histogram prescreen
      (ceil(L1/2) and the length gap both lower-bound the distance, so
      pairs that already break either threshold skip levenshtein with
      the result set provably unchanged — histograms are computed once
      per DOC, the per-pair check is a 36-int fold), and survivors run
      Spark's ED_MAX-banded levenshtein (O(ED_MAX * len) per pair,
      returns -1 past the band), the same bounded-verify principle
      dedup_lsh_jaccard applies to shingle intersection.
    DuckDB mirrors the capped candidate set (same rank, same
    deterministic ties) but verifies every candidate with the full
    distance — the prescreen is a plan optimization the lower-bound
    property keeps invisible in results (oracle scale is small)."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = spread_verify_pairs(
        capped_band_candidates(minhash_from_toks(with_toks(docs)))
    )
    return (
        _edit_payload(pairs, docs)
        .where(_ED_SCREEN_SQL)
        .withColumn("edit_dist", F.levenshtein("ta", "tb", ED_MAX))
        .where(
            "edit_dist >= 0 AND "
            f"{ED_DEN} * edit_dist <= {ED_NUM} * greatest(length(ta), length(tb))"
        )
        .select("doc_a", "doc_b", "edit_dist")
    )


# --------------------------------------------------------------------------
# EDIT_CAND_CAP calibration: recall-vs-degree-cap sweep — the decision-
# side companion to dedup_edit_distance's cap, exactly as
# dedup_band_cap_calibration is to BAND_CAP. A corpus owner reads the
# flat part of the curve and sets EDIT_CAND_CAP from data.
# --------------------------------------------------------------------------
EDIT_CAP_SWEEP = [2, 4, 8, 16, 32]


@query(
    "dedup_edit_cap_calibration",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_ranked_cands_sql()},
    allpairs AS (
      SELECT doc_a, doc_b, cr AS min_cap FROM ranked
      WHERE cr <= {max(EDIT_CAP_SWEEP)}
      UNION ALL
      SELECT doc_a, doc_b, 1 AS min_cap FROM star
    ),
    scored AS (
      SELECT p.min_cap,
             CASE WHEN levenshtein(a.text, b.text) <= {ED_MAX}
                   AND {ED_DEN} * levenshtein(a.text, b.text)
                       <= {ED_NUM} * greatest(length(a.text), length(b.text))
                  THEN 1 ELSE 0 END AS ok
      FROM allpairs p
        JOIN documents a ON a.doc_id = p.doc_a
        JOIN documents b ON b.doc_id = p.doc_b
    ),
    {_cap_sweep_sql(EDIT_CAP_SWEEP)}
    """,
)
def dedup_edit_cap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cap sweep over EDIT_CAND_CAP ∈ {2, 4, 8, 16, 32}:
    for each per-doc candidate-degree cap, how many candidate pairs the
    capped generator would hand the edit-distance verify and how many
    of them CONFIRM (banded Levenshtein within both thresholds), recall
    normalized to the sweep's largest cap. The flat part of the curve
    is where the cap is safe — the measured answer to "what did
    EDIT_CAND_CAP cost on THIS corpus".

    ONE band chain and ONE verify serve the whole sweep: each ranked
    rep pair's minimum admitting cap IS its rank cr (star edges are
    cap-exempt, min_cap = 1), the verify scores every pair in the sweep
    space once (the lossless histogram prescreen gates levenshtein
    inside the CASE — screened-out pairs score ok=0 without paying the
    banded scan), and the pairs pre-aggregate to |max cap| rows before
    the kernel-sized caps frame joins on min_cap <= cap. Never one
    pipeline per cap value; the pair space is bounded by the sweep max
    BY CONSTRUCTION, so the sweep carries the discipline it
    calibrates."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    grouped = lazy_persist(
        signature_groups(minhash_from_toks(with_toks(docs)))
    )
    ranked = (
        ranked_band_candidates(grouped)
        .filter(F.col("cr") <= max(EDIT_CAP_SWEEP))
        .select("doc_a", "doc_b", F.col("cr").alias("min_cap"))
    )
    cands = spread_verify_pairs(
        ranked.unionByName(_star_edges(grouped, F.lit(1).alias("min_cap")))
    )
    # AND short-circuits in codegen: screened-out pairs never run the
    # banded levenshtein, but still count as candidates (ok = 0)
    ok = F.expr(
        f"CASE WHEN ({_ED_SCREEN_SQL})"
        f" AND levenshtein(ta, tb, {ED_MAX}) >= 0"
        f" AND {ED_DEN} * levenshtein(ta, tb, {ED_MAX})"
        f"     <= {ED_NUM} * greatest(length(ta), length(tb))"
        " THEN 1 ELSE 0 END"
    )
    return _cap_sweep(
        _edit_payload(cands, docs).select("min_cap", ok.alias("ok")),
        EDIT_CAP_SWEEP,
    )


@query(
    "dedup_posting_skew_profile",
    # posting-list skew audit: how many shingles appear in 1, 2, 3-4,
    # 5-8, 9+ documents — the df distribution that PREDICTS whether an
    # exact shingle self-join is feasible (candidate pairs scale with
    # sum(df^2); a fat 9+ band is the OOM warning light this repo hit
    # on the replica-salted sf1 set)
    oracle=f"""
    WITH {{shingles}},
    df AS (
      SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY 1
    ),
    banded AS (
      SELECT CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
                  WHEN df <= 4 THEN '3-4' WHEN df <= 8 THEN '5-8'
                  ELSE '9+' END AS df_band,
             df
      FROM df
    )
    SELECT df_band, COUNT(*) AS n_shingles,
           CAST(SUM(CAST(df AS DECIMAL(38,0)) * df) AS BIGINT)
             AS pair_weight
    FROM banded GROUP BY df_band
    """.replace("{shingles}", _SHINGLES_SQL),
)
def dedup_posting_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle posting-list skew audit: the document-frequency
    distribution of 3-gram shingles, banded, with each band's
    sum(df^2) pair weight — the capacity-planning number for every
    shingle self-join in this repo (candidate pairs ~ sum over
    shingles of df^2; a heavy '9+' band is exactly the blowup the
    replica-salted sf1 set produced). Run this BEFORE an exact-Jaccard
    dedup to decide exact-vs-LSH.

    Plan: the shared shingle projection, one df aggregate, a 5-cell
    fold; df^2 weights accumulate in DECIMAL(38,0)."""
    from disco_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    sh = shingle_df(docs)
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    band = (
        F.when(F.col("df") == 1, "1")
        .when(F.col("df") == 2, "2")
        .when(F.col("df") <= 4, "3-4")
        .when(F.col("df") <= 8, "5-8")
        .otherwise("9+")
    )
    return (
        df.select(band.alias("df_band"), "df")
        .groupBy("df_band")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("df").cast("decimal(38,0)") * F.col("df"))
            .cast("bigint")
            .alias("pair_weight"),
        )
    )


# --------------------------------------------------------------------------
# Asymmetric containment dedup: |A ∩ B| / min(|A|, |B|) over shingle
# sets — the near-SUPERSET detector Jaccard structurally misses (a
# short doc pasted into a long one has tiny Jaccard but containment
# ~1). Standard training-data policy: drop the contained doc, keep
# the container.
# --------------------------------------------------------------------------
CONTAINMENT_MIN = 0.5


@query(
    "dedup_containment_ngram",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    hot AS (SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > {DF_PRUNE_MAX}),
    kept AS (SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM kept GROUP BY 1
    ),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM kept a
      JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb,
             ROUND(CAST(c AS DOUBLE) / LEAST(sa.n, sb.n), 6)
               AS containment,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT CASE WHEN nb < na THEN doc_b ELSE doc_a END AS contained_doc,
           CASE WHEN nb < na THEN doc_a ELSE doc_b END AS container_doc,
           containment, jaccard
    FROM scored WHERE containment >= {CONTAINMENT_MIN}
    ORDER BY contained_doc, container_doc
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset detection: for doc pairs sharing shingles, the
    containment coefficient |A∩B| / min(|A|,|B|) >= {CONTAINMENT_MIN}
    — emitted as (contained_doc, container_doc) with the Jaccard
    alongside to show WHY this measure exists (planted near-dups score
    ~1 on both; a snippet inside a 10x-longer doc scores high
    containment, low Jaccard). Smaller shingle set = contained side;
    equal sizes keep the u < v orientation. All counts exact integers;
    the two ratios are one rounded double division each.

    Plan: the pair_overlaps inverted-index core over the DF-PRUNED
    shingle universe (df_pruned_shingles, same DF_PRUNE_MAX discipline
    as the pruned-Jaccard sibling): head shingles carry no containment
    signal but dominate the posting join's O(df²) pair space, so both
    sizes and the intersection count are computed on the pruned set —
    consistent scores, and the pair space is bounded at
    O(n_shingles · DF_PRUNE_MAX²) regardless of corpus skew. The
    oracle replays the identical prune (hot/kept CTEs). LSH
    prefiltering is the WRONG cap here — minhash recall tracks
    Jaccard, and this measure exists precisely for the
    high-containment/low-Jaccard pairs LSH misses."""
    docs = load_tables(spark, sf_dir)["documents"]
    common, sizes = pair_overlaps(
        df_pruned_shingles(lazy_persist(shingle_df(docs))),
        universe="df_pruned",
    )
    scored = (
        common.join(
            sizes.select(
                F.col("doc_id").alias("_ida"), F.col("n").alias("na")
            ),
            F.col("_ida") == F.col("doc_a"),
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("_idb"), F.col("n").alias("nb")
            ),
            F.col("_idb") == F.col("doc_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.round(
                F.col("c").cast("double")
                / F.least(F.col("na"), F.col("nb")),
                6,
            ).alias("containment"),
            F.round(
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c")),
                6,
            ).alias("jaccard"),
        )
    )
    contained_first = F.col("nb") < F.col("na")
    return (
        scored.filter(F.col("containment") >= CONTAINMENT_MIN)
        .select(
            F.when(contained_first, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("contained_doc"),
            F.when(contained_first, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("container_doc"),
            "containment",
            "jaccard",
        )
        .orderBy("contained_doc", "container_doc")
    )


# --------------------------------------------------------------------------
# MinHash estimator-quality audit: for every LSH candidate pair, the
# sketch-estimated Jaccard (fraction of agreeing signature components)
# against the exact shingle Jaccard — the "trust the sketch?" readout
# that tells you whether N_HASHES is adequate BEFORE a threshold
# decision ships (the profile exact-vs-approx pattern, applied to the
# dedup sketch itself).
# --------------------------------------------------------------------------
_EST_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(N_HASHES)
)


@query(
    "dedup_minhash_estimate_audit",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL},
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM shingles GROUP BY 1
    ),
    common AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b
                       AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    est AS (
      SELECT c.doc_a, c.doc_b, {_EST_MATCH_SQL} AS n_match
      FROM cands c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b
    )
    SELECT e.doc_a, e.doc_b, CAST(e.n_match AS BIGINT) AS n_match,
           ROUND(CAST(e.n_match AS DOUBLE) / {N_HASHES}, 6) AS est_jaccard,
           ROUND(CAST(cm.cnt AS DOUBLE) / (sa.n + sb.n - cm.cnt), 6)
             AS exact_jaccard,
           ROUND(ABS(CAST(e.n_match AS DOUBLE) / {N_HASHES}
                     - CAST(cm.cnt AS DOUBLE)
                       / (sa.n + sb.n - cm.cnt)), 6) AS abs_err
    FROM est e
    JOIN common cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    ORDER BY e.doc_a, e.doc_b
    """,
)
def dedup_minhash_estimate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per LSH candidate pair: component-agreement MinHash estimate of
    Jaccard (n_match / {N_HASHES}) vs the exact shingle Jaccard, with
    the absolute error. With only {N_HASHES} hashes the estimate is
    deliberately coarse (granularity 1/{N_HASHES}) — this audit is the
    registered evidence of exactly HOW coarse, and the template a
    larger deployment reruns after raising N_HASHES.

    Plan: one persisted MAP-ONLY shingle_sets frame (per-doc distinct
    array + size + signature, all in-row) serves estimate AND exact
    sides: candidates stay band-bucketed (never all pairs); the
    signature agreement count and the exact intersection are both
    computed in-row on the SAME two doc_id-keyed joins of
    _set_overlaps. The c > 0 filter drops zero-overlap candidate
    pairs, as the oracle's inner shingle-equijoin does. All hashing is md5
    (engine-identical), all counts integers, two rounded double
    divisions per pair."""
    docs = load_tables(spark, sf_dir)["documents"]
    st = lazy_persist(shingle_sets(docs))
    cands = band_candidates(st.select("doc_id", *MH_COLS))
    n_match = sum(
        (F.col(f"{m}_a") == F.col(f"{m}_b")).cast("int") for m in MH_COLS
    )
    est_j = F.col("n_match").cast("double") / N_HASHES
    exact_j = _jaccard(digits=None)
    return (
        _set_overlaps(cands, st, *MH_COLS)
        .select("doc_a", "doc_b", n_match.alias("n_match"), "c", "na", "nb")
        .filter(F.col("c") > 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_match").cast("bigint").alias("n_match"),
            F.round(est_j, 6).alias("est_jaccard"),
            F.round(exact_j, 6).alias("exact_jaccard"),
            F.round(F.abs(est_j - exact_j), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Threshold calibration sweep — the decision-support curve behind
# every dedup rollout: how many pairs (and how many documents) does
# each candidate Jaccard threshold implicate? One scored-candidates
# pass serves every threshold; nobody re-runs the pipeline per
# setting.
# --------------------------------------------------------------------------
SWEEP_THRESHOLDS = [0.3, 0.5, 0.7, 0.9]


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL},
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM shingles GROUP BY 1
    ),
    common AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b
                       AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT cm.doc_a, cm.doc_b,
             ROUND(CAST(cm.cnt AS DOUBLE) / (sa.n + sb.n - cm.cnt), 6)
               AS jac
      FROM common cm
      JOIN sizes sa ON sa.doc_id = cm.doc_a
      JOIN sizes sb ON sb.doc_id = cm.doc_b
    ),
    th AS (SELECT unnest({SWEEP_THRESHOLDS!r}::DOUBLE[]) AS threshold),
    hits AS (
      SELECT th.threshold, s.doc_a, s.doc_b
      FROM th JOIN scored s ON s.jac >= th.threshold
    ),
    pairs AS (
      SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM hits GROUP BY 1
    ),
    docs AS (
      SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
      FROM (
        SELECT threshold, doc_a AS d FROM hits
        UNION ALL SELECT threshold, doc_b FROM hits
      ) GROUP BY 1
    )
    SELECT th.threshold,
           COALESCE(pairs.n_pairs, 0) AS n_pairs,
           COALESCE(docs.n_docs, 0) AS n_docs
    FROM th
    LEFT JOIN pairs ON pairs.threshold = th.threshold
    LEFT JOIN docs ON docs.threshold = th.threshold
    ORDER BY th.threshold
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-pair and implicated-document counts at each candidate
    Jaccard threshold {SWEEP_THRESHOLDS}, from ONE LSH-candidates +
    exact-verify pass (banded candidates, never all pairs; jaccards
    rounded before comparison so both engines agree at the
    boundaries). The curve a corpus owner reads before fixing the
    production threshold — counts drop as the bar rises.

    Plan: candidate scoring once (persisted), then ONE multi-threshold
    scalar aggregation over the scored pairs plus one over the per-doc
    best-jaccard frame (no per-threshold replication of the pair set —
    see the in-function note). The scoring
    pass rides ONE persisted map-only shingle_sets frame (per-doc
    distinct array + size + signature in-row) through _set_overlaps;
    c > 0 drops zero-overlap pairs, as the oracle's inner
    shingle-equijoin does."""
    docs = load_tables(spark, sf_dir)["documents"]
    st = lazy_persist(shingle_sets(docs))
    cands = band_candidates(st.select("doc_id", *MH_COLS))
    scored = (
        _set_overlaps(cands, st)
        .filter(F.col("c") > 0)
        .select("doc_a", "doc_b", _jaccard().alias("jac"))
    )
    scored = lazy_persist(scored)
    # ONE multi-threshold aggregation over the verified pairs instead of
    # a broadcast-thresholds fanout (guide §2.3; r14 verdict item #5):
    # the old shape replicated every scored pair per admitting threshold
    # (persisted 4x), then paid a grouped count AND a two-phase
    # count_distinct per threshold. n_pairs(t) is a sum of indicators;
    # n_docs(t) = |{d : max jac over d's pairs >= t}| — a doc is
    # implicated at t iff its BEST pair clears t — so one per-doc max
    # frame serves every threshold and the whole sweep is two scalar
    # aggregates recombined by a 1-row broadcast cross join, unpivoted
    # in-row. Sweep width changes plan width only, never row volume.
    jac = F.col("jac")
    pair_sums = scored.agg(
        *[
            F.coalesce(
                F.sum((jac >= F.lit(t)).cast("bigint")), F.lit(0)
            ).alias(f"p{i}")
            for i, t in enumerate(SWEEP_THRESHOLDS)
        ]
    )
    doc_best = (
        scored.select(
            F.explode(F.array("doc_a", "doc_b")).alias("d"), "jac"
        )
        .groupBy("d")
        .agg(F.max("jac").alias("mx"))
    )
    mx = F.col("mx")
    doc_sums = doc_best.agg(
        *[
            F.coalesce(
                F.sum((mx >= F.lit(t)).cast("bigint")), F.lit(0)
            ).alias(f"d{i}")
            for i, t in enumerate(SWEEP_THRESHOLDS)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"p{i}").alias("n_pairs"),
                F.col(f"d{i}").alias("n_docs"),
            )
            for i, t in enumerate(SWEEP_THRESHOLDS)
        ]
    )
    return (
        pair_sums.crossJoin(F.broadcast(doc_sums))
        .select(F.explode(rows).alias("r"))
        .select("r.threshold", "r.n_pairs", "r.n_docs")
        .orderBy("threshold")
    )
