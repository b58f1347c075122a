"""Near-duplicate clustering: connected components over the similarity
graph, assigning every document a canonical cluster id.

The missing piece between pairwise dedup (minhash/jaccard/simhash emit
PAIRS) and an actual training-data dedup pass (which must pick ONE
representative per transitive group: if A~B and B~C, then A,B,C are one
cluster even when A~C was never scored). The reference's closest analog
is the iterative-job pattern its datamining examples use
(examples/datamining/kclustering.py client loop).

Spark mapping — min-label propagation as a DataFrame loop:
each iteration joins the (symmetrized) edge list with current labels,
takes the per-node min over neighbor labels, and stops when no label
changed. Iterations = graph diameter; near-dup clusters are shallow
(diameter 2-4), so this converges in a handful of rounds. Each round is
one shuffle keyed by node id; labels persist() between rounds and the
loop re-checkpoints lineage so plans stay flat. The distributed path
uses the large-star/small-star algorithm (O(log n) rounds independent
of graph diameter — the 100 TB shape); min-label propagation is kept
as the simpler diameter-bounded alternative.

The oracle is exact: DuckDB recursive CTE enumerating reachable labels,
min per node — SQL-expressible because components here are tiny (the
driver's documents table tops out at component size 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from disco_spark.dedup.dedup import _SHINGLES_SQL, JACCARD_MIN, _bands_sql
from disco_spark.registry import ORACLES, query
from disco_spark.session import load_tables


DRIVER_EDGE_THRESHOLD = 2_000_000


def _cluster_oracle(pair_ctes: str) -> str:
    """Recursive-CTE connected-components oracle over a `pairs` CTE
    (doc_a, doc_b) produced by `pair_ctes`; singletons map to
    themselves. Shared by the exact and LSH-prefiltered cluster maps."""
    return f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {pair_ctes},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, comp) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node
    ),
    cc AS (SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id, cluster_id FROM cc
    UNION ALL
    SELECT doc_id, doc_id AS cluster_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM cc)
    """


_LSH_PAIRS_CTES = f"""
    {_bands_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS c
      FROM cands c
        JOIN shingles a ON a.doc_id = c.doc_a
        JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= {JACCARD_MIN}
    )"""

# cluster map over LSH-prefiltered verified pairs — THE cluster
# definition every consumer shares: dedup_cluster_canonical,
# dedup_rate_by_source, dedup_cluster_size_histogram, and the curation
# pipeline all compose this oracle, so the definition cannot drift. The
# pair generator itself is driver-checked as dedup_lsh_jaccard; the
# exact posting join is never a cluster default (O(df²) per shingle —
# see pair_overlaps' scale contract).
LSH_CLUSTER_ORACLE = _cluster_oracle(_LSH_PAIRS_CTES)


def _prefix_pairs_ctes() -> str:
    """pairs CTE = the NAIVE exact join at the prefix threshold: the
    Spark side generates pairs via the lossless AllPairs/PPJoin prune
    (prefix_jaccard_pairs), so the naive oracle doubles as the
    losslessness proof — same contract as dedup_ngram_jaccard_prefix."""
    from disco_spark.dedup.dedup import PREFIX_JACCARD_T

    return f"""
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6)
            >= {PREFIX_JACCARD_T}
    )"""


PREFIX_CLUSTER_ORACLE = _cluster_oracle(_prefix_pairs_ctes())


def _hamming_pairs_ctes() -> str:
    """pairs CTE = the NAIVE all-pairs simhash hamming join at the
    registered budget: the Spark side generates pairs via the lossless
    pigeonhole banding (simhash_pigeonhole_pairs), so the naive oracle
    doubles as the losslessness proof — the dedup_simhash_pairs
    contract, composed into the shared cluster oracle."""
    from disco_spark.dedup.dedup import _SIMHASH_CTES, SIMHASH_HAMMING_MAX

    return f"""{_SIMHASH_CTES},
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
    )"""


HAMMING_CLUSTER_ORACLE = _cluster_oracle(_hamming_pairs_ctes())


def connected_components(
    edges: DataFrame, max_iter: int = 30, driver_threshold: int = DRIVER_EDGE_THRESHOLD
) -> DataFrame:
    """(src, dst) pairs -> (node, comp) with comp = min node id reachable.

    Hybrid strategy, sized by the EDGE count (near-dup pairs are a tiny
    fraction of the corpus — the pair generators already pruned the n²
    space): below ``driver_threshold`` edges, classic union-find on the
    driver (a 2M-edge graph is ~32 MB and finishes in milliseconds —
    iterating Spark jobs for that wastes whole seconds of scheduling);
    above it, the deterministic large-star/small-star edge rewriting
    (O(log n) rounds, diameter-independent). All paths produce identical
    labels (comp = min reachable node id)."""
    spark = edges.sparkSession
    # the edge list is typically an expensive pair-join plan; persist it
    # so the threshold count() and the subsequent collect()/propagation
    # don't run that plan twice
    edges = edges.persist()
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in edges.select("src", "dst").collect():
            ra, rb = find(int(r.src)), find(int(r.dst))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        edges.unpersist()
        rows = [(n, find(n)) for n in parent]
        return spark.createDataFrame(rows, "node bigint, comp bigint")
    out = _cc_large_small_star(edges, max_iter)
    edges.unpersist()
    return out


def _cc_large_small_star(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC'14): alternate
    two edge-rewriting rounds until the edge set is stable —

      large-star: every node u links its LARGER neighbors to
        m = min(neighbors(u) ∪ {u});
      small-star: every node u links its smaller neighbors (and itself)
        to the minimum among them.

    Converges in O(log n) rounds regardless of graph DIAMETER (min-label
    propagation needs diameter rounds — long duplicate chains at corpus
    scale make that the slower bound) and each round is two
    groupBy-min + join shuffles on node id. At fixpoint every edge is
    (node, component-min); labels fall out directly."""
    cur = (
        edges.select(F.col("src").cast("bigint").alias("a"), F.col("dst").cast("bigint").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        canon = e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins = canon.groupBy("u").agg(F.min("v").alias("m"))
        linked = canon.join(mins, "u").select(
            F.col("v").alias("a"), F.col("m").alias("b")
        ).union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        return linked.filter(F.col("a") != F.col("b")).distinct()

    for _ in range(max_iter):
        stepped = small_star(large_star(cur)).localCheckpoint(eager=True)
        # fixpoint when the edge sets are identical (both are distinct)
        changed = (
            stepped.exceptAll(cur).limit(1).count()
            + cur.exceptAll(stepped).limit(1).count()
        )
        cur.unpersist()
        cur = stepped.persist(StorageLevel.MEMORY_AND_DISK)
        if changed == 0:
            break
    # at fixpoint: every edge is (node, component_min); roots label themselves
    labels = cur.select(F.col("a").alias("node"), F.col("b").alias("comp")).union(
        cur.select(F.col("b").alias("node"), F.col("b").alias("comp"))
    ).distinct()
    cur.unpersist()
    return labels


def _cc_label_propagation(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Distributed min-label propagation (the > threshold path)."""
    sym = edges.select(
        F.col("src").cast("bigint").alias("node"), F.col("dst").cast("bigint").alias("nbr")
    ).union(
        edges.select(
            F.col("dst").cast("bigint").alias("node"), F.col("src").cast("bigint").alias("nbr")
        )
    )
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (
        sym.select("node").distinct().withColumn("comp", F.col("node"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # carry old + new comp through ONE join so change detection needs
        # no second join against the previous labels; localCheckpoint
        # truncates the growing lineage so iteration N's plan doesn't
        # replay iterations 1..N-1
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("comp").alias("old_comp"),
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("comp") != F.col("old_comp")).count()
        labels.unpersist()
        labels = stepped.select("node", "comp")
        if changed == 0:
            break
    sym.unpersist()
    return labels


@query("dedup_cluster_canonical", oracle=LSH_CLUSTER_ORACLE)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's canonical cluster id: connected components over
    LSH-prefiltered verified-Jaccard near-dup pairs (transitive
    closure), singletons map to themselves. Downstream dedup keeps rows
    WHERE doc_id = cluster_id. Uses the band-capped LSH pair generator
    (the dedup pass a 100 TB corpus actually runs), so the canonical
    map, the per-source rate, the size histogram, and the curation
    pipeline all share one driver-checked cluster definition."""
    t = load_tables(spark, sf_dir)
    return cluster_map(t["documents"])


@query("dedup_cluster_exact", oracle=PREFIX_CLUSTER_ORACLE)
def dedup_cluster_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT cluster map: connected components over EXACT jaccard >=
    0.8 pairs (prefix-filtered — dedup_ngram_jaccard_prefix's lossless
    candidate bound), singletons map to themselves. The LSH map
    (dedup_cluster_canonical) is the production default — banding recall
    is ~1 for true near-dups and the pair space is cap-bounded — but a
    compliance-grade pass ("no pair above threshold may survive, period")
    needs clusters whose EDGE SET is provably complete; prefix filtering
    is the exact generator that still survives scale (the unbounded
    posting join OOMs — pair_overlaps' measured contract). Oracle =
    connected components over the NAIVE exact pairs, so every driver
    check re-proves both the candidate bound AND the clustering."""
    from disco_spark.dedup.dedup import prefix_jaccard_pairs

    t = load_tables(spark, sf_dir)
    return cluster_map(t["documents"], pair_fn=prefix_jaccard_pairs)


@query("dedup_cluster_hamming", oracle=HAMMING_CLUSTER_ORACLE)
def dedup_cluster_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster map over EXACT simhash hamming <= 3 pairs
    (dedup_simhash_pairs' lossless pigeonhole bound), singletons map
    to themselves — the fingerprint sibling of dedup_cluster_exact's
    shingle-set map, and the usable output on replica-heavy corpora
    where the hamming PAIR list is itself quadratic in clique size
    (124.97M true pairs on the salted 10x artifact).

    The edge set is the signature-grouped one, not the raw pair list:
    docs sharing an IDENTICAL signature collapse to their min-doc_id
    rep (star edges — hamming-0 pairs, trivially qualifying), and the
    pigeonhole band join runs over DISTINCT signatures only. CC over
    these edges equals CC over all qualifying pairs: a cross-group
    qualifying pair (a, b) implies the same-signature pair
    (rep_a, rep_b) qualifies identically, and star edges connect each
    doc to its rep — so components coincide, which the NAIVE all-pairs
    oracle re-proves at every driver check. Measured on the salted 10x
    artifact: 50k docs -> 140 distinct signatures -> 917 rep pairs +
    ~50k star edges, where the ungrouped edge list (125M) pushed CC
    past 10 minutes; grouped, the whole map lands in the driver
    union-find path."""
    from pyspark.sql.window import Window

    from disco_spark.dedup.dedup import (
        _star_edges,
        simhash_frame,
        simhash_pigeonhole_pairs,
    )
    from disco_spark.session import lazy_persist
    from disco_spark.textops.analysis import with_toks

    def grouped_edges(d: DataFrame) -> DataFrame:
        sigs = lazy_persist(simhash_frame(with_toks(d)))
        grouped = sigs.withColumn(
            "rep", F.min("doc_id").over(Window.partitionBy("simhash"))
        )
        reps = grouped.filter(F.col("doc_id") == F.col("rep")).select(
            "doc_id", "simhash"
        )
        rep_pairs = simhash_pigeonhole_pairs(reps).select("doc_a", "doc_b")
        return _star_edges(grouped).unionByName(rep_pairs)

    t = load_tables(spark, sf_dir)
    return cluster_map(t["documents"], pair_fn=grouped_edges)


def cluster_map(docs: DataFrame, pair_fn=None) -> DataFrame:
    """(doc_id, cluster_id) for every document of any documents DataFrame
    (tokenized or not) — the composable core of dedup_cluster_canonical,
    shared by the curation pipeline. `pair_fn` picks the near-dup pair
    generator; the default is the LSH-prefiltered verified Jaccard
    (band-capped — never the posting-list-quadratic exact join, whose
    pair space is O(df²) per shingle; pass prefix_jaccard_pairs for
    the exact thresholded edge set)."""
    from disco_spark.dedup.dedup import lsh_jaccard_pairs

    pairs = (pair_fn or lsh_jaccard_pairs)(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    singletons = docs.select("doc_id").join(comp, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return comp.unionByName(singletons)


@query(
    "dedup_rate_by_source",
    # per-source duplication pressure: share of docs that are NON-
    # canonical in the LSH-verified cluster map — composes the
    # registered dedup_cluster_canonical oracle verbatim (curation
    # pattern), so the cluster definition cannot drift
    oracle=f"""
    WITH cm AS ({{CLUSTER_ORACLE}}),
    j AS (
      SELECT d.source,
             CASE WHEN cm.cluster_id <> cm.doc_id THEN 1 ELSE 0 END
               AS is_dup
      FROM documents d JOIN cm ON cm.doc_id = d.doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_rate
    FROM j GROUP BY source
    """.replace("{CLUSTER_ORACLE}", LSH_CLUSTER_ORACLE),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate per source — the curation dashboard number
    that decides which feeds get aggressive dedup: share of each
    source's documents that are NON-canonical (cluster_id != doc_id)
    under the LSH-verified Jaccard cluster map (band-capped — the
    same cluster definition the canonical-dedup query registers and
    the curation pipeline ships). Composes that cluster_map, joined
    back to the source column and folded to |sources| rows."""
    t = load_tables(spark, sf_dir)
    cm = cluster_map(t["documents"])
    j = t["documents"].select("doc_id", "source").join(cm, "doc_id")
    is_dup = (F.col("cluster_id") != F.col("doc_id")).cast("int")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_dup).cast("bigint").alias("n_dups"),
        F.round(
            F.sum(is_dup).cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


@query(
    "dedup_keep_best_quality",
    # keep-policy upgrade over "canonical = min doc_id": within each
    # near-dup cluster, KEEP the highest-quality member (ties broken by
    # doc_id) — composes the registered LSH cluster oracle and the
    # registered quality oracle, so neither definition can drift
    oracle=f"""
    WITH cm AS ({LSH_CLUSTER_ORACLE}),
    q AS ({{QUALITY_ORACLE}}),
    j AS (
      SELECT cm.doc_id, cm.cluster_id, q.quality
      FROM cm JOIN q ON q.doc_id = cm.doc_id
    ),
    r AS (
      SELECT doc_id, cluster_id, quality,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id) AS rn
      FROM j
    )
    SELECT doc_id, cluster_id, quality,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM r
    """.replace("{QUALITY_ORACLE}", ORACLES["text_quality_score"]),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keep map: within each near-dup cluster keep
    the HIGHEST-quality member instead of the min-doc_id canonical —
    the policy real curation uses (the canonical convention answers
    "which cluster", this answers "which copy survives"; a crawl often
    holds one clean copy and N boilerplate-wrapped ones, and min-id
    keeps whichever was crawled first). Ties break by doc_id, so the
    choice is deterministic in any engine; quality is the registered
    composite score (stopword/alpha/length), whose rounded values are
    hash-identical cross-engine (driver-checked as
    text_quality_score).

    Plan: the band-capped LSH cluster map joined to the single-scan
    quality projection, then one row_number window PER CLUSTER —
    near-dup clusters are small by construction (and singletons are
    1-row partitions), so no partition is ever more than a cluster
    wide. Output is |docs| rows: (doc_id, cluster_id, quality,
    keep)."""
    from pyspark.sql.window import Window

    from disco_spark.textops.analysis import quality_score_df

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    cm = cluster_map(docs)
    q = quality_score_df(docs).select("doc_id", "quality")
    j = cm.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    return j.withColumn("rn", F.row_number().over(w)).select(
        "doc_id",
        "cluster_id",
        "quality",
        F.when(F.col("rn") == 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep"),
    )


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH cm AS ({LSH_CLUSTER_ORACLE}),
    sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM cm GROUP BY 1)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup CLUSTER SIZE distribution — the one-page summary a
    corpus owner reads after a dedup pass: how many clusters of each
    size exist, how many documents they hold, and how many docs a
    keep-one-per-cluster policy would remove (n_removable = docs minus
    clusters at that size; size-1 rows are the untouched singleton
    mass). A fat tail here is boilerplate; a huge singleton row with a
    thin tail means the corpus is already clean.

    Plan: two bounded groupBys over the cluster map the CURATION
    pipeline actually runs — LSH-prefiltered verified Jaccard pairs
    (band-capped, never the posting-list-quadratic exact join) into
    connected components — so this histogram both audits the shipped
    dedup and carries its scale guarantees. Histogram rows are at most
    the distinct cluster sizes, O(log n) in practice."""
    t = load_tables(spark, sf_dir)
    sizes = (
        cluster_map(t["documents"])
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return sizes.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        (F.sum("sz") - F.count(F.lit(1))).cast("bigint").alias("n_removable"),
    ).select(
        F.col("sz").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )
