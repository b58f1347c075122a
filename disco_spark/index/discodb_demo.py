"""Registered DiscoDB-parity queries: CNF boolean search over an
inverted token index on `documents`, plus metaquery expansion
(reference examples/util/query_ddb.py:10-25, doc/howto/discodb.rst:33-57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.index.discodb import InvertedIndex
from disco_spark.registry import query
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL, with_toks

_TOKS_CTE = f"""
    WITH toks AS (
      SELECT DISTINCT unnest({_TOKS_SQL}) AS key, doc_id AS value FROM documents
    )
"""


def _token_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    t = load_tables(spark, sf_dir)
    return InvertedIndex.from_tokens(t["documents"], "text", "doc_id")


@query(
    "discodb_query_and",
    oracle=_TOKS_CTE
    + """
    SELECT value FROM toks WHERE key = 'join'
    INTERSECT SELECT value FROM toks WHERE key = 'vector'
    INTERSECT SELECT value FROM toks WHERE key = 'spark'
    """,
)
def discodb_query_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _token_index(spark, sf_dir).query("join & vector & spark")


@query(
    "discodb_query_or_not",
    oracle=_TOKS_CTE
    + """
    SELECT * FROM (
      SELECT value FROM toks WHERE key = 'spark'
      UNION
      SELECT value FROM toks WHERE key = 'vector'
    )
    EXCEPT SELECT value FROM toks WHERE key = 'slow'
    """,
)
def discodb_query_or_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _token_index(spark, sf_dir).query("(spark | vector) & ~slow")


@query(
    "discodb_unique_keys",
    oracle=_TOKS_CTE + "SELECT DISTINCT key FROM toks",
)
def discodb_unique_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _token_index(spark, sf_dir).keys()


@query(
    "discodb_metaquery",
    oracle="""
    SELECT DISTINCT c.c_name AS value
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
    """,
)
def discodb_metaquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level key graph (region->nation, nation->customer): metaquery
    expands the first query's values as keys — the reference's key->keys
    metadata walk, realized as a self semi-join of the index."""
    t = load_tables(spark, sf_dir)
    edges_rn = (
        t["region"]
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("r_name").alias("key"), F.col("n_name").alias("value"))
    )
    edges_nc = (
        t["nation"]
        .join(t["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("key"), F.col("c_name").alias("value"))
    )
    idx = InvertedIndex(edges_rn.unionAll(edges_nc))
    return idx.metaquery("ASIA")


_META_HOPS = 4

@query(
    "discodb_metaquery_recursive",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT toks[i] AS key, toks[i+1] AS value
      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM (SELECT {_TOKS_SQL} AS toks FROM documents))
    ),
    hits AS (SELECT DISTINCT value FROM pairs WHERE key = 'data'),
    reach(v, d) AS (
      SELECT value, 0 FROM hits
      UNION
      SELECT p.value, r.d + 1 FROM reach r JOIN pairs p ON p.key = r.v
      WHERE r.d < {_META_HOPS}
    )
    SELECT DISTINCT v AS value FROM reach
    """,
)
def discodb_metaquery_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep metaquery (VERDICT r1 gap): recursive key->keys expansion
    over a token-successor graph (tok_i -> tok_i+1 per document — a
    metadata graph where values ARE keys, so one-hop expansion is not
    enough). metaquery(recursive=True) chases values-as-keys for
    _META_HOPS hops in one lazy plan; the oracle is the equivalent
    depth-bounded recursive CTE. Cycles are safe on both sides (per-hop
    distinct / recursive-UNION dedup)."""
    t = load_tables(spark, sf_dir)
    d = with_toks(t["documents"]).select("toks")
    succ = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at(F.col("toks"), i).alias("key"),
            F.element_at(F.col("toks"), i + 1).alias("value"),
        ),
    )
    pairs = (
        d.filter(F.size("toks") >= 2)
        .select(F.explode(succ).alias("p"))
        .select("p.key", "p.value")
        .distinct()
    )
    idx = InvertedIndex(pairs)
    return idx.metaquery("data", recursive=True, max_hops=_META_HOPS)


@query(
    "discodb_items",
    oracle=_TOKS_CTE + "SELECT key, value FROM toks",
)
def discodb_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index enumeration — the reference's items() method dispatch
    (scheme_discodb.py:20-25)."""
    return _token_index(spark, sf_dir).items()


@query(
    "discodb_unique_values",
    oracle=_TOKS_CTE + "SELECT DISTINCT value FROM toks",
)
def discodb_unique_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unique_values() enumeration (scheme_discodb.py:20-25)."""
    return _token_index(spark, sf_dir).unique_values()


@query(
    "discodb_multiset_wordcount",
    oracle=f"""
    SELECT tok AS key, COUNT(*) AS cnt
    FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY cnt DESC, key ASC
    LIMIT 20
    """,
)
def discodb_multiset_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-valued (duplicate-preserving) multimap parity: the reference's
    DiscoDBConstructor keeps one entry per add() unless unique_items is
    set (scheme_discodb.py:31-49), so wordcount_ddb.py-style jobs encode
    counts as duplicate values. Build the token index with
    unique_items=False and read multiplicities back via value_counts():
    top-20 tokens by occurrence count (ties broken by token)."""
    t = load_tables(spark, sf_dir)
    idx = InvertedIndex.from_tokens(
        t["documents"], "text", "doc_id", unique_items=False
    )
    return (
        idx.value_counts()
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(20)
    )
