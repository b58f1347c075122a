"""Statistical aggregates over the fact table: grouped linear
regression, a pairwise correlation matrix, and a categorical
mutual-information / chi-square independence audit.

These are the "profiling, but with second moments" siblings of
operators/profile.py — the standing questions a training-data owner
asks before trusting a feature: does Y actually move with X (slope,
r2), which numeric columns are redundant (correlation matrix), and are
two categorical columns independent (MI / chi2 — the classic
label-leakage screen before a column is allowed into a training mix).

Reference analog: none (beyond-reference surface; the reference's
closest shape is the sum/count aggregate chain in
lib/disco/worker/classic/func.py:164-184 — these are the same
one-pass aggregation contract extended to second moments).

Scale story: every query here is ONE scan producing a constant-size
aggregate (14 sums for the 4x4 matrix, 6 sums per regression group, a
|rf|x|ls| contingency grid). All moments accumulate in DECIMAL — exact
and shuffle-order-independent, so map-side partial aggregation is free
and Spark/DuckDB agree bit-for-bit — and the derived statistics
(slope, corr, MI) are scalar double arithmetic on those exact sums.
Nothing here grows with the data: at 100 TB the cost is the scan, the
shuffle is a handful of partial-agg rows per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import fan_out, load_tables

# second-moment sums need more integer headroom than money sums:
# l_extendedprice^2 is ~1e10 per row, so a 1e12-row corpus sums to
# ~1e22 — decimal(38,10) holds 1e28 and keeps 10 fractional digits for
# the discount/tax products (~1e-3 per row).
_MOMENT_DEC = "decimal(38,10)"
_MOMENT_DEC_SQL = "DECIMAL(38,10)"


def _msum(expr: Column, alias: str) -> Column:
    """Exact decimal-accumulated SUM of a (possibly product) expression,
    returned as double — the relational.dsum contract at second-moment
    precision."""
    return F.sum(expr.cast(_MOMENT_DEC)).cast("double").alias(alias)


def _msum_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS {_MOMENT_DEC_SQL})) AS DOUBLE) AS {alias}"
    )


# ---------------------------------------------------------------------------
# regr_price_vs_qty: per-returnflag simple linear regression of
# l_extendedprice on l_quantity — DuckDB's regr_slope/regr_intercept/
# regr_r2 family, re-derived from exact sums so the two engines agree
# bit-for-bit (the built-in regr_* aggregates fold doubles in engine-
# dependent order; the oracle replays THIS construction instead).
# ---------------------------------------------------------------------------
_REGR_SUMS_SQL = ", ".join(
    [
        "l_returnflag",
        "COUNT(*) AS n",
        _msum_sql("l_quantity", "sx"),
        _msum_sql("l_extendedprice", "sy"),
        _msum_sql("l_quantity * l_quantity", "sxx"),
        _msum_sql("l_quantity * l_extendedprice", "sxy"),
        _msum_sql("l_extendedprice * l_extendedprice", "syy"),
    ]
)


@query(
    "regr_price_vs_qty",
    oracle=f"""
    WITH sums AS (
      SELECT {_REGR_SUMS_SQL}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM sums
    ORDER BY l_returnflag
    """,
)
def regr_price_vs_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of extendedprice on quantity per return flag:
    (l_returnflag, n, slope, intercept, r2).

    One scan, six decimal-exact sums per group; slope/intercept/r2 are
    derived scalar arithmetic (the textbook normal-equation forms), so
    the whole statistic is shuffle-order-independent. Parity target:
    DuckDB/Postgres REGR_SLOPE / REGR_INTERCEPT / REGR_R2.

    Fan-out before the aggregate for the same reason as
    stats_corr_matrix: the six decimal casts are the per-row cost, and
    an under-split scan would serialize them through one task; the
    shuffle carries three pruned columns, the partial aggregation still
    ships |groups| rows per partition, and the repartition is a
    measured-size no-op at real scale (shuffle-order-independent exact
    sums, results bit-identical)."""

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return regr_by_group(
        fan_out(li), "l_quantity", "l_extendedprice", "l_returnflag"
    )


def regr_by_group(
    df: DataFrame, xcol: str, ycol: str, groupcol: str
) -> DataFrame:
    """(groupcol, n, slope, intercept, r2) — the engine plan behind
    regr_price_vs_qty, exposed so tests assert the SHIPPED normal-
    equation construction on planted-signal data."""
    x, y = F.col(xcol), F.col(ycol)
    sums = df.groupBy(groupcol).agg(
        F.count(F.lit(1)).alias("n"),
        _msum(x, "sx"),
        _msum(y, "sy"),
        _msum(x * x, "sxx"),
        _msum(x * y, "sxy"),
        _msum(y * y, "syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / varx_n
    return sums.select(
        groupcol,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "intercept"
        ),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
    ).orderBy(groupcol)


# ---------------------------------------------------------------------------
# stats_corr_matrix: pairwise Pearson correlation over the four numeric
# lineitem measures, ALL moments from one scan (a naive per-pair corr()
# would scan the table C(4,2) times; at 100 TB the scan IS the cost).
# ---------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_sum_exprs_sql() -> str:
    parts = ["COUNT(*) AS n"]
    for i, c in enumerate(_CORR_COLS):
        parts.append(_msum_sql(c, f"s{i}"))
    for i, a in enumerate(_CORR_COLS):
        for j, b in enumerate(_CORR_COLS):
            if i <= j:
                parts.append(_msum_sql(f"{a} * {b}", f"s{i}{j}"))
    return ", ".join(parts)


def _corr_pair_sql(i: int, j: int) -> str:
    return (
        f"SELECT '{_CORR_COLS[i]}' AS col_x, '{_CORR_COLS[j]}' AS col_y, "
        f"ROUND((n * s{i}{j} - s{i} * s{j}) / "
        f"SQRT((n * s{i}{i} - s{i} * s{i}) * (n * s{j}{j} - s{j} * s{j})), "
        f"6) AS corr FROM sums"
    )


@query(
    "stats_corr_matrix",
    oracle=f"""
    WITH sums AS (
      SELECT {_corr_sum_exprs_sql()} FROM lineitem
    )
    {" UNION ALL ".join(
        _corr_pair_sql(i, j)
        for i in range(len(_CORR_COLS))
        for j in range(len(_CORR_COLS))
        if i < j
    )}
    ORDER BY col_x, col_y
    """,
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Pearson correlation matrix of the lineitem
    measures: (col_x, col_y, corr), 6 rows.

    All 15 moment sums come from a single aggregate (one scan, one
    constant-size partial-agg shuffle); each pair's correlation is then
    scalar arithmetic on the exact sums. The same construction serves
    feature-redundancy screens over any numeric feature block.

    The scan is fanned out first when it would arrive under-split
    (guide §2.5 "input skew — one huge unsplittable file"): the decimal
    casts make this query CPU-bound per row, and a single-row-group
    parquet file serializes all 15 decimal sums through ONE task no
    matter how many cores exist (measured 4.9-5.2 s at sf0.1 — wall #2
    of the r14 bench — with 8 cores ≈ 32 cores because one task did all
    the work). The fan-out shuffles only the four pruned double columns
    and is a measured-size NO-OP at real scale (see session.fan_out); decimal
    sums are order/partitioning-independent, so results are
    bit-identical."""

    li = load_tables(spark, sf_dir)["lineitem"].select(*_CORR_COLS)
    return corr_matrix(fan_out(li), _CORR_COLS)


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_x, col_y, corr) upper triangle over `cols` — one scan, all
    moments in a single aggregate; exposed for planted-signal tests."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(cols):
        aggs.append(_msum(F.col(c), f"s{i}"))
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if i <= j:
                aggs.append(_msum(F.col(a) * F.col(b), f"s{i}{j}"))
    sums = df.agg(*aggs)

    n = F.col("n").cast("double")

    def corr(i: int, j: int) -> Column:
        num = n * F.col(f"s{i}{j}") - F.col(f"s{i}") * F.col(f"s{j}")
        dx = n * F.col(f"s{i}{i}") - F.col(f"s{i}") * F.col(f"s{i}")
        dy = n * F.col(f"s{j}{j}") - F.col(f"s{j}") * F.col(f"s{j}")
        return F.round(num / F.sqrt(dx * dy), 6)

    pairs = [
        F.struct(
            F.lit(cols[i]).alias("col_x"),
            F.lit(cols[j]).alias("col_y"),
            corr(i, j).alias("corr"),
        )
        for i in range(len(cols))
        for j in range(len(cols))
        if i < j
    ]
    return (
        sums.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.col_x", "p.col_y", "p.corr")
        .orderBy("col_x", "col_y")
    )


# ---------------------------------------------------------------------------
# stats_mutual_information: MI (nats) + chi-square statistic between
# l_returnflag and l_linestatus — the categorical-dependence audit.
# ---------------------------------------------------------------------------
@query(
    "stats_mutual_information",
    oracle="""
    WITH jc AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    cells AS (
      SELECT c,
             SUM(c) OVER (PARTITION BY rf) AS rx,
             SUM(c) OVER (PARTITION BY ls) AS ry,
             SUM(c) OVER () AS n
      FROM jc
    ),
    terms AS (
      SELECT n,
             (CAST(c AS DOUBLE) / n)
               * LN((CAST(c AS DOUBLE) / n)
                     / ((CAST(rx AS DOUBLE) / n) * (CAST(ry AS DOUBLE) / n)))
               AS t_mi,
             POWER(CAST(c AS DOUBLE)
                     - CAST(rx AS DOUBLE) * CAST(ry AS DOUBLE) / n, 2)
               / (CAST(rx AS DOUBLE) * CAST(ry AS DOUBLE) / n) AS t_chi
      FROM cells
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(t_mi AS DECIMAL(28,15))) AS DOUBLE), 6)
             AS mi_nats,
           ROUND(CAST(SUM(CAST(t_chi AS DECIMAL(28,9))) AS DOUBLE), 6)
             AS chi2
    FROM terms
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) and chi-square statistic between the
    returnflag and linestatus columns: one row (n, mi_nats, chi2).

    One scan builds the contingency grid (|rf| x |ls| cells); marginals
    are windows over that tiny grid, per-cell terms are double
    arithmetic on exact integer counts (counts stay integral —
    BIGINT products would wrap past ~3e9, the round-7 anomaly-gate
    lesson, so ratios are taken in double instead), and the final
    reduction decimal-accumulates the handful of terms so Spark and
    DuckDB hash-match (drift.py's PSI discipline). MI near 0 = the
    columns are independent; this is the label-leakage screen run
    before a categorical feature joins a training mix."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return mutual_information(li, "l_returnflag", "l_linestatus")


def mutual_information(df: DataFrame, acol: str, bcol: str) -> DataFrame:
    """One row (n, mi_nats, chi2) for two categorical columns — the
    engine plan behind stats_mutual_information, exposed for
    planted-dependence tests."""
    jc = (
        df.groupBy(F.col(acol).alias("rf"), F.col(bcol).alias("ls"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = jc.select(
        "c",
        F.sum("c").over(Window.partitionBy("rf")).alias("rx"),
        F.sum("c").over(Window.partitionBy("ls")).alias("ry"),
        F.sum("c").over(
            Window.partitionBy()
        ).alias("n"),
    )
    c, rx, ry, n = (
        F.col(x).cast("double") for x in ("c", "rx", "ry", "n")
    )
    t_mi = (c / n) * F.log((c / n) / ((rx / n) * (ry / n)))
    t_chi = F.pow(c - rx * ry / n, 2) / (rx * ry / n)
    return cells.select(
        F.col("n"), t_mi.alias("t_mi"), t_chi.alias("t_chi")
    ).agg(
        F.max("n").alias("n"),
        F.round(
            F.sum(F.col("t_mi").cast("decimal(28,15)")).cast("double"), 6
        ).alias("mi_nats"),
        F.round(
            F.sum(F.col("t_chi").cast("decimal(28,9)")).cast("double"), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# robust outlier screen: median / MAD (modified z-score, Iglewicz-
# Hoaglin 3.5 cut) per group — the robust sibling of the 2-sigma
# anomaly gate (events_hourly_anomaly), immune to the very outliers it
# hunts. All arithmetic on exact integer cents: medians of integers
# interpolate to exact halves, so every comparison is on exactly
# representable doubles — cross-engine deterministic with no rounding
# gymnastics.
# ---------------------------------------------------------------------------
MAD_Z_CUT = 3.5
MAD_SCALE = 0.6745  # Phi^-1(0.75): MAD -> sigma-consistent scale


@query(
    "outlier_mad_orders",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    med AS (
      SELECT o_orderpriority, median(cents) AS med
      FROM x GROUP BY 1
    ),
    dev AS (
      SELECT x.o_orderpriority, x.cents, med.med,
             abs(x.cents - med.med) AS adev
      FROM x JOIN med USING (o_orderpriority)
    ),
    mad AS (
      SELECT o_orderpriority, median(adev) AS mad
      FROM dev GROUP BY 1
    )
    SELECT dev.o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN {MAD_SCALE} * dev.adev
                              > {MAD_Z_CUT} * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(MAX(CASE WHEN {MAD_SCALE} * dev.adev
                              > {MAD_Z_CUT} * mad.mad
                         THEN dev.cents END) AS DOUBLE) / 100
             AS max_outlier_price
    FROM dev JOIN mad USING (o_orderpriority)
    GROUP BY dev.o_orderpriority
    """,
)
def outlier_mad_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier counts per order priority: a price is
    an outlier when its modified z-score 0.6745*|x-med|/MAD exceeds
    3.5 (Iglewicz-Hoaglin). Unlike mean/stddev gates, one whale order
    cannot drag the threshold.

    Plan: two grouped exact medians (Catalyst sorts within the ~5
    priority groups), each median table broadcast back onto the cents
    scan; the gate multiplies instead of divides so MAD == 0 groups
    degrade gracefully (every deviation > 0 flags). Exact integer cents
    make both medians exact halves — identical doubles both engines."""
    o = load_tables(spark, sf_dir)["orders"]
    x = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    med = x.groupBy("o_orderpriority").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = x.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "o_orderpriority").withColumn(
        "is_out",
        (F.lit(MAD_SCALE) * F.col("adev") > F.lit(MAD_Z_CUT) * F.col("mad"))
        .cast("int"),
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_out").cast("bigint").alias("n_outliers"),
        (
            F.max(F.when(F.col("is_out") == 1, F.col("cents"))).cast(
                "double"
            )
            / 100
        ).alias("max_outlier_price"),
    )


# ---------------------------------------------------------------------------
# winsorized statistics: clip at exact p01/p99 before aggregating —
# the heavy-tail-robust mean the MAD screen's flagging counterpart.
# ---------------------------------------------------------------------------
WINSOR_LO = 0.01
WINSOR_HI = 0.99


@query(
    "winsorized_stats_orders",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    cuts AS (
      SELECT o_orderpriority,
             quantile_cont(cents, {WINSOR_LO}) AS lo,
             quantile_cont(cents, {WINSOR_HI}) AS hi
      FROM x GROUP BY 1
    )
    SELECT x.o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN x.cents < cuts.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN x.cents > cuts.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_hi,
           ROUND(CAST(SUM(CAST(x.cents AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*) / 100, 6) AS mean_raw,
           ROUND(CAST(SUM(CAST(
                   LEAST(GREATEST(CAST(x.cents AS DOUBLE), cuts.lo),
                         cuts.hi) AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*) / 100, 6) AS mean_winsor
    FROM x JOIN cuts USING (o_orderpriority)
    GROUP BY x.o_orderpriority
    """,
)
def winsorized_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per order priority: exact p01/p99 cut points
    (interpolated percentile over integer cents — exact fractional
    values, identical both engines), values clipped INTO the cuts, and
    raw-vs-winsorized means side by side with clip counts — the
    robust-mean report for heavy-tailed measures.

    Plan: one grouped percentile pass (per-group sort among ~5
    groups), cut points broadcast back onto the cents scan, one
    decimal-exact aggregate. Clipped values are doubles that are
    either exact integers or exact halves — the DECIMAL(28,6)
    accumulation is exact."""
    o = load_tables(spark, sf_dir)["orders"]
    x = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cuts = x.groupBy("o_orderpriority").agg(
        F.expr(f"percentile(cents, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(cents, {WINSOR_HI})").alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("cents").cast("double"), F.col("lo")), F.col("hi")
    )
    return (
        x.join(F.broadcast(cuts), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("cents") < F.col("lo")).cast("int"))
            .cast("bigint")
            .alias("n_clip_lo"),
            F.sum((F.col("cents") > F.col("hi")).cast("int"))
            .cast("bigint")
            .alias("n_clip_hi"),
            F.round(
                F.sum(F.col("cents").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
                / 100,
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(clipped.cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
                / 100,
                6,
            ).alias("mean_winsor"),
        )
    )


# ---------------------------------------------------------------------------
# A/B conversion z-test: hash-assigned arms, two-proportion z statistic
# — the experimentation primitive. Arms come from the SAME md5 bucket
# convention as every split in this repo (sampling.hash_bucket), so
# assignment is deterministic and engine-replayable.
# ---------------------------------------------------------------------------
from disco_spark.sampling import _bucket_sql as _sampling_bucket_sql  # noqa: E402

# the SQL replay of sampling.hash_bucket(user_id) — single-sourced
_bucket_sql_ab = _sampling_bucket_sql("user_id")

AB_Z_CRIT = 1.96  # two-sided 5%
# conversion = at least this many purchases: "any purchase" saturates
# on this dense synthetic stream (every user converts -> pooled p = 1,
# z undefined); a count threshold keeps both outcomes populated
AB_CONV_MIN = 15


@query(
    "abtest_conversion_ztest",
    oracle=f"""
    WITH arms AS (
      SELECT user_id,
             CASE WHEN {_bucket_sql_ab} % 2 = 0 THEN 'A' ELSE 'B' END
               AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= {AB_CONV_MIN}
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_a,
        CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
             AS BIGINT) AS conv_a,
        CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_b,
        CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
             AS BIGINT) AS conv_b
      FROM arms
    )
    , z AS (
      SELECT *,
        CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
             THEN ROUND(
               (CAST(conv_a AS DOUBLE) / n_a
                - CAST(conv_b AS DOUBLE) / n_b)
               / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                      * (1 - CAST(conv_a + conv_b AS DOUBLE)
                             / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)), 6)
        END AS zval
      FROM agg
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
           zval AS z,
           CASE WHEN abs(zval) > {AB_Z_CRIT} THEN 1 ELSE 0 END
             AS significant
    FROM z
    """,
)
def abtest_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test on purchase conversion: users hash
    into arms (md5 bucket parity — the repo's one split convention),
    conversion = any purchase, and the pooled two-proportion z
    statistic decides significance at |z| > 1.96. The experimentation
    readout every product team runs; on hash-split uniform data it
    should (and does) come back non-significant — the null A/A test.

    One Exchange on user_id for the per-user fold; the rest is a
    single 1-row aggregate. The significance flag compares the ROUNDED
    z, so both engines flag identically."""
    from disco_spark.sampling import hash_bucket

    ev = load_tables(spark, sf_dir)["events"]
    arms = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int"))
            >= AB_CONV_MIN
        )
        .cast("int")
        .alias("converted")
    ).withColumn(
        "arm",
        F.when(hash_bucket(F.col("user_id")) % 2 == 0, "A").otherwise("B"),
    )
    agg = arms.agg(
        F.sum((F.col("arm") == "A").cast("int")).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum((F.col("arm") == "B").cast("int")).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    conv_tot = F.col("conv_a") + F.col("conv_b")
    n_tot = F.col("n_a") + F.col("n_b")
    z = F.when(
        (conv_tot > 0) & (conv_tot < n_tot),
        F.round(
            (ra - rb)
            / F.sqrt(
                pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            ),
            6,
        ),
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        z.alias("z"),
        F.coalesce((F.abs(z) > AB_Z_CRIT).cast("int"), F.lit(0)).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation between two periods' supplier revenue
# rankings — "did the leaderboard hold?" in one number. Exact integer
# rank differences; rho = 1 - 6*sum(d^2) / (n(n^2-1)).
# ---------------------------------------------------------------------------
RANK_SPLIT_YEAR = 1999  # period 1: ship years < this; period 2: >= this


def _period_rev_sql(cmp: str) -> str:
    return f"""
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem WHERE year(l_shipdate) {cmp} {RANK_SPLIT_YEAR}
      GROUP BY 1"""


@query(
    "spearman_rank_stability",
    oracle=f"""
    WITH p1 AS ({_period_rev_sql("<")}),
    p2 AS ({_period_rev_sql(">=")}),
    r1 AS (
      SELECT l_suppkey, ROW_NUMBER() OVER (
        ORDER BY cents DESC, l_suppkey) AS rk1 FROM p1
      WHERE l_suppkey IN (SELECT l_suppkey FROM p2)
    ),
    r2 AS (
      SELECT l_suppkey, ROW_NUMBER() OVER (
        ORDER BY cents DESC, l_suppkey) AS rk2 FROM p2
      WHERE l_suppkey IN (SELECT l_suppkey FROM p1)
    ),
    d AS (
      SELECT r1.rk1 - r2.rk2 AS d
      FROM r1 JOIN r2 USING (l_suppkey)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(1 - 6.0 * CAST(SUM(CAST(d AS DECIMAL(38,0)) * d)
                                AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE)
                    * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1)), 6)
             AS spearman_rho
    FROM d
    """,
)
def spearman_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between early-period (ship year <
    1999) and late-period supplier revenue rankings — the leaderboard-
    stability statistic (1 = same order, 0 = unrelated, -1 =
    inverted). Only suppliers active in BOTH periods rank.

    Both rankings run through the shared two-pass row-number harness
    on the common-supplier revenue tables (never a single-partition
    window); rank differences are exact integers and d^2 folds in
    DECIMAL(38,0) (sum(d^2) grows ~n^3). One row out."""
    from disco_spark.operators.relational2 import global_row_number

    li = load_tables(spark, sf_dir)["lineitem"]
    cents = F.sum(
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint")
    ).alias("cents")

    def period(cond):
        return li.filter(cond).groupBy("l_suppkey").agg(cents)

    yr = F.year("l_shipdate")
    from disco_spark.session import lazy_persist

    # both period tables feed BOTH semi-joins below — persist once so
    # lineitem is scanned/aggregated twice, not four times
    p1 = lazy_persist(period(yr < RANK_SPLIT_YEAR))
    p2 = lazy_persist(period(yr >= RANK_SPLIT_YEAR))
    common1 = p1.join(p2.select("l_suppkey"), "l_suppkey", "leftsemi")
    common2 = p2.join(p1.select("l_suppkey"), "l_suppkey", "leftsemi")
    r1, _ = global_row_number(
        common1.withColumn("neg", -F.col("cents")), ["neg", "l_suppkey"],
        out="rk1",
    )
    r2, _ = global_row_number(
        common2.withColumn("neg", -F.col("cents")), ["neg", "l_suppkey"],
        out="rk2",
    )
    d = r1.select("l_suppkey", "rk1").join(
        r2.select("l_suppkey", "rk2"), "l_suppkey"
    ).select((F.col("rk1") - F.col("rk2")).alias("d"))
    n = F.count(F.lit(1)).cast("double")
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.round(
            1
            - 6.0
            * F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).cast(
                "double"
            )
            / (n * (n * F.count(F.lit(1)) - 1)),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index per nation — the grouped
# sibling of the global Gini: sum of squared supplier revenue shares
# within each nation's supplier pool.
# ---------------------------------------------------------------------------


@query(
    "hhi_supplier_by_nation",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    nat AS (
      SELECT n.n_name, rev.cents
      FROM rev
      JOIN supplier s ON s.s_suppkey = rev.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    ),
    tot AS (SELECT n_name, SUM(cents) AS t, COUNT(*) AS n FROM nat GROUP BY 1)
    SELECT nat.n_name,
           CAST(MAX(tot.n) AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(CAST(
             (CAST(nat.cents AS DOUBLE) / tot.t)
             * (CAST(nat.cents AS DOUBLE) / tot.t)
             AS DECIMAL(28,15))) AS DOUBLE), 6) AS hhi
    FROM nat JOIN tot USING (n_name)
    GROUP BY nat.n_name
    """,
)
def hhi_supplier_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    per nation — the grouped sibling of gini_supplier_revenue (1/n =
    perfectly even, 1.0 = single-supplier monopoly; the antitrust
    screen applied to data-source concentration audits verbatim).

    Revenue shares are exact-integer-cents ratios; squared shares fold
    as DECIMAL(28,15) (PSI pattern) so the index is shuffle-order-
    free. Nation totals broadcast back onto the per-supplier rows."""
    t = load_tables(spark, sf_dir)
    rev = t["lineitem"].groupBy("l_suppkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents")
    )
    nat = rev.join(
        F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
        F.col("s_suppkey") == F.col("l_suppkey"),
    ).join(
        F.broadcast(t["nation"].select("n_nationkey", "n_name")),
        F.col("n_nationkey") == F.col("s_nationkey"),
    ).select("n_name", "cents")
    tot = nat.groupBy("n_name").agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n")
    )
    share = F.col("cents").cast("double") / F.col("t")
    return (
        nat.join(F.broadcast(tot), "n_name")
        .select("n_name", "n", (share * share).cast("decimal(28,15)").alias("sq"))
        .groupBy("n_name")
        .agg(
            F.max("n").cast("bigint").alias("n_suppliers"),
            F.round(F.sum("sq").cast("double"), 6).alias("hhi"),
        )
    )


@query(
    "regr_qty_vs_discount_by_brand",
    # discount elasticity per part brand: does a deeper discount move
    # quantity? Same exact-moment normal-equation construction as
    # regr_price_vs_qty, grouped by a JOINED dim attribute.
    oracle=f"""
    WITH x AS (
      SELECT p.p_brand, l.l_discount AS x, l.l_quantity AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    sums AS (
      SELECT p_brand, COUNT(*) AS n,
             {_msum_sql("x", "sx")}, {_msum_sql("y", "sy")},
             {_msum_sql("x * x", "sxx")}, {_msum_sql("x * y", "sxy")},
             {_msum_sql("y * y", "syy")}
      FROM x GROUP BY p_brand
    )
    SELECT p_brand, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM sums
    ORDER BY p_brand
    """,
)
def regr_qty_vs_discount_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discount elasticity per brand: least-squares slope of quantity
    on discount within each part brand — the pricing-analytics read
    ("which brands actually move on promotion"). Reuses the shared
    exact-moment regr_by_group construction over a broadcast-dim join;
    grouping by a joined attribute is the shape the ungrouped
    regr_price_vs_qty can't show. The pruned fact projection is fanned
    out before the broadcast join for the same reason as
    stats_corr_matrix: the six decimal sums inherit the scan's
    partitioning, and an under-split scan serializes them through one
    task (measured-size no-op at real scale)."""

    t = load_tables(spark, sf_dir)
    x = fan_out(
        t["lineitem"].select("l_partkey", "l_discount", "l_quantity")
    ).join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        F.col("p_partkey") == F.col("l_partkey"),
    ).select(
        "p_brand",
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    return regr_by_group(x, "x", "y", "p_brand")


# ---------------------------------------------------------------------------
# Two-sample distribution tests: Kolmogorov-Smirnov and Mann-Whitney U
# comparing order totalprice between two customer market segments.
# The "did the distribution shift" primitives every data owner runs
# before blending corpora (here: an A/A-style null on uniform
# synthetic segments). Both are built on ONE shared construction: the
# per-distinct-value (cents) count table with exclusive prefix counts
# from the global_prefix_sum harness — exact integers end-to-end, so
# the engines agree bit-for-bit; doubles appear only in the final
# scalar statistic.
#
# Scale story: the grouped table is |distinct prices| rows; prefix
# counts come from the shared two-pass range-partition harness (no
# single-partition window anywhere), and everything after is a
# constant-size aggregate. Reference analog: none (beyond-reference
# statistics surface).
# ---------------------------------------------------------------------------
TS_SEG_A, TS_SEG_B = "BUILDING", "MACHINERY"

# shared oracle CTEs: per-cents two-sample counts + cumulative counts
# (DuckDB replays the prefix harness as one ordered window — the
# oracle is single-node, the Spark plan is not)
_TWO_SAMPLE_CTES = f"""
    seg AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN c_mktsegment = '{TS_SEG_A}' THEN 1 ELSE 0 END
               AS is_a
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('{TS_SEG_A}', '{TS_SEG_B}')
    ),
    g AS (
      SELECT cents,
             CAST(SUM(is_a) AS BIGINT) AS a_cnt,
             CAST(SUM(1 - is_a) AS BIGINT) AS b_cnt
      FROM seg GROUP BY 1
    ),
    n AS (
      SELECT CAST(SUM(a_cnt) AS BIGINT) AS n_a,
             CAST(SUM(b_cnt) AS BIGINT) AS n_b
      FROM g
    )"""


def _two_sample_grouped(spark: SparkSession, sf_dir: str):
    """(grouped-by-cents counts with exclusive prefix counts, n_a, n_b)
    for the two-segment totalprice comparison — the shared Spark
    construction under both two-sample tests. Exclusive prefix of the
    combined count is a_start + b_start (prefix sums are additive), so
    ONE pair of harness passes serves KS and the rank sums."""
    from disco_spark.operators.relational2 import global_prefix_sum

    t = load_tables(spark, sf_dir)
    cust = (
        t["customer"]
        .select("c_custkey", "c_mktsegment")
        .filter(F.col("c_mktsegment").isin(TS_SEG_A, TS_SEG_B))
    )
    seg = (
        t["orders"]
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
            (F.col("c_mktsegment") == TS_SEG_A).cast("bigint").alias(
                "is_a"
            ),
        )
    )
    g = seg.groupBy("cents").agg(
        F.sum("is_a").cast("bigint").alias("a_cnt"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("b_cnt"),
    )
    g, n_a = global_prefix_sum(g, ["cents"], "a_cnt", out="a_start")
    g, n_b = global_prefix_sum(g, ["cents"], "b_cnt", out="b_start")
    return g, int(n_a), int(n_b)


KS_COEFF = 1.358  # two-sided 5% critical coefficient


@query(
    "ks_test_price_segments",
    oracle=f"""
    WITH {_TWO_SAMPLE_CTES},
    c AS (
      SELECT CAST(SUM(a_cnt) OVER (ORDER BY cents) AS BIGINT) AS ca,
             CAST(SUM(b_cnt) OVER (ORDER BY cents) AS BIGINT) AS cb
      FROM g
    ),
    d AS (
      SELECT MAX(ABS(ca * n.n_b - cb * n.n_a)) AS d_num FROM c, n
    )
    SELECT n.n_a AS n_a, n.n_b AS n_b,
           ROUND(CAST(d.d_num AS DOUBLE) / (n.n_a * n.n_b), 6) AS d_stat,
           ROUND({KS_COEFF} * sqrt(CAST(n.n_a + n.n_b AS DOUBLE)
                                   / (n.n_a * n.n_b)), 6) AS d_crit,
           CASE WHEN ROUND(CAST(d.d_num AS DOUBLE) / (n.n_a * n.n_b), 6)
                     > ROUND({KS_COEFF}
                             * sqrt(CAST(n.n_a + n.n_b AS DOUBLE)
                                    / (n.n_a * n.n_b)), 6)
                THEN 1 ELSE 0 END AS significant
    FROM d, n
    """,
)
def ks_test_price_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between {TS_SEG_A} and
    {TS_SEG_B} order prices. D's numerator is computed entirely in
    integers — max |ca*n_b - cb*n_a| over inclusive cumulative counts
    at each distinct price — so the statistic is exact up to one final
    double division; the alpha=0.05 critical value 1.358*sqrt(N/(n_a
    n_b)) is scalar arithmetic both engines replay identically.

    Plan: one segment-filtered join, one groupBy(cents), the shared
    two-pass prefix harness (range-partitioned — no single-partition
    window), one constant-size max-aggregate."""
    import math

    g, n_a, n_b = _two_sample_grouped(spark, sf_dir)
    ca = F.col("a_start") + F.col("a_cnt")
    cb = F.col("b_start") + F.col("b_cnt")
    top = g.agg(F.max(F.abs(ca * n_b - cb * n_a)).alias("d_num"))
    d_stat = F.round(F.col("d_num").cast("double") / F.lit(n_a * n_b), 6)
    d_crit = F.round(
        F.lit(KS_COEFF * math.sqrt((n_a + n_b) / (n_a * n_b))), 6
    )
    return top.select(
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
        d_stat.alias("d_stat"),
        d_crit.alias("d_crit"),
        (d_stat > d_crit).cast("int").alias("significant"),
    )


MWU_Z_CRIT = 1.96  # two-sided 5%


@query(
    "mannwhitney_u_price_segments",
    oracle=f"""
    WITH {_TWO_SAMPLE_CTES},
    r AS (
      SELECT a_cnt, b_cnt,
             CAST(COALESCE(SUM(a_cnt + b_cnt) OVER (
                    ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS c_before
      FROM g
    ),
    s AS (
      SELECT SUM(a_cnt * (2 * c_before + (a_cnt + b_cnt) + 1)) AS two_r1,
             SUM((a_cnt + b_cnt) * (a_cnt + b_cnt) * (a_cnt + b_cnt)
                 - (a_cnt + b_cnt)) AS tie_sum
      FROM r
    ),
    fin AS (
      SELECT n.n_a, n.n_b,
             (CAST(s.two_r1 AS DOUBLE)
              - CAST(n.n_a AS DOUBLE) * (n.n_a + 1)) / 2 AS u1,
             CAST(n.n_a * n.n_b AS DOUBLE) / 2 AS mean_u,
             (CAST(n.n_a * n.n_b AS DOUBLE) / 12)
               * ((n.n_a + n.n_b + 1)
                  - CAST(s.tie_sum AS DOUBLE)
                    / (CAST(n.n_a + n.n_b AS DOUBLE)
                       * (n.n_a + n.n_b - 1))) AS varu
      FROM s, n
    )
    SELECT n_a, n_b, ROUND(u1, 6) AS u_stat,
           CASE WHEN varu > 0
                THEN ROUND((u1 - mean_u) / sqrt(varu), 6) END AS z,
           CASE WHEN ABS(CASE WHEN varu > 0
                              THEN ROUND((u1 - mean_u) / sqrt(varu), 6)
                         END) > {MWU_Z_CRIT}
                THEN 1 ELSE 0 END AS significant
    FROM fin
    """,
)
def mannwhitney_u_price_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between {TS_SEG_A} and
    {TS_SEG_B} order prices, with exact tie handling: midranks are
    tracked as 2*rank integers (2*C_before + t + 1 per tie group), so
    2*R1 and the tie correction sum(t^3 - t) accumulate exactly; the
    normal approximation z = (U - n_a n_b/2) / sqrt(var) with the
    tie-corrected variance happens once, in scalar doubles both
    engines replay identically.

    Same shared grouped-counts + prefix-harness construction as the KS
    test (c_before = a_start + b_start; prefix sums are additive).
    No continuity correction (documented choice; both engines agree)."""
    g, n_a, n_b = _two_sample_grouped(spark, sf_dir)
    N = n_a + n_b
    t_cnt = F.col("a_cnt") + F.col("b_cnt")
    c_before = F.col("a_start") + F.col("b_start")
    s = g.agg(
        F.sum(
            (F.col("a_cnt") * (2 * c_before + t_cnt + 1)).cast(
                "decimal(38,0)"
            )
        ).alias("two_r1"),
        F.sum((t_cnt * t_cnt * t_cnt - t_cnt).cast("decimal(38,0)")).alias(
            "tie_sum"
        ),
    )
    u1 = (
        F.col("two_r1").cast("double") - F.lit(float(n_a) * (n_a + 1))
    ) / 2
    mean_u = F.lit(float(n_a * n_b) / 2)
    var = F.lit(n_a * n_b / 12.0) * (
        F.lit(N + 1)
        - F.col("tie_sum").cast("double") / F.lit(float(N) * (N - 1))
    )
    z = F.when(var > 0, F.round((u1 - mean_u) / F.sqrt(var), 6))
    return s.select(
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
        F.round(u1, 6).alias("u_stat"),
        z.alias("z"),
        F.coalesce((F.abs(z) > MWU_Z_CRIT).cast("int"), F.lit(0)).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# Delete-one-bucket jackknife CI for the mean order value — error bars
# WITHOUT distributional assumptions and without nondeterministic
# resampling: the "bootstrap" every deterministic pipeline can afford.
# Buckets come from the repo's one md5 split convention, so the
# resample plan is engine-replayable bit-for-bit.
# ---------------------------------------------------------------------------
JK_GROUPS = 10


@query(
    "orders_mean_ci_jackknife",
    oracle=f"""
    WITH b AS (
      SELECT ({_sampling_bucket_sql("o_orderkey")}) % {JK_GROUPS} AS g,
             CAST(COUNT(*) AS BIGINT) AS ni,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS si
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(ni) AS BIGINT) AS n, CAST(SUM(si) AS BIGINT) AS s
      FROM b
    ),
    loo AS (
      SELECT (CAST(tot.s - b.si AS DOUBLE) / (tot.n - b.ni)) / 100 AS mi
      FROM b, tot
    ),
    mb AS (
      SELECT CAST(SUM(CAST(mi AS DECIMAL(28,12))) AS DOUBLE)
             / {JK_GROUPS} AS mbar
      FROM loo
    ),
    v AS (
      SELECT CAST(SUM(CAST((loo.mi - mb.mbar) * (loo.mi - mb.mbar)
                   AS DECIMAL(28,15))) AS DOUBLE)
             * ({JK_GROUPS} - 1) / {JK_GROUPS} AS var
      FROM loo, mb
    )
    SELECT tot.n AS n_orders,
           ROUND((CAST(tot.s AS DOUBLE) / tot.n) / 100, 4) AS mean_value,
           ROUND(sqrt(v.var), 4) AS se_jackknife,
           ROUND((CAST(tot.s AS DOUBLE) / tot.n) / 100
                 - 1.96 * sqrt(v.var), 4) AS ci_lo,
           ROUND((CAST(tot.s AS DOUBLE) / tot.n) / 100
                 + 1.96 * sqrt(v.var), 4) AS ci_hi
    FROM tot, v
    """,
)
def orders_mean_ci_jackknife(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """95% CI for the mean order value by delete-one-bucket jackknife
    over {JK_GROUPS} md5 hash buckets: leave-one-out means m_i =
    (S - s_i)/(N - n_i), var = (g-1)/g * sum (m_i - mbar)^2, CI =
    mean +- 1.96*se. Deterministic resampling — the buckets are the
    repo's md5 split convention, so unlike a bootstrap both engines
    (and any rerun) see identical resamples. The two {JK_GROUPS}-term
    folds accumulate DECIMAL-rounded terms (order-independent).

    Plan: one grouped scan to {JK_GROUPS} bucket rows; everything
    after is arithmetic on a bounded frame (cross-joined 1-row
    totals), immune to data volume."""
    from disco_spark.sampling import hash_bucket
    from disco_spark.session import lazy_persist

    o = load_tables(spark, sf_dir)["orders"]
    b = o.groupBy(
        (hash_bucket(F.col("o_orderkey")) % JK_GROUPS).alias("g")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("ni"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("si"),
    )
    b = lazy_persist(b)
    tot = b.agg(
        F.sum("ni").cast("bigint").alias("n"),
        F.sum("si").cast("bigint").alias("s"),
    )
    loo = b.crossJoin(tot).select(
        (
            (F.col("s") - F.col("si")).cast("double")
            / (F.col("n") - F.col("ni"))
            / 100
        ).alias("mi")
    )
    loo = lazy_persist(loo)
    mb = loo.agg(
        (
            F.sum(F.col("mi").cast("decimal(28,12)")).cast("double")
            / JK_GROUPS
        ).alias("mbar")
    )
    v = loo.crossJoin(mb).agg(
        (
            F.sum(
                ((F.col("mi") - F.col("mbar")) * (F.col("mi") - F.col("mbar")))
                .cast("decimal(28,15)")
            ).cast("double")
            * (JK_GROUPS - 1)
            / JK_GROUPS
        ).alias("var")
    )
    mean = F.col("s").cast("double") / F.col("n") / 100
    se = F.sqrt(F.col("var"))
    return tot.crossJoin(v).select(
        F.col("n").alias("n_orders"),
        F.round(mean, 4).alias("mean_value"),
        F.round(se, 4).alias("se_jackknife"),
        F.round(mean - 1.96 * se, 4).alias("ci_lo"),
        F.round(mean + 1.96 * se, 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Welch's t-test: weekday vs weekend mean order value — the unequal-
# variance two-sample mean test that completes the testing family
# (abtest z = proportions, KS = whole distribution, MWU = ranks,
# Welch = means with its Satterthwaite df). Exact decimal moments;
# scalar double arithmetic replayed identically by both engines.
# ---------------------------------------------------------------------------
WELCH_T_CRIT = 1.96  # two-sided 5%, df in the thousands here


@query(
    "welch_t_weekday_weekend",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN isodow(o_orderdate) <= 5 THEN 'weekday'
                  ELSE 'weekend' END AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    m AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(cents AS DECIMAL(38,0))) AS s1,
             SUM(CAST(cents * cents AS DECIMAL(38,0))) AS s2
      FROM base GROUP BY 1
    ),
    w AS (
      SELECT a.n AS na, b.n AS nb,
             CAST(a.s1 AS DOUBLE) / a.n AS ma,
             CAST(b.s1 AS DOUBLE) / b.n AS mb,
             (CAST(a.s2 AS DOUBLE)
              - (CAST(a.s1 AS DOUBLE) / a.n) * CAST(a.s1 AS DOUBLE))
               / (a.n - 1) AS va,
             (CAST(b.s2 AS DOUBLE)
              - (CAST(b.s1 AS DOUBLE) / b.n) * CAST(b.s1 AS DOUBLE))
               / (b.n - 1) AS vb
      FROM m a, m b
      WHERE a.grp = 'weekday' AND b.grp = 'weekend'
    )
    SELECT na AS n_weekday, nb AS n_weekend,
           ROUND(ma / 100, 4) AS mean_weekday,
           ROUND(mb / 100, 4) AS mean_weekend,
           CASE WHEN va / na + vb / nb > 0
                THEN ROUND((ma - mb) / sqrt(va / na + vb / nb), 6)
           END AS t,
           CASE WHEN va / na + vb / nb > 0
                THEN ROUND((va / na + vb / nb) * (va / na + vb / nb)
                     / ((va / na) * (va / na) / (na - 1)
                        + (vb / nb) * (vb / nb) / (nb - 1)), 2)
           END AS df,
           CASE WHEN va / na + vb / nb > 0
                 AND ABS(ROUND((ma - mb) / sqrt(va / na + vb / nb), 6))
                     > {WELCH_T_CRIT} THEN 1 ELSE 0 END AS significant
    FROM w
    """,
)
def welch_t_weekday_weekend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean order value on
    weekdays vs weekends, with the Satterthwaite effective df. Moments
    accumulate as exact DECIMAL integer cents (sum and sum-of-squares
    — the _msum posture at integer scale); mean/variance/t/df are
    scalar doubles written identically in both engines. Spark's
    weekday()+1 replays DuckDB's isodow. On uniform synthetic data
    this is an A/A-style null read — not significant.

    Plan: one scan to a 2-row grouped moment table, then constant
    arithmetic. The self-pairing of the two rows is a broadcast
    2x2 filter, not a shuffle."""
    o = load_tables(spark, sf_dir)["orders"]
    base = o.select(
        F.when(F.weekday(F.col("o_orderdate")) + 1 <= 5, "weekday")
        .otherwise("weekend")
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    m = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias(
            "s2"
        ),
    )
    a = m.filter(F.col("grp") == "weekday").select(
        F.col("n").alias("na"), F.col("s1").alias("a1"),
        F.col("s2").alias("a2"),
    )
    b = m.filter(F.col("grp") == "weekend").select(
        F.col("n").alias("nb"), F.col("s1").alias("b1"),
        F.col("s2").alias("b2"),
    )
    j = a.crossJoin(b)
    ma = F.col("a1").cast("double") / F.col("na")
    mb = F.col("b1").cast("double") / F.col("nb")
    va = (
        F.col("a2").cast("double") - ma * F.col("a1").cast("double")
    ) / (F.col("na") - 1)
    vb = (
        F.col("b2").cast("double") - mb * F.col("b1").cast("double")
    ) / (F.col("nb") - 1)
    sa, sb = va / F.col("na"), vb / F.col("nb")
    t = F.when(sa + sb > 0, F.round((ma - mb) / F.sqrt(sa + sb), 6))
    df = F.when(
        sa + sb > 0,
        F.round(
            (sa + sb) * (sa + sb)
            / (sa * sa / (F.col("na") - 1) + sb * sb / (F.col("nb") - 1)),
            2,
        ),
    )
    return j.select(
        F.col("na").alias("n_weekday"),
        F.col("nb").alias("n_weekend"),
        F.round(ma / 100, 4).alias("mean_weekday"),
        F.round(mb / 100, 4).alias("mean_weekend"),
        t.alias("t"),
        df.alias("df"),
        F.coalesce((F.abs(t) > WELCH_T_CRIT).cast("int"), F.lit(0)).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox audit — does the POOLED trend reverse inside
# groups? The statistical-literacy gate before anyone acts on an
# aggregate correlation: pooled slope of quantity on discount vs the
# per-brand slopes (the regr_qty_vs_discount_by_brand grouping),
# counting sign reversals on ROUNDED slopes.
# ---------------------------------------------------------------------------
_SIMPSON_SUMS = ", ".join(
    [
        "COUNT(*) AS n",
        _msum_sql("l_discount", "sx"),
        _msum_sql("l_quantity", "sy"),
        _msum_sql("l_discount * l_discount", "sxx"),
        _msum_sql("l_discount * l_quantity", "sxy"),
    ]
)
_SIMPSON_SLOPE = "ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)"


@query(
    "simpson_slope_reversal_audit",
    oracle=f"""
    WITH joined AS (
      SELECT p.p_brand, l.l_discount, l.l_quantity
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    pooled AS (
      SELECT {_SIMPSON_SUMS} FROM joined
    ),
    pooled_slope AS (
      SELECT {_SIMPSON_SLOPE} AS ps FROM pooled
    ),
    grp AS (
      SELECT p_brand, {_SIMPSON_SUMS} FROM joined GROUP BY p_brand
    ),
    gslopes AS (
      SELECT p_brand, {_SIMPSON_SLOPE} AS gs FROM grp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN sign(gs) <> sign(ps) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reversed,
           MAX(ps) AS pooled_slope,
           MIN(gs) AS min_group_slope,
           MAX(gs) AS max_group_slope
    FROM gslopes, pooled_slope
    """,
)
def simpson_slope_reversal_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Counts brands whose quantity-vs-discount slope has the opposite
    sign from the pooled slope — Simpson's paradox detection, the
    audit that says whether the aggregate elasticity is safe to act on
    (n_reversed = 0) or an artifact of mixture (n_reversed high).
    Slopes come from the SAME exact-decimal normal-equation sums as
    the regr family and are compared after the shared 6-dp rounding,
    so both engines agree at the sign boundary.

    Plan: one broadcast part join, TWO constant-size moment
    aggregates (pooled 1 row, per-brand |brands| rows), a broadcast
    cross of the 1-row pooled slope, and a bounded fold."""
    from disco_spark.session import lazy_persist

    t = load_tables(spark, sf_dir)
    # fan out the pruned fact projection before the broadcast join:
    # BOTH moment aggregations below inherit the scan's partitioning
    # through the broadcast join and the cache, and an under-split scan
    # serializes their decimal casts through one task (the
    # stats_corr_matrix lesson; fan_out is a measured-size no-op at
    # real scale, and decimal sums are partitioning-independent)
    li = fan_out(
        t["lineitem"].select("l_partkey", "l_discount", "l_quantity")
    )
    x = li.join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        F.col("p_partkey") == F.col("l_partkey"),
    ).select(
        "p_brand",
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    x = lazy_persist(x)

    def sums(df, *group):
        return df.groupBy(*group).agg(
            F.count(F.lit(1)).alias("n"),
            _msum(F.col("x"), "sx"),
            _msum(F.col("y"), "sy"),
            _msum(F.col("x") * F.col("x"), "sxx"),
            _msum(F.col("x") * F.col("y"), "sxy"),
        )

    def slope_col():
        n = F.col("n").cast("double")
        return F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        )

    pooled = sums(x).select(slope_col().alias("ps"))
    gslopes = sums(x, "p_brand").select(
        "p_brand", slope_col().alias("gs")
    )
    return gslopes.crossJoin(F.broadcast(pooled)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(
            (F.signum(F.col("gs")) != F.signum(F.col("ps"))).cast("int")
        )
        .cast("bigint")
        .alias("n_reversed"),
        F.max("ps").alias("pooled_slope"),
        F.min("gs").alias("min_group_slope"),
        F.max("gs").alias("max_group_slope"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F-test — does mean order value differ across the five
# order priorities? Completes the testing ladder (two-group Welch ->
# k-group ANOVA). Group moments are exact; SSB/SSW come from the
# classic computational forms on identically-computed doubles.
# ---------------------------------------------------------------------------
ANOVA_F_CRIT = 2.372  # F(4, inf) at 5%


@query(
    "anova_price_by_priority",
    oracle=f"""
    WITH m AS (
      SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  AS DECIMAL(38,0))) AS BIGINT) AS s1,
             SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                 AS DECIMAL(19,0))
                 * CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   AS DECIMAL(19,0))) AS s2
      FROM orders GROUP BY 1
    ),
    folds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CAST(ROUND(CAST(s1 AS DOUBLE)
                  * CAST(s1 AS DOUBLE) / n, 6) AS DECIMAL(38,6)))
                  AS DOUBLE) AS sum_sq_over_n,
             CAST(SUM(CAST(s1 AS DECIMAL(38,0))) AS BIGINT) AS st,
             CAST(SUM(s2) AS DOUBLE) AS stot2
      FROM m
    ),
    f AS (
      SELECT k, nn,
             sum_sq_over_n
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nn AS ssb,
             stot2 - sum_sq_over_n AS ssw
      FROM folds
    )
    SELECT k AS n_groups, nn AS n_rows,
           ROUND((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS f_stat,
           CASE WHEN ROUND((ssb / (k - 1)) / (ssw / (nn - k)), 6)
                     > {ANOVA_F_CRIT} THEN 1 ELSE 0 END AS significant
    FROM f
    """,
)
def anova_price_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-way ANOVA of order value across the five priorities:
    F = (SSB/(k-1)) / (SSW/(N-k)) from per-group exact integer-cents
    moments (sum and decimal sum-of-squares); the per-group s1^2/n
    terms round at 6 dp before their decimal fold so the k-term sum
    is order-independent. Flag compares the ROUNDED F to the
    F(4, inf) 5% critical value. On uniform synthetic priorities this
    is the A/A null (F ~ 1).

    Plan: one scan to a 5-row moment table, then constant
    arithmetic."""
    o = load_tables(spark, sf_dir)["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    m = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents.cast("decimal(38,0)")).cast("bigint").alias("s1"),
        F.sum(
            cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)")
        ).alias("s2"),
    )
    folds = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(
            F.round(
                F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sum_sq_over_n"),
        F.sum(F.col("s1").cast("decimal(38,0)")).cast("bigint").alias("st"),
        F.sum("s2").cast("double").alias("stot2"),
    )
    ssb = (
        F.col("sum_sq_over_n")
        - F.col("st").cast("double") * F.col("st").cast("double") / F.col("nn")
    )
    ssw = F.col("stot2") - F.col("sum_sq_over_n")
    fstat = F.round(
        (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k"))), 6
    )
    return folds.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        fstat.alias("f_stat"),
        (fstat > ANOVA_F_CRIT).cast("int").alias("significant"),
    )
