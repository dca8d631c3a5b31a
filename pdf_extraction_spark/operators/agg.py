"""Aggregations (A1–A8) and ranking windows (W1/W6).

All native groupBy/agg/window — partial aggregation (map-side combine)
and AQE-coalesced shuffles come free from Catalyst. ``collect_set``
results are ``array_sort``-ed so outputs are deterministic and
oracle-comparable.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def summary_counts(chunks: DataFrame, group_cols=("category",)) -> DataFrame:
    """A4/A7: counts per group."""
    return chunks.groupBy(*group_cols).agg(F.count("*").alias("n_docs"))


def top_k_per_group(
    df: DataFrame, partition_cols, order_col, k: int = 3, desc: bool = True,
    tie_break_cols=(),
) -> DataFrame:
    """W6/A5: row_number ≤ k per partition (TakeOrdered per group).

    Pass ``tie_break_cols`` naming columns that vary WITHIN the
    partition — partition columns are constant there and cannot break
    ties, which makes results at a tied k-boundary nondeterministic."""
    ordering = F.desc(order_col) if desc else F.asc(order_col)
    w = Window.partitionBy(*partition_cols).orderBy(ordering, *tie_break_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pass_rate(df: DataFrame, keep_pred, group_cols=()) -> DataFrame:
    """A6: kept/total counters as one aggregate (the metrics the
    reference prints at filter.py:81-113)."""
    agg = [
        F.count("*").alias("total"),
        F.sum(F.when(keep_pred, 1).otherwise(0)).alias("kept"),
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*agg)
    return df.agg(*agg)


DEFAULT_QUANTILES = ((1, 4), (1, 2), (3, 4))


def group_discrete_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs=DEFAULT_QUANTILES,
) -> DataFrame:
    """Per-group DISCRETE quantiles — the generalized form of the CCNet
    tercile device (mlfilter.ppl_bucket_cutoffs): for each fraction
    num/den, the cutoff is the actual value at ascending rank
    ceil(q·n), i.e. the smallest v whose cumulative count reaches the
    rank. No interpolation → no float convention to match cross-engine,
    and the rank index is pure INTEGER math ((num·n + den − 1) div den)
    so even the rank never touches a double.

    Output: (group_col, q DOUBLE, cutoff) — one row per group × q.
    NULL values are excluded (a NULL can't be a cutoff); NULL groups
    quantile among themselves (window partitioning groups NULLs in both
    engines).

    Scale shape: the window runs over the per-(group, value) HISTOGRAM,
    not the corpus — the partition is bounded by the group's distinct-
    value count (round/bucket values upstream if that is unbounded);
    one map-side-combinable groupBy + one histogram-sized window + one
    tiny stack.
    """
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count("*").alias("cnt"))
    )
    j = hist.withColumn(
        "cum",
        F.sum("cnt").over(Window.partitionBy(group_col).orderBy(F.asc(value_col))),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy(group_col)))
    aggs = []
    for i, (num, den) in enumerate(qs):
        k = F.expr(f"CAST(({num} * n + {den} - 1) DIV {den} AS BIGINT)")
        aggs.append(
            F.min(F.when(F.col("cum") >= k, F.col(value_col))).alias(f"__c{i}")
        )
    g = j.groupBy(group_col).agg(*aggs)
    pairs = ", ".join(
        f"CAST({num} AS DOUBLE) / {den}, __c{i}" for i, (num, den) in enumerate(qs)
    )
    return g.selectExpr(
        group_col, f"stack({len(qs)}, {pairs}) AS (q, cutoff)"
    )


def sql_group_discrete_quantiles(
    rel: str,
    group_expr: str,
    value_expr: str,
    qs=DEFAULT_QUANTILES,
) -> str:
    """DuckDB twin of :func:`group_discrete_quantiles` — same histogram
    window, same integer rank, long format via UNION ALL per q. The
    group column is aliased back to ``group_expr``'s text (pass a bare
    column name when the Spark side keeps the source column name)."""
    base = (
        f"WITH h AS (SELECT {group_expr} AS grp, {value_expr} AS val, "
        f"count(*) AS cnt FROM {rel} WHERE {value_expr} IS NOT NULL "
        "GROUP BY 1, 2), "
        "c AS (SELECT grp, val, "
        "sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum, "
        "sum(cnt) OVER (PARTITION BY grp) AS n FROM h) "
    )
    parts = [
        (
            f"SELECT grp, CAST({num} AS DOUBLE) / {den} AS q, "
            f"min(CASE WHEN cum >= ({num} * n + {den} - 1) // {den} "
            "THEN val END) AS cutoff FROM c GROUP BY grp"
        )
        for num, den in qs
    ]
    inner = " UNION ALL ".join(parts)
    return f"{base} SELECT grp AS {group_expr}, q, cutoff FROM ({inner})"


# ---------------------------------------------------------------------------
# Robust per-group outlier gate (median / MAD)
# ---------------------------------------------------------------------------


def with_robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Adds (grp_median, grp_mad, is_outlier): the median/MAD outlier
    rule (Hampel identifier, the robust replacement for z-scores whose
    mean/stddev an outlier itself drags) — a row is an outlier when
    |v − median| > k·MAD with k = ``k_num``/``k_den``.

    Both the median and the MAD (median of |v − median|) are DISCRETE
    lower medians from the :func:`group_discrete_quantiles` histogram
    device — rank (n + 1) div 2 over the per-(group, value) histogram —
    and the gate compares by integer cross-multiplication
    (k_den·|v − med| > k_num·MAD), so for integer value columns the
    whole operator is exact int64: bit-identical across engines,
    partitionings and cluster sizes with no float convention anywhere.

    Degenerate MAD = 0 (more than half the group's values identical)
    keeps the textbook semantics: every value off the median flags.
    NULL values join the stats as nothing and read is_outlier NULL;
    NULL groups gate among themselves (eqNullSafe join-back).

    Scale shape: two histogram passes (each a map-side-combinable
    groupBy + a histogram-bounded window — partitions sized by the
    group's DISTINCT value count, never its row count) + two
    group-keyed join-backs. No corpus-sized window, no Python stage."""

    def _median(rel: DataFrame, gcol: str, vcol: str, gout: str, out: str) -> DataFrame:
        # the median frame's key gets its OWN name (gout) so the
        # join-backs are never self-join-ambiguous
        hist = (
            rel.filter(F.col(vcol).isNotNull())
            .groupBy(F.col(gcol).alias(gout), F.col(vcol).alias("__val"))
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy(gout)
        j = hist.withColumn(
            "cum", F.sum("cnt").over(w.orderBy(F.asc("__val")))
        ).withColumn("n", F.sum("cnt").over(w))
        return (
            j.groupBy(gout)
            .agg(
                F.min(
                    F.when(
                        F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("__val")
                    )
                ).alias(out)
            )
        )

    med = _median(df, group_col, value_col, "__gm", "grp_median")
    devs = (
        df.join(med, on=F.col(group_col).eqNullSafe(F.col("__gm")))
        .filter(F.col(value_col).isNotNull())
        .select(
            F.col("__gm").alias("__g"),
            F.abs(F.col(value_col) - F.col("grp_median")).alias("__dev"),
        )
    )
    mad = _median(devs, "__g", "__dev", "__ga", "grp_mad")
    out = df.join(
        med, on=F.col(group_col).eqNullSafe(F.col("__gm")), how="left"
    ).drop("__gm")
    out = out.join(
        mad, on=F.col(group_col).eqNullSafe(F.col("__ga")), how="left"
    ).drop("__ga")
    return out.withColumn(
        "is_outlier",
        F.when(
            F.col(value_col).isNotNull(),
            F.lit(k_den) * F.abs(F.col(value_col) - F.col("grp_median"))
            > F.lit(k_num) * F.col("grp_mad"),
        ),
    )


def sql_robust_outliers(
    rel: str,
    group_expr: str,
    value_expr: str,
    select_cols: str,
    k_num: int = 3,
    k_den: int = 1,
) -> str:
    """DuckDB twin of :func:`with_robust_outliers` — identical two-pass
    histogram recursion; ``select_cols`` lists the pass-through columns
    (the Spark side returns the input row plus the three new columns)."""

    def _med(src: str, gexpr: str, vexpr: str, out: str) -> str:
        return (
            f"SELECT grp, min(CASE WHEN cum >= (n + 1) // 2 THEN val END) "
            f"AS {out} FROM (SELECT grp, val, "
            "sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum, "
            "sum(cnt) OVER (PARTITION BY grp) AS n "
            f"FROM (SELECT {gexpr} AS grp, {vexpr} AS val, count(*) "
            f"AS cnt FROM {src} WHERE {vexpr} IS NOT NULL GROUP BY 1, 2)) "
            "GROUP BY grp"
        )

    return (
        f"WITH med AS ({_med(rel, group_expr, value_expr, 'grp_median')}), "
        "dv AS (SELECT med.grp AS g, "
        f"abs({value_expr} - grp_median) AS dev "
        f"FROM {rel} r JOIN med ON {group_expr} IS NOT DISTINCT FROM med.grp "
        f"WHERE {value_expr} IS NOT NULL), "
        f"mad AS ({_med('dv', 'g', 'dev', 'grp_mad')}) "
        f"SELECT {select_cols}, grp_median, grp_mad, "
        f"CASE WHEN {value_expr} IS NOT NULL THEN "
        f"{k_den} * abs({value_expr} - grp_median) > {k_num} * grp_mad "
        f"END AS is_outlier FROM {rel} r "
        f"LEFT JOIN med ON {group_expr} IS NOT DISTINCT FROM med.grp "
        f"LEFT JOIN mad ON {group_expr} IS NOT DISTINCT FROM mad.grp"
    )
