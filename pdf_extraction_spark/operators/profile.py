"""Table profiling and declarative data-quality checks — the
Deequ/TFDV genre (Schelter et al., VLDB 2018 "Automating Large-Scale
Data Quality Verification"), re-expressed as pure relational plans.

A production ingest pipeline runs exactly two questions before any
operator touches a new drop: "what does this table look like" (the
profile: null rates, cardinalities, extremes, dominant values) and
"does it satisfy the contract" (the checks: completeness, uniqueness,
value containment). Both here are engine-native and oracle-able:

* :func:`table_profile` — one row per profiled column: row count,
  null count, exact distinct count, min/max (rendered to string AFTER
  typed comparison), and the top-3 values by (count desc, value asc)
  as a rendered list. Columns are a DRIVER-SIDE metadata list (the
  schema is not data) and the plan reads the table exactly TWICE no
  matter how many columns are profiled: one wide agg for every
  column's scalar stats, one melt → (column, value) grouping for
  every column's top-3; every aggregate is map-side combinable and
  the top-3 buffer is bounded by the slice device.
* :func:`table_checks` — declarative constraints evaluated in ONE
  pass per constraint family, emitting (check, column, n_rows,
  n_failed, passed). Completeness thresholds compare by integer
  cross-multiplication (no float ratio); uniqueness compares exact
  distinct vs non-null counts; containment counts values outside a
  literal allow-list.

Cross-engine: everything is counts, string renderings of typed
values, and integer comparisons — no float convention anywhere.
Profiled/checked columns here are string/int64 types (the corpus
tables' surface); extending the render rule to doubles would need a
shared format convention (documented, not silently assumed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """(column, n_rows, n_null, n_distinct, min_str, max_str,
    top_values): one profile row per listed column; top_values renders
    the top-3 (value, count) pairs as 'v:c' joined by ','; NULL values
    are excluded from distinct/min/max/top (they are the n_null
    column's business).

    Two table scans TOTAL regardless of how many columns are profiled
    (the Deequ single-pass discipline, vs the naive 2-scans-per-column
    shape): one wide agg computes every column's count/null/distinct/
    min/max together (min/max compare TYPED, render to string after),
    and one melt → (column, value) grouping serves every column's
    top-3. The melted grouping key carries the column name, so the
    top-3 shuffle is all columns' value histograms in ONE exchange."""
    col_aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        col = F.col(c)
        col_aggs += [
            F.sum(col.isNull().cast("long")).alias(f"null__{c}"),
            F.countDistinct(col).alias(f"dist__{c}"),
            F.min(col).cast("string").alias(f"min__{c}"),
            F.max(col).cast("string").alias(f"max__{c}"),
        ]
    wide = df.agg(*col_aggs)

    melted = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(c).cast("string").alias("vs"),
                        )
                        for c in columns
                    ]
                )
            ).alias("p")
        )
        .select("p.column", "p.vs")
        .filter(F.col("vs").isNotNull())
    )
    top = (
        melted.groupBy("column", "vs")
        .agg(F.count("*").alias("c"))
        .groupBy("column")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("c")).alias("nc"),
                            F.col("vs"),
                            F.col("c"),
                        )
                    )
                ),
                1,
                3,
            ).alias("t3")
        )
        .select(
            "column",
            F.array_join(
                F.transform(
                    F.col("t3"),
                    lambda s: F.concat(s["vs"], F.lit(":"), s["c"].cast("string")),
                ),
                ",",
            ).alias("top_values"),
        )
    )

    rows = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("n_rows").alias("n_rows"),
                        F.coalesce(f"null__{c}", F.lit(0)).alias("n_null"),
                        F.col(f"dist__{c}").alias("n_distinct"),
                        F.col(f"min__{c}").alias("min_str"),
                        F.col(f"max__{c}").alias("max_str"),
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.*")
    return rows.join(F.broadcast(top), "column", "left").select(
        "column",
        "n_rows",
        "n_null",
        "n_distinct",
        "min_str",
        "max_str",
        F.coalesce("top_values", F.lit("")).alias("top_values"),
    )


def sql_table_profile(rel: str, columns: list[str]) -> str:
    """DuckDB twin of :func:`table_profile` — identical per-column
    aggregates, top-3 order and rendering. Like the Spark melt, the
    top-3 groups by the rendered string, so values that compare equal
    but render apart (-0.0 and 0.0) count apart in both engines."""
    blocks = []
    for c in columns:
        blocks.append(
            f"SELECT '{c}' AS column, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM {rel}) AS n_rows, "
            f"(SELECT CAST(coalesce(sum(CASE WHEN {c} IS NULL THEN 1 "
            f"ELSE 0 END), 0) AS BIGINT) FROM {rel}) AS n_null, "
            f"(SELECT CAST(count(DISTINCT {c}) AS BIGINT) FROM {rel}) "
            "AS n_distinct, "
            f"(SELECT CAST(min({c}) AS VARCHAR) FROM {rel}) AS min_str, "
            f"(SELECT CAST(max({c}) AS VARCHAR) FROM {rel}) AS max_str, "
            "(SELECT coalesce(array_to_string(list_transform("
            "list_sort(list({'nc': -c, 'vs': v, 'c': c}))[1:3], "
            "s -> s.vs || ':' || CAST(s.c AS VARCHAR)), ','), '') FROM "
            f"(SELECT CAST({c} AS VARCHAR) AS v, CAST(count(*) AS BIGINT) AS c "
            f"FROM {rel} WHERE {c} IS NOT NULL GROUP BY 1)) AS top_values"
        )
    return " UNION ALL ".join(blocks)


def table_checks(df: DataFrame, checks: list[dict]) -> DataFrame:
    """(check, column, n_rows, n_failed, passed) per declared check.

    Check dicts:
      {"type": "completeness", "column": c, "min_ppm": 990000}
          — at least min_ppm of rows non-NULL
          (n_nonnull * 1e6 >= min_ppm * n, integer cross-mult);
      {"type": "uniqueness", "column": c}
          — non-NULL values are unique (distinct == non-null count;
          n_failed = duplicated row count);
      {"type": "in_set", "column": c, "values": [...]}
          — every non-NULL value in the literal set;
      {"type": "non_negative", "column": c}
          — every non-NULL numeric value >= 0."""
    parts = []
    for ck in checks:
        c, t = ck["column"], ck["type"]
        col = F.col(c)
        base = df.select(col.alias("v"))
        if t == "completeness":
            agg = base.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("v").isNull().cast("long")).alias("nf"),
            ).select(
                F.lit(f"completeness>={ck['min_ppm']}ppm").alias("check"),
                F.lit(c).alias("column"),
                "n_rows",
                F.coalesce("nf", F.lit(0)).alias("n_failed"),
                (
                    (F.col("n_rows") - F.coalesce("nf", F.lit(0)))
                    * F.lit(1000000)
                    >= F.lit(ck["min_ppm"]) * F.col("n_rows")
                ).alias("passed"),
            )
        elif t == "uniqueness":
            agg = base.filter(F.col("v").isNotNull()).agg(
                F.count(F.lit(1)).alias("nn"),
                F.countDistinct("v").alias("nd"),
            )
            agg = (
                base.agg(F.count(F.lit(1)).alias("n_rows"))
                .crossJoin(agg)
                .select(
                    F.lit("uniqueness").alias("check"),
                    F.lit(c).alias("column"),
                    "n_rows",
                    (F.col("nn") - F.col("nd")).alias("n_failed"),
                    (F.col("nn") == F.col("nd")).alias("passed"),
                )
            )
        elif t == "in_set":
            allowed = [F.lit(v) for v in ck["values"]]
            agg = base.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    (
                        F.col("v").isNotNull()
                        & ~F.col("v").isin(ck["values"])
                    ).cast("long")
                ).alias("nf"),
            ).select(
                F.lit("in_set").alias("check"),
                F.lit(c).alias("column"),
                "n_rows",
                F.coalesce("nf", F.lit(0)).alias("n_failed"),
                (F.coalesce("nf", F.lit(0)) == 0).alias("passed"),
            )
        elif t == "non_negative":
            agg = base.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    (F.col("v").isNotNull() & (F.col("v") < 0)).cast("long")
                ).alias("nf"),
            ).select(
                F.lit("non_negative").alias("check"),
                F.lit(c).alias("column"),
                "n_rows",
                F.coalesce("nf", F.lit(0)).alias("n_failed"),
                (F.coalesce("nf", F.lit(0)) == 0).alias("passed"),
            )
        else:  # pragma: no cover - config error
            raise ValueError(f"unknown check type: {t}")
        parts.append(agg)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def sql_table_checks(rel: str, checks: list[dict]) -> str:
    """DuckDB twin of :func:`table_checks`."""
    blocks = []
    for ck in checks:
        c, t = ck["column"], ck["type"]
        if t == "completeness":
            mp = ck["min_ppm"]
            blocks.append(
                f"SELECT 'completeness>={mp}ppm' AS check, '{c}' AS column, "
                "CAST(count(*) AS BIGINT) AS n_rows, "
                f"CAST(coalesce(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 "
                "END), 0) AS BIGINT) AS n_failed, "
                f"(count(*) - coalesce(sum(CASE WHEN {c} IS NULL THEN 1 "
                f"ELSE 0 END), 0)) * 1000000 >= {mp} * count(*) AS passed "
                f"FROM {rel}"
            )
        elif t == "uniqueness":
            blocks.append(
                f"SELECT 'uniqueness' AS check, '{c}' AS column, "
                f"(SELECT CAST(count(*) AS BIGINT) FROM {rel}) AS n_rows, "
                f"CAST(count(*) - count(DISTINCT {c}) AS BIGINT) AS n_failed, "
                f"count(*) = count(DISTINCT {c}) AS passed "
                f"FROM {rel} WHERE {c} IS NOT NULL"
            )
        elif t == "in_set":
            vals = ", ".join(
                "'" + str(v).replace("'", "''") + "'" for v in ck["values"]
            )
            blocks.append(
                f"SELECT 'in_set' AS check, '{c}' AS column, "
                "CAST(count(*) AS BIGINT) AS n_rows, "
                f"CAST(coalesce(sum(CASE WHEN {c} IS NOT NULL AND "
                f"CAST({c} AS VARCHAR) NOT IN ({vals}) THEN 1 ELSE 0 END), 0) "
                "AS BIGINT) AS n_failed, "
                f"coalesce(sum(CASE WHEN {c} IS NOT NULL AND "
                f"CAST({c} AS VARCHAR) NOT IN ({vals}) THEN 1 ELSE 0 END), 0) "
                f"= 0 AS passed FROM {rel}"
            )
        elif t == "non_negative":
            blocks.append(
                f"SELECT 'non_negative' AS check, '{c}' AS column, "
                "CAST(count(*) AS BIGINT) AS n_rows, "
                f"CAST(coalesce(sum(CASE WHEN {c} IS NOT NULL AND {c} < 0 "
                "THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_failed, "
                f"coalesce(sum(CASE WHEN {c} IS NOT NULL AND {c} < 0 "
                "THEN 1 ELSE 0 END), 0) = 0 AS passed "
                f"FROM {rel}"
            )
        else:  # pragma: no cover
            raise ValueError(t)
    return " UNION ALL ".join(blocks)
