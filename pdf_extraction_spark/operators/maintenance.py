"""Table-maintenance planning: small-file compaction and
budget-constrained mixture allocation.

Both operators plan over METADATA- or SOURCE-sized tables — the file
listing of a 100 TB / 512 MB-file corpus is ~200k rows and the source
dimension of a training mixture is tens of rows — so "one window over
everything" is a bounded-state operation here, not a corpus-sized
funnel (documented per operator below).

Compaction (the Iceberg ``rewrite_data_files`` binpack shape): a
10^12-doc table accretes small files from incremental commits; the
planner assigns files to target-sized output bins so a rewrite job can
run one task per bin. Mixture planning (the LLaMA/GPT-3-style sampling
table): given per-source token inventories, integer per-mille target
weights, and a token budget, compute per-source allocations with
WATER-FILLING — a capped source's unused share re-distributes to the
uncapped sources — then hand the resulting rates to the existing
``weighted_mix`` sampler. All arithmetic is exact int64 (budgets in
tokens, weights in per-mille, rates in parts-per-million), so both
planners are bit-identical across engines and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "compaction_plan",
    "sql_compaction_plan",
    "mixture_plan",
    "sql_mixture_plan",
    "temperature_mix",
    "sql_temperature_mix",
]


# ---------------------------------------------------------------------------
# Small-file compaction planning (Iceberg rewrite_data_files binpack shape)
# ---------------------------------------------------------------------------
#
# Deterministic NEXT-FIT by cumulative size in file-id order:
#   bin = (cumulative bytes BEFORE this file) div target_bytes
# Every bin holds ≥ 1 file; a bin's total exceeds target only by its
# last file's overflow (the streaming-shelf guarantee), and oversized
# files land alone in their own bin(s) of the sequence. The window runs
# over the FILE LISTING — metadata-sized by construction (~2·10^5 rows
# at 100 TB with 512 MB files), the one place a global window is the
# honest plan; partition by the table's partition key to bound it
# further on a real deployment (``part_col``).


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    file_col: str = "file_id",
    bytes_col: str = "bytes",
    part_col: str = None,
) -> DataFrame:
    """(file_id, bytes, bin, bin_files, bin_bytes): next-fit bin
    assignment in ``file_col`` order plus per-bin rollups. Bins with
    ``bin_files`` > 1 are the merge candidates; single-file bins at or
    above target are already well-sized and the rewrite skips them."""
    part = [part_col] if part_col else []
    w = Window.partitionBy(*part).orderBy(file_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    binned = files.select(
        *part,
        F.col(file_col).alias("file_id"),
        F.col(bytes_col).alias("bytes"),
        (
            F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
            / F.lit(target_bytes)
        ).cast("long").alias("bin"),
    )
    roll = Window.partitionBy(*part, "bin")
    return binned.select(
        *part,
        "file_id",
        "bytes",
        "bin",
        F.count("*").over(roll).alias("bin_files"),
        F.sum("bytes").over(roll).alias("bin_bytes"),
    )


def sql_compaction_plan(
    files_select: str,
    target_bytes: int,
    part_col: str = None,
) -> str:
    """DuckDB twin of :func:`compaction_plan` — same next-fit cumsum
    (integer ``//`` on non-negative values ≡ Spark's floor cast), same
    per-bin rollup windows."""
    p = f"{part_col}, " if part_col else ""
    pb = f"PARTITION BY {part_col}" if part_col else ""
    pbin = f"PARTITION BY {p[:-2]}, bin" if part_col else "PARTITION BY bin"
    return f"""
WITH f AS ({files_select}),
binned AS (
  SELECT {p}file_id, bytes,
         CAST(coalesce(sum(bytes) OVER ({pb + ' ' if pb else ''}ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {target_bytes} AS BIGINT) AS bin
  FROM f
)
SELECT {p}file_id, CAST(bytes AS BIGINT) AS bytes, bin,
       count(*) OVER ({pbin}) AS bin_files,
       CAST(sum(bytes) OVER ({pbin}) AS BIGINT) AS bin_bytes
FROM binned
"""


# ---------------------------------------------------------------------------
# Budget-constrained mixture allocation (water-filling)
# ---------------------------------------------------------------------------
#
# Inputs: per-source available tokens, integer PER-MILLE target weights
# (the published mixture tables — LLaMA's 67%/15%/... — are exactly
# this), a total token budget. Round: pool = budget − Σ(capped
# inventories); each still-uncapped source's candidate is
# pool · w_i div Σ(uncapped w); a candidate at or above the source's
# inventory CAPS the source at exactly its inventory and leaves the
# open set; everyone else holds the candidate. Every round either caps
# a new source or reproduces the previous state, so ``n_rounds`` =
# (#cap waves + 1) reaches the fixed point — 4 covers any realistic
# mixture table (raise it for adversarial cap cascades). Integer
# division throughout — conservative by < 1 token per source, never
# over budget.


def mixture_plan(
    docs: DataFrame,
    weights_pm: dict,
    budget_tokens: int,
    source_col: str = "source",
    tokens_col: str = "token_count",
    n_rounds: int = 4,
) -> DataFrame:
    """(source, avail_tokens, alloc_tokens, rate_ppm): water-filled
    token allocation per source. ``weights_pm`` maps source → integer
    per-mille weight; sources absent from the map get weight 0 (and
    alloc 0), sources in the map but absent from the corpus contribute
    nothing. ``rate_ppm`` = alloc·10^6 div avail is the sampling rate
    the ``weighted_mix`` sampler consumes."""
    wmap = F.create_map(
        *[F.lit(x) for kv in weights_pm.items() for x in kv]
    )
    avail = (
        docs.filter(F.col(source_col).isNotNull())
        .groupBy(F.col(source_col).alias("source"))
        .agg(F.sum(F.coalesce(F.col(tokens_col), F.lit(0))).alias("avail"))
        .select(
            "source",
            "avail",
            F.coalesce(wmap[F.col("source")], F.lit(0))
            .cast("long")
            .alias("w"),
        )
    )
    # the source table is tens of rows — the fixed-point loop runs as
    # n_rounds narrow recomputations over it, driver-free
    alloc = avail.select(
        "source", "avail", "w", F.lit(0).cast("long").alias("alloc"),
        F.lit(False).alias("capped"),
    )
    for _ in range(n_rounds):
        tot = alloc.agg(
            F.coalesce(
                F.sum(F.when(~F.col("capped"), F.col("w"))), F.lit(0)
            ).alias("w_open"),
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("alloc"))), F.lit(0)
            ).alias("spent_capped"),
        )
        cand = (
            "CASE WHEN w_open = 0 THEN 0L "
            f"ELSE ({budget_tokens}L - spent_capped) * w div w_open END"
        )
        alloc = (
            alloc.crossJoin(F.broadcast(tot))
            .select(
                "source",
                "avail",
                "w",
                F.expr(
                    "CASE WHEN capped THEN alloc "
                    f"WHEN {cand} >= avail THEN avail "
                    f"ELSE {cand} END"
                ).alias("alloc"),
                F.expr(f"capped OR {cand} >= avail").alias("capped"),
            )
        )
        alloc = alloc.localCheckpoint()  # read twice next round; plan doubles
    return alloc.select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.col("alloc").alias("alloc_tokens"),
        F.expr("CASE WHEN avail > 0 THEN alloc * 1000000 div avail "
               "ELSE 0 END").alias("rate_ppm"),
    ).orderBy("source")


def sql_mixture_plan(
    docs_select: str,
    weights_pm: dict,
    budget_tokens: int,
    n_rounds: int = 4,
) -> str:
    """DuckDB twin of :func:`mixture_plan` — the identical integer
    water-filling recursion unrolled one MATERIALIZED CTE per round
    over a ``(source, token_count)`` SELECT."""
    wcase = " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in weights_pm.items()
    )
    parts = [
        f"d AS MATERIALIZED ({docs_select})",
        "a0 AS MATERIALIZED (SELECT source, "
        "sum(coalesce(token_count, 0)) AS avail, "
        f"(CASE source {wcase} ELSE 0 END) AS w, "
        "CAST(0 AS BIGINT) AS alloc, FALSE AS capped "
        "FROM d WHERE source IS NOT NULL GROUP BY source)",
    ]
    for i in range(n_rounds):
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT "
            f"coalesce(sum(CASE WHEN NOT capped THEN w END), 0) AS w_open, "
            "coalesce(sum(CASE WHEN capped THEN alloc END), 0) "
            f"AS spent_capped FROM a{i})"
        )
        cand = (
            f"(CASE WHEN (SELECT w_open FROM t{i}) = 0 THEN 0 "
            f"ELSE ({budget_tokens} - (SELECT spent_capped FROM t{i})) "
            f"* w // (SELECT w_open FROM t{i}) END)"
        )
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT source, avail, w, "
            "CASE WHEN capped THEN alloc "
            f"WHEN {cand} >= avail THEN avail "
            f"ELSE {cand} END AS alloc, "
            f"capped OR {cand} >= avail AS capped "
            f"FROM a{i})"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + " SELECT source, CAST(avail AS BIGINT) AS avail_tokens, "
        "CAST(alloc AS BIGINT) AS alloc_tokens, "
        "CAST(CASE WHEN avail > 0 THEN alloc * 1000000 // avail ELSE 0 END "
        f"AS BIGINT) AS rate_ppm FROM a{n_rounds} ORDER BY source"
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture (XLM-style multilingual sampling table)
# ---------------------------------------------------------------------------
#
# The published low-resource upsampling recipe (Lample & Conneau 2019
# §3.1; also mBERT, mT5 §3.2): sample source i with probability
# q_i ∝ n_i^α, α < 1, so small sources are over-represented relative
# to their token share. α is restricted to 1/2^k (k = 0, 1, 2 → α =
# 1, 0.5, 0.25; the XLM paper's 0.5 is the k=1 case) because those
# exponents have an EXACT integer evaluation — w = floor(n^(1/2)) via
# integer sqrt, floor(n^(1/4)) = isqrt(isqrt(n)) — while any other α
# needs float pow(), whose cross-engine rounding has no convention to
# pin. Exactness is the contract: the whole table (weights, shares,
# allocations, rates) is bit-identical across engines, partitionings
# and cluster sizes.
#
# isqrt: the double-sqrt candidate c = floor(sqrt(n)) is within ±1 of
# the true floor for every int64 (IEEE sqrt is correctly rounded; the
# int64→double cast loses < 2^10 at the top of the range, which moves
# sqrt by ≪ 1), so one flat CASE choosing among {c−1, c, c+1} with
# DIVISION comparisons (n div s ≥ s ⟺ s² ≤ n — no s² term, so no
# int64 overflow near the 3,037,000,499 boundary) lands exactly.


def _isqrt_case(x: str, c: str, div: str) -> str:
    """Engine-shared CASE fragment: exact integer sqrt of ``x`` given
    the double-sqrt candidate column ``c`` (within ±1 of the truth).
    ``div`` is the engine's integer-division operator ('div' / '//')."""
    return (
        f"CASE WHEN {x} {div} ({c} + 1) >= ({c} + 1) THEN {c} + 1 "
        f"WHEN {c} > 0 AND {x} {div} greatest({c}, 1) >= {c} THEN {c} "
        f"ELSE greatest({c} - 1, 0) END"
    )


def temperature_mix(
    docs: DataFrame,
    budget_tokens: int,
    inv_temp_pow2: int = 1,
    source_col: str = "source",
    tokens_col: str = "token_count",
) -> DataFrame:
    """(source, avail_tokens, weight, share_pm, alloc_tokens, rate_ppm):
    temperature-scaled sampling table with α = 1/2^``inv_temp_pow2``.
    ``weight`` = floor(avail^α) exactly; ``share_pm`` = weight·1000 div
    Σweight; ``alloc_tokens`` = budget·weight div Σweight computed by
    the overflow-free split (budget div W)·w + ((budget mod W)·w) div W
    (exact while (budget mod W)·w < 2^63 — corpora to ~10^13 tokens per
    source across ~10^5 sources); ``rate_ppm`` = alloc·10^6 div avail
    MAY EXCEED 10^6 — that is the recipe working (a low-resource source
    sampled for multiple epochs); the ``weighted_mix`` sampler consumes
    min(rate, 10^6) per epoch and the quotient is the epoch count.

    NULL sources are dropped (unattributable rows can't join a mixture
    stratum — the :func:`mixture_plan` rule); NULL/negative token
    counts clamp to 0. Scale shape: ONE map-side-combinable groupBy
    bounded by the source dimension, a 1-row broadcast for Σweight —
    no window, no Python, no driver state."""
    if inv_temp_pow2 not in (0, 1, 2):
        raise ValueError("inv_temp_pow2 must be 0, 1 or 2 (alpha = 1/2^k)")
    avail = (
        docs.filter(F.col(source_col).isNotNull())
        .groupBy(F.col(source_col).alias("source"))
        .agg(
            F.sum(
                F.greatest(
                    F.coalesce(F.col(tokens_col).cast("long"), F.lit(0)),
                    F.lit(0),
                )
            ).alias("avail")
        )
    )
    w = avail.withColumn("weight", F.col("avail"))
    for _ in range(inv_temp_pow2):
        w = w.withColumn(
            "c", F.floor(F.sqrt(F.col("weight").cast("double"))).cast("long")
        ).withColumn(
            "weight", F.expr(_isqrt_case("weight", "c", "div")).cast("long")
        ).drop("c")
    tot = w.agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("w_tot"))
    alloc = (
        f"CASE WHEN w_tot = 0 THEN 0L ELSE "
        f"({budget_tokens}L div w_tot) * weight "
        f"+ (({budget_tokens}L % w_tot) * weight) div w_tot END"
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("avail").alias("avail_tokens"),
            "weight",
            F.expr(
                "CASE WHEN w_tot = 0 THEN 0L "
                "ELSE weight * 1000 div w_tot END"
            ).alias("share_pm"),
            F.expr(alloc).alias("alloc_tokens"),
            F.expr(
                f"CASE WHEN avail > 0 THEN ({alloc}) * 1000000 div avail "
                "ELSE 0L END"
            ).alias("rate_ppm"),
        )
        .orderBy("source")
    )


def sql_temperature_mix(
    docs_select: str, budget_tokens: int, inv_temp_pow2: int = 1
) -> str:
    """DuckDB twin of :func:`temperature_mix` — identical integer
    recursion, one CTE layer per isqrt application."""
    parts = [
        f"d AS ({docs_select})",
        "w0 AS (SELECT source, sum(greatest(coalesce("
        "CAST(token_count AS BIGINT), 0), 0)) AS avail, "
        "CAST(sum(greatest(coalesce(CAST(token_count AS BIGINT), 0), 0)) "
        "AS BIGINT) AS weight "
        "FROM d WHERE source IS NOT NULL GROUP BY source)",
    ]
    for i in range(inv_temp_pow2):
        parts.append(
            f"c{i} AS (SELECT source, avail, weight, "
            "CAST(floor(sqrt(CAST(weight AS DOUBLE))) AS BIGINT) AS c "
            f"FROM w{i})"
        )
        parts.append(
            f"w{i + 1} AS (SELECT source, avail, "
            f"CAST({_isqrt_case('weight', 'c', '//')} AS BIGINT) AS weight "
            f"FROM c{i})"
        )
    k = inv_temp_pow2
    parts.append(
        f"t AS (SELECT coalesce(sum(weight), 0) AS w_tot FROM w{k})"
    )
    alloc = (
        "CASE WHEN (SELECT w_tot FROM t) = 0 THEN 0 ELSE "
        f"({budget_tokens} // (SELECT w_tot FROM t)) * weight "
        f"+ (({budget_tokens} % (SELECT w_tot FROM t)) * weight) "
        "// (SELECT w_tot FROM t) END"
    )
    return (
        "WITH " + ", ".join(parts)
        + " SELECT source, CAST(avail AS BIGINT) AS avail_tokens, weight, "
        "CAST(CASE WHEN (SELECT w_tot FROM t) = 0 THEN 0 "
        "ELSE weight * 1000 // (SELECT w_tot FROM t) END AS BIGINT) AS share_pm, "
        f"CAST({alloc} AS BIGINT) AS alloc_tokens, "
        f"CAST(CASE WHEN avail > 0 THEN ({alloc}) * 1000000 // avail "
        f"ELSE 0 END AS BIGINT) AS rate_ppm FROM w{k} ORDER BY source"
    )
