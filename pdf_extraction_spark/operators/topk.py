"""Similarity search + rerank (W4/W5, J3): cosine top-k over embeddings.

Cosine is computed with native higher-order functions (zip_with +
aggregate over doubles — JVM-side, no Python), top-k via
``orderBy().limit(k)`` which Spark plans as TakeOrderedAndProject (a
per-partition heap + driver merge: no full sort, no shuffle of the data,
scales linearly with input and constant memory per partition).

Rerank (W5) is the reference's weighted score
0.7·sim + 0.2·recency + 0.1·quality/10 with the recency CASE ladder
(simple_rag.py:68-102), parameterized by an explicit ``as_of`` (the
reference uses now(); deviation documented in SURVEY.md §4.4).
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.rerank import QUALITY_WEIGHT, RECENCY_WEIGHT, SIM_WEIGHT


def dot_col(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left fold over doubles (deterministic order → exact
    cross-engine reproducibility)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def complete_vec_pred(col: Column) -> Column:
    """True iff the vector is non-NULL and has no NULL component — the
    presence gate of the embedding operators. A NULL component voids
    the vector like a NULL vector: left alone, the numpy kernels read it
    as NaN while DuckDB's list_dot_product raises on it."""
    return col.isNotNull() & ~F.exists(col, lambda x: x.isNull())


def sql_complete_vec(vec_col: str) -> str:
    """DuckDB twin of :func:`complete_vec_pred`."""
    return f"({vec_col} IS NOT NULL AND len(list_filter({vec_col}, x -> x IS NULL)) = 0)"


def finite_vec_pred(col: Column) -> Column:
    """True iff the vector is non-NULL and every component is non-NULL
    and finite.

    Non-finite embeddings (NaN/±Inf from a broken upstream model shard
    — a real failure mode at corpus scale) are OUTSIDE the similarity
    universe, like NULLs: NaN poisons every norm/dot it touches, and
    the engines' NaN ordering rules differ (Spark sorts NaN above all
    values, DuckDB raises on NaN→int casts), so admitting them breaks
    cross-engine parity in operator-specific ways. A NULL component is
    tested explicitly: left to three-valued logic, Spark's ``exists``
    would yield NULL (row dropped) while DuckDB's ``list_bool_or``
    skips the NULL (row kept). The empty vector is vacuously finite
    (matches the SQL twin below)."""
    return col.isNotNull() & ~F.exists(
        col, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )


def sql_finite_vec(vec_col: str) -> str:
    """DuckDB twin of :func:`finite_vec_pred` (empty list → vacuously
    finite via the coalesce, matching Spark's exists-over-empty)."""
    return (
        f"({vec_col} IS NOT NULL AND NOT coalesce(list_bool_or(list_transform("
        f"{vec_col}, x -> x IS NULL OR isnan(x) OR NOT isfinite(x))), FALSE))"
    )


def cosine_col(a: Column, b: Column) -> Column:
    """cosine similarity; 0.0 when either norm is zero (simple_rag.py:63)."""
    na, nb = norm_col(a), norm_col(b)
    return F.when((na == 0.0) | (nb == 0.0), 0.0).otherwise(dot_col(a, b) / (na * nb))


def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 5,
    vec_col: str = "embedding",
    id_cols=("vec_id",),
    round_digits: int | None = 4,
) -> DataFrame:
    """P9 null filter → cosine vs a literal query vector → top-k.

    ``query_vec``: python list of floats (broadcast as a literal array —
    no join needed for a single query)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_col(F.col(vec_col), q)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(*id_cols, sim.alias("similarity"))
        .orderBy(F.desc("similarity"), *id_cols)
        .limit(k)
    )


def recency_weight_col(days_ago: Column) -> Column:
    """W5 bucket ladder: ≤90 → 1.0, ≤365 → 0.8, ≤730 → 0.6, else 0.4."""
    return (
        F.when(days_ago <= 90, 1.0)
        .when(days_ago <= 365, 0.8)
        .when(days_ago <= 730, 0.6)
        .otherwise(0.4)
    )


def weighted_score_col(sim: Column, date_col: Column, as_of: str, quality: Column = None) -> Column:
    """try_cast + null fall-through mirror the kernel's except-branch
    (simple_rag.py:100-102): an unparseable/missing date yields the bare
    similarity, and never throws under ANSI mode."""
    days = F.datediff(F.lit(as_of).cast("date"), date_col.try_cast("date"))
    qw = (F.coalesce(quality, F.lit(5.0)) / 10.0) if quality is not None else F.lit(0.5)
    weighted = (
        sim * SIM_WEIGHT
        + recency_weight_col(days) * RECENCY_WEIGHT
        + qw * QUALITY_WEIGHT
    )
    return F.when(days.isNull(), sim).otherwise(weighted)


def rerank_topk(
    scored: DataFrame,
    as_of: str,
    k: int = 5,
    sim_col: str = "similarity",
    date_col: str = "date",
    quality_col: str = "quality_score",
    id_cols=("vec_id",),
    round_digits: int | None = 4,
) -> DataFrame:
    """W5 rerank + top-k over a similarity-scored frame."""
    quality = F.col(quality_col) if quality_col in scored.columns else None
    ws = weighted_score_col(F.col(sim_col), F.col(date_col), as_of, quality)
    if round_digits is not None:
        ws = F.round(ws, round_digits)
    return (
        scored.withColumn("weighted_score", ws)
        .orderBy(F.desc("weighted_score"), *id_cols)
        .limit(k)
    )


def assemble_context(
    topk: DataFrame,
    content_col: str = "content",
    id_cols=("vec_id",),
    order_col: str = "weighted_score",
    sep: str = "\n\n---\n\n",
) -> DataFrame:
    """X2 context assembly: the top-k rows folded into ONE prompt-context
    string (the only engine-side piece of the reference's answer
    generation — the LLM call itself is presentation-layer, SURVEY
    §2.10). Returns a 1-row frame (n_contexts, context)."""
    # k rows: single partition + local sort guarantees collect_list order
    ordered = topk.coalesce(1).sortWithinPartitions(F.desc(order_col), *id_cols)
    return ordered.agg(
        F.count("*").alias("n_contexts"),
        F.concat_ws(sep, F.collect_list(content_col)).alias("context"),
    )


def sql_fold_cos(va: str, vb: str, round_digits: int = 4) -> str:
    """DuckDB twin of ``round(cosine_col(a, b), round_digits)`` between
    two vector expressions — identical left-fold accumulation order over
    doubles and the same zero-norm → 0.0 guard. The SINGLE source of the
    oracle-side cosine shape (sql_cosine, sql_embedding_lsh_neardups and
    sql_semantic_dedup all build on it) so a fold-order or guard fix
    lands everywhere at once."""
    dot = (
        f"list_aggregate(list_transform(list_zip({va}::DOUBLE[], {vb}::DOUBLE[]), "
        f"p -> p[1] * p[2]), 'sum')"
    )
    na = f"sqrt(list_aggregate(list_transform({va}::DOUBLE[], x -> x*x), 'sum'))"
    nb = f"sqrt(list_aggregate(list_transform({vb}::DOUBLE[], x -> x*x), 'sum'))"
    return (
        f"round(CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 "
        f"ELSE {dot} / ({na} * {nb}) END, {round_digits})"
    )


def sql_cosine(vec_expr: str, query_vec, round_digits: int = 4) -> str:
    """DuckDB oracle twin of cosine_topk's similarity expression —
    the shared fold against a literal query vector."""
    lit = "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in query_vec) + "]"
    return sql_fold_cos(vec_expr, lit, round_digits)
