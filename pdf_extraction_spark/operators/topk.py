"""Similarity search + rerank (W4/W5, J3): cosine top-k over embeddings.

Cosine is computed with native higher-order functions (zip_with +
aggregate over doubles — JVM-side, no Python), top-k via
``orderBy().limit(k)`` which Spark plans as TakeOrderedAndProject (a
per-partition heap + driver merge: no full sort, no shuffle of the data,
scales linearly with input and constant memory per partition).

Two shapes of the same cosine:

- :func:`cosine_col` compares column against column (dedup, similarity,
  coreset, MMR's selected set), built from Column calls.
- :func:`query_cosine` compares a column against a literal query vector
  and is the ONE builder of that shape (cosine_topk, rag_search, MMR's
  relevance pool, the driver's embed_rerank). It renders the whole
  similarity as one SQL expression — one ``F.expr``, so building a
  question costs a handful of Py4J calls instead of several hundred that
  grow with the dimension. ‖q‖ is folded on the driver with the engine's
  own left fold (``acc + x*x`` from 0.0, then sqrt): both sides use IEEE
  doubles without FMA and a correctly rounded square root, and the
  literal is written with ``repr``, which round-trips, so the similarity
  is bit-identical to ``cosine_col`` against the same vector as an array.

Rerank (W5) is the reference's weighted score
0.7·sim + 0.2·recency + 0.1·quality/10 with the recency CASE ladder
(simple_rag.py:68-102), parameterized by an explicit ``as_of`` (the
reference uses now(); deviation documented in SURVEY.md §4.4). It is one
SQL expression too, over column names or SQL expressions.
"""

import math

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


def sql_double(x) -> str:
    """One double as SQL text both engines read back exactly: ``repr``
    round-trips, and the string cast is correctly rounded in Spark and
    DuckDB, which both also read 'nan', 'inf' and '-inf'."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def spark_sql_string(s: str) -> str:
    """A Spark SQL string literal of ``s`` (backslash escapes, the
    parser's default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _spark_dot(a: str, b: str, finish: str = "") -> str:
    """SQL twin of :func:`dot_col` (same fold, same casts), with an
    optional finish function ``", n -> ..."`` applied to the sum."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x{finish})"
    )


def query_array_sql(query_vec) -> str:
    """Spark SQL ``array<double>`` literal of a non-empty query vector."""
    return f"array({', '.join(map(sql_double, query_vec))})"


def query_cosine(vec_col: str, query_vec) -> Column:
    """``cosine_col(F.col(vec_col), q)`` for a literal query vector ``q``
    as ONE SQL expression, with ‖q‖ folded on the driver (module
    docstring: exact). The row's norm is folded once: the guard and the
    quotient run in the fold's finish function. cosine_col's zero-norm
    guard makes every row 0.0 when ‖q‖ = 0, NULL vectors included, so
    that case is the constant; otherwise a NULL vector gives NULL in
    both forms."""
    q = [float(x) for x in query_vec]
    sq = 0.0
    for x in q:  # the engine's fold: left to right from 0.0
        sq = sq + x * x
    qn = math.sqrt(sq)
    if qn == 0.0:
        return F.expr("0.0D")
    v = f"`{vec_col}`"
    dot = _spark_dot(v, query_array_sql(q))
    guarded = f", n -> CASE WHEN sqrt(n) = 0.0D THEN 0.0D ELSE {dot} / (sqrt(n) * {sql_double(qn)}) END"
    return F.expr(_spark_dot(v, v, guarded))


def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 5,
    vec_col: str = "embedding",
    id_cols=("vec_id",),
    round_digits: int | None = 4,
) -> DataFrame:
    """P9 null filter → cosine vs a literal query vector → top-k.

    ``query_vec``: python list of floats (inlined as a literal array —
    no join needed for a single query)."""
    sim = query_cosine(vec_col, query_vec)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        embeddings.filter(f"`{vec_col}` IS NOT NULL")
        .select(*id_cols, sim.alias("similarity"))
        .orderBy(F.desc("similarity"), *id_cols)
        .limit(k)
    )


def _recency_sql(days_ago: str) -> str:
    return (
        f"CASE WHEN {days_ago} <= 90 THEN 1.0D WHEN {days_ago} <= 365 THEN 0.8D "
        f"WHEN {days_ago} <= 730 THEN 0.6D ELSE 0.4D END"
    )


def recency_weight_col(days_ago: str) -> Column:
    """W5 bucket ladder: ≤90 → 1.0, ≤365 → 0.8, ≤730 → 0.6, else 0.4.
    ``days_ago`` is a column name or SQL expression."""
    return F.expr(_recency_sql(days_ago))


def weighted_score_col(sim: str, date_col: str, as_of: str, quality: str | None = None) -> Column:
    """``sim``/``date_col``/``quality`` are column names or SQL
    expressions; the score is one SQL expression. try_cast + null
    fall-through mirror the kernel's except-branch (simple_rag.py:100-102):
    an unparseable/missing date yields the bare similarity, and never
    throws under ANSI mode."""
    days = f"datediff(CAST({spark_sql_string(as_of)} AS DATE), TRY_CAST({date_col} AS DATE))"
    qw = f"(coalesce({quality}, 5.0D) / 10.0D)" if quality is not None else "0.5D"
    weighted = (
        f"{sim} * {SIM_WEIGHT!r}D + {_recency_sql(days)} * {RECENCY_WEIGHT!r}D "
        f"+ {qw} * {QUALITY_WEIGHT!r}D"
    )
    return F.expr(f"CASE WHEN {days} IS NULL THEN {sim} ELSE {weighted} END")


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
    quality = f"`{quality_col}`" if quality_col in scored.columns else None
    ws = weighted_score_col(f"`{sim_col}`", f"`{date_col}`", as_of, quality)
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


def _sql_fold_sum(terms: str) -> str:
    """DuckDB twin of dot_col's ``aggregate(terms, 0.0, acc + x)``: a
    left fold from 0.0, so an empty list sums to 0.0 and a NULL term
    (a NULL component, or the padding list_zip adds when the lengths
    differ) makes the sum NULL. list_aggregate's 'sum' would skip NULLs
    and return NULL on an empty list."""
    return f"list_reduce(list_prepend(0.0::DOUBLE, {terms}), (acc, x) -> acc + x)"


def sql_fold_cos(va: str, vb: str, round_digits: int = 4) -> str:
    """DuckDB twin of ``round(cosine_col(a, b), round_digits)`` between
    two non-NULL vector expressions — identical left-fold accumulation
    order over doubles, the same NULL propagation and the same zero-norm
    → 0.0 guard. The SINGLE source of the oracle-side cosine shape
    (sql_cosine, sql_embedding_lsh_neardups and sql_semantic_dedup all
    build on it) so a fold-order or guard fix lands everywhere at once."""
    dot = _sql_fold_sum(f"list_transform(list_zip({va}::DOUBLE[], {vb}::DOUBLE[]), p -> p[1] * p[2])")
    na = f"sqrt({_sql_fold_sum(f'list_transform({va}::DOUBLE[], x -> x*x)')})"
    nb = f"sqrt({_sql_fold_sum(f'list_transform({vb}::DOUBLE[], x -> x*x)')})"
    return (
        f"round(CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 "
        f"ELSE {dot} / ({na} * {nb}) END, {round_digits})"
    )


def sql_query_vec(query_vec) -> str:
    """DuckDB list literal of a query vector, element by element the
    doubles :func:`query_cosine` inlines."""
    return "[" + ", ".join(map(sql_double, query_vec)) + "]"


def sql_cosine(vec_expr: str, query_vec, round_digits: int = 4) -> str:
    """DuckDB oracle twin of ``round(query_cosine(vec_expr, q))`` —
    the shared fold against a literal query vector."""
    return sql_fold_cos(vec_expr, sql_query_vec(query_vec), round_digits)
