"""Ranking fusion + ranking evaluation: RRF, nDCG@k, RBO, MMR.

The engine already owns two retrieval legs (BM25 lexical, embedding
cosine) and a gate-evaluation family (AUC / PR / Spearman /
calibration). This module adds the published operators that sit
BETWEEN them in a production hybrid-retrieval or data-curation stack:

- ``rrf_fuse`` — Reciprocal Rank Fusion (Cormack, Clarke & Buettcher,
  SIGIR 2009): combine any number of rankings by Σ 1/(k0 + rank).
- ``ndcg_at_k`` — normalized Discounted Cumulative Gain (Järvelin &
  Kekäläinen, TOIS 2002): grade a score column's ranking against an
  integer gain column.
- ``rbo_overlap`` — Rank-Biased Overlap (Webber, Moffat & Zobel, TOIS
  2010), truncated prefix form: top-weighted agreement between two
  rankings.
- ``mmr_topk`` — Maximal Marginal Relevance (Carbonell & Goldstein,
  SIGIR 1998): diversity-aware top-k selection over embeddings.

Scale shape (100 TB):
- fusion/eval operators consume BOUNDED ranking lists (top-k/top-depth
  artifacts produced by TakeOrderedAndProject legs) — every join,
  window and fold below runs over ≤ depth · n_lists rows regardless of
  corpus size; the only corpus-scale work is the upstream retrieval
  legs, which keep their own pinned plan shapes;
- ``ndcg_at_k`` extracts its two prefixes with ``orderBy().limit(k)``
  (per-partition heaps, no global sort, no corpus-sized window);
- ``mmr_topk`` runs over a bounded candidate pool; the selected set is
  attached per round via a broadcast of ONE aggregated row (the bm25
  corpus-stats device), never a corpus-side cartesian.

Cross-engine determinism:
- RRF and RBO scores are exact int64 fixed point: RRF contributions
  are ``10^9 DIV (k0 + rank)`` (floor division — associative integer
  sums, bit-identical under any partitioning or cluster size); RBO
  per-doc contributions are driver-precomputed ppb literals indexed by
  the doc's overlap-entry position, so the corpus-side sum is again a
  plain integer sum.
- nDCG discounts ``1/log2(pos+1)`` are driver-precomputed double
  literals inlined IDENTICALLY into both engines; the DCG fold runs in
  position order on both sides (array_sort + aggregate vs
  list_reduce(list(... ORDER BY pos))), and the single dcg/idcg
  division is floored to ppm.
- MMR rounds every pairwise cosine to 6 dp (the shared fold-order
  device from operators.topk) before the max, so the argmax ordering
  is identical cross-engine.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .topk import (
    complete_vec_pred,
    cosine_col,
    query_cosine,
    sql_complete_vec,
    sql_cosine,
    sql_fold_cos,
)

RRF_SCALE = 1_000_000_000  # ppb fixed point for rank reciprocals
RBO_SCALE = 1_000_000_000
NDCG_SCALE = 1_000_000  # ppm for the final dcg/idcg ratio


# --------------------------------------------------------------------------
# rank derivation over bounded top-k frames
# --------------------------------------------------------------------------

def rank_from_topk(topk: DataFrame, score_col: str, id_col: str) -> DataFrame:
    """(id, rank) from a bounded top-k frame: rank 1.. by (score desc,
    id asc).

    The global window is safe here BY CONTRACT: the input is an
    already-limited ranking artifact (≤ k rows), not a corpus — the
    corpus-scale ranking work happened in the TakeOrderedAndProject
    leg that produced it.
    """
    w = Window.orderBy(F.desc(score_col), F.col(id_col))
    return topk.select(
        F.col(id_col).alias("doc_id"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def sql_rank_from_topk(topk_sql: str, score_col: str, id_col: str) -> str:
    """DuckDB twin of :func:`rank_from_topk`."""
    return (
        f"SELECT {id_col} AS doc_id, "
        f"CAST(row_number() OVER (ORDER BY {score_col} DESC, {id_col}) AS BIGINT) AS rank "
        f"FROM ({topk_sql})"
    )


# --------------------------------------------------------------------------
# Reciprocal Rank Fusion (Cormack et al. 2009)
# --------------------------------------------------------------------------

def rrf_fuse(
    rankings: Sequence[DataFrame],
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Fuse (doc_id, rank) lists by RRF: score(d) = Σ_lists 1/(k0+rank).

    Scores are exact int64 ppb (``10^9 DIV (k0+rank)``) so the fused
    ordering is bit-identical on any engine, partitioning or cluster
    size. Returns (doc_id, n_lists, best_rank, rrf_ppb) — top ``k`` by
    (rrf_ppb desc, doc_id).
    """
    if not rankings:
        raise ValueError("need at least one ranking")
    u = rankings[0]
    for r in rankings[1:]:
        u = u.unionByName(r)
    contrib = F.expr(f"{RRF_SCALE} DIV ({k0} + rank)")
    return (
        u.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lists"),
            F.min("rank").alias("best_rank"),
            F.sum(contrib).alias("rrf_ppb"),
        )
        .orderBy(F.desc("rrf_ppb"), "doc_id")
        .limit(k)
    )


def sql_rrf_fuse(ranked_sqls: Sequence[str], k0: int = 60, k: int = 10) -> str:
    """DuckDB twin of :func:`rrf_fuse`; each input SQL yields
    (doc_id, rank)."""
    union = " UNION ALL ".join(f"SELECT * FROM ({s})" for s in ranked_sqls)
    return f"""
SELECT doc_id,
       count(*) AS n_lists,
       min(rank) AS best_rank,
       CAST(sum({RRF_SCALE} // ({k0} + rank)) AS BIGINT) AS rrf_ppb
FROM ({union})
GROUP BY doc_id
ORDER BY rrf_ppb DESC, doc_id
LIMIT {k}
"""


# --------------------------------------------------------------------------
# nDCG@k (Järvelin & Kekäläinen 2002)
# --------------------------------------------------------------------------

def _discounts(k: int) -> list[float]:
    """1/log2(pos+1) for pos 1..k — computed ONCE driver-side and
    inlined as identical double literals into both engines (no runtime
    log whose last-ulp could differ)."""
    return [1.0 / math.log2(pos + 1) for pos in range(1, k + 1)]


def _dcg_fold(prefix: DataFrame, k: int) -> DataFrame:
    """position-ordered Σ gain·discount over a ≤k-row prefix frame with
    columns (pos, gain) → one row (dcg double)."""
    disc = F.array(*[F.lit(w) for w in _discounts(k)])
    term = F.col("gain").cast("double") * F.element_at(disc, F.col("pos").cast("int"))
    return prefix.select(
        F.struct(F.col("pos"), term.alias("t")).alias("pt")
    ).agg(
        F.aggregate(
            F.array_sort(F.collect_list("pt")),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("dcg")
    )


def ndcg_at_k(
    df: DataFrame,
    score_col: str,
    gain_col: str,
    k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """nDCG@k of ranking by ``score_col`` (desc, id tiebreak) against
    integer relevance ``gain_col``.

    Both the actual and the ideal prefix come from
    ``orderBy().limit(k)`` (TakeOrderedAndProject — no corpus-sized
    window); positions are assigned by a window over the ≤k-row
    prefix. Returns one row (k, dcg_ppm, idcg_ppm, ndcg_ppm) — ppm by
    floor, 0 when idcg is 0.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(score_col).alias("score"),
        F.col(gain_col).cast("long").alias("gain"),
    )

    def prefix(order_col: str) -> DataFrame:
        top = base.orderBy(F.desc(order_col), "doc_id").limit(k)
        w = Window.orderBy(F.desc(order_col), F.col("doc_id"))
        return top.select(
            F.row_number().over(w).cast("long").alias("pos"), "gain"
        )

    dcg = _dcg_fold(prefix("score"), k).withColumnRenamed("dcg", "dcg_act")
    idcg = _dcg_fold(prefix("gain"), k).withColumnRenamed("dcg", "dcg_ideal")
    j = dcg.crossJoin(F.broadcast(idcg))  # two 1-row frames
    return j.select(
        F.lit(k).cast("long").alias("k"),
        F.floor(F.col("dcg_act") * NDCG_SCALE).cast("long").alias("dcg_ppm"),
        F.floor(F.col("dcg_ideal") * NDCG_SCALE).cast("long").alias("idcg_ppm"),
        F.when(F.col("dcg_ideal") == 0.0, F.lit(0))
        .otherwise(F.floor(F.col("dcg_act") / F.col("dcg_ideal") * NDCG_SCALE))
        .cast("long")
        .alias("ndcg_ppm"),
    )


def sql_ndcg_at_k(
    base_sql: str,
    k: int = 20,
) -> str:
    """DuckDB twin of :func:`ndcg_at_k`; ``base_sql`` yields
    (doc_id, score, gain)."""
    disc = "[" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in _discounts(k)) + "]"

    def prefix(order_col: str) -> str:
        return (
            f"SELECT CAST(row_number() OVER (ORDER BY {order_col} DESC, doc_id) AS BIGINT) AS pos, gain "
            f"FROM (SELECT * FROM ({base_sql}) ORDER BY {order_col} DESC, doc_id LIMIT {k})"
        )

    def fold(src: str) -> str:
        return (
            "SELECT list_reduce(list_prepend(0.0, "
            f"list(CAST(gain AS DOUBLE) * {disc}[CAST(pos AS INT)] ORDER BY pos)), "
            f"(acc, x) -> acc + x) AS dcg FROM ({src})"
        )

    return f"""
WITH act AS ({fold(prefix('score'))}),
     ideal AS ({fold(prefix('gain'))})
SELECT CAST({k} AS BIGINT) AS k,
       CAST(floor(act.dcg * {NDCG_SCALE}) AS BIGINT) AS dcg_ppm,
       CAST(floor(ideal.dcg * {NDCG_SCALE}) AS BIGINT) AS idcg_ppm,
       CAST(CASE WHEN ideal.dcg = 0.0 THEN 0
            ELSE floor(act.dcg / ideal.dcg * {NDCG_SCALE}) END AS BIGINT) AS ndcg_ppm
FROM act, ideal
"""


# --------------------------------------------------------------------------
# Rank-Biased Overlap (Webber et al. 2010), truncated prefix form
# --------------------------------------------------------------------------

def _rbo_suffix_ppb(p: float, depth: int) -> list[int]:
    """S[m] = Σ_{i=m..depth} (1-p)·p^(i-1)/i quantized to ppb — the
    total weight a joint doc entering the overlap at position m
    contributes to the truncated RBO sum. Driver-precomputed so the
    corpus-side arithmetic is a plain integer sum."""
    w = [(1.0 - p) * p ** (i - 1) / i for i in range(1, depth + 1)]
    out = []
    acc = 0.0
    for i in range(depth - 1, -1, -1):
        acc += w[i]
        out.append(acc)
    out.reverse()
    return [int(round(s * RBO_SCALE)) for s in out]


def rbo_overlap(
    a: DataFrame,
    b: DataFrame,
    p: float = 0.9,
    depth: int = 50,
) -> DataFrame:
    """Truncated RBO (the depth-``depth`` prefix of Webber eq. 4's
    series) between two (doc_id, rank) lists.

    A doc present in both prefixes enters the overlap at position
    m = max(rank_a, rank_b) and contributes the literal suffix weight
    S[m]; the result is Σ S[m] over the joined docs — one bounded join
    plus an exact integer sum. Returns one row
    (depth, n_joint, rbo_ppb).
    """
    suffix = F.array(*[F.lit(s) for s in _rbo_suffix_ppb(p, depth)])
    j = (
        a.filter(F.col("rank") <= depth)
        .join(
            b.filter(F.col("rank") <= depth).withColumnRenamed("rank", "rank_b"),
            "doc_id",
        )
        .select(F.greatest("rank", "rank_b").alias("m"))
    )
    return j.agg(
        F.lit(depth).cast("long").alias("depth"),
        F.count("*").alias("n_joint"),
        F.coalesce(
            F.sum(F.element_at(suffix, F.col("m").cast("int"))), F.lit(0)
        ).alias("rbo_ppb"),
    )


def sql_rbo_overlap(
    a_sql: str,
    b_sql: str,
    p: float = 0.9,
    depth: int = 50,
) -> str:
    """DuckDB twin of :func:`rbo_overlap`."""
    suffix = "[" + ", ".join(str(s) for s in _rbo_suffix_ppb(p, depth)) + "]"
    return f"""
WITH a AS (SELECT * FROM ({a_sql}) WHERE rank <= {depth}),
     b AS (SELECT doc_id, rank AS rank_b FROM ({b_sql}) WHERE rank <= {depth}),
     j AS (SELECT greatest(a.rank, b.rank_b) AS m FROM a JOIN b USING (doc_id))
SELECT CAST({depth} AS BIGINT) AS depth,
       count(*) AS n_joint,
       CAST(coalesce(sum({suffix}[CAST(m AS INT)]), 0) AS BIGINT) AS rbo_ppb
FROM j
"""


# --------------------------------------------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998)
# --------------------------------------------------------------------------

def mmr_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    lam: float = 0.7,
    k: int = 5,
    pool: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Diversity-aware top-k: greedily select
    argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) over a bounded
    relevance pool.

    The pool is the cosine top-``pool`` (TakeOrderedAndProject leg,
    localCheckpointed so the k unrolled rounds re-read bounded rows,
    not the corpus). Each round anti-joins the selected set out of the
    pool and attaches ALL selected vectors via a broadcast of one
    aggregated row (collect_list over ≤k rows — the bm25 corpus-stats
    crossJoin device), takes max of the 6-dp-rounded pairwise cosines,
    and picks the argmax by orderBy().limit(1). Work per round is
    O(pool·k); plan size is linear in k via the per-round checkpoint.

    Returns (rank, vec_id, rel, mmr); round 1's mmr is λ·rel (empty
    selected set → max-sim term 0), matching the twin.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    pool_df = (
        embeddings.filter(complete_vec_pred(F.col(vec_col)))
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            F.round(query_cosine(vec_col, query_vec), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vid")
        .limit(pool)
        .localCheckpoint()
    )
    om = 1.0 - lam
    picks: list[DataFrame] = []
    for r in range(1, k + 1):
        if not picks:
            scored = pool_df.select(
                "vid",
                "v",
                "rel",
                F.round(F.lit(lam) * F.col("rel") - F.lit(om) * F.lit(0.0), 6).alias(
                    "mmr"
                ),
            )
        else:
            sel = picks[0]
            for s in picks[1:]:
                sel = sel.unionByName(s)
            sel_row = sel.agg(
                F.collect_list(F.struct(F.col("vid").alias("svid"), F.col("v").alias("sv"))).alias("sels")
            )
            cand = pool_df.join(
                sel.select(F.col("vid").alias("svid")),
                F.col("vid") == F.col("svid"),
                "left_anti",
            )
            ms = F.array_max(
                F.transform(
                    F.col("sels"), lambda s: F.round(cosine_col(F.col("v"), s["sv"]), 6)
                )
            )
            scored = cand.crossJoin(F.broadcast(sel_row)).select(
                "vid",
                "v",
                "rel",
                F.round(F.lit(lam) * F.col("rel") - F.lit(om) * ms, 6).alias("mmr"),
            )
        pick = (
            scored.orderBy(F.desc("mmr"), "vid").limit(1).localCheckpoint()
        )
        picks.append(pick)
    out = None
    for r, pick in enumerate(picks, start=1):
        row = pick.select(
            F.lit(r).cast("long").alias("rank"),
            F.col("vid").alias("vec_id"),
            "rel",
            "mmr",
        )
        out = row if out is None else out.unionByName(row)
    return out


def sql_mmr_topk(
    query_vec: Sequence[float],
    lam: float = 0.7,
    k: int = 5,
    pool: int = 16,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`mmr_topk` — the same greedy recursion
    unrolled one CTE pair per round, pairwise cosine via the shared
    fold device rounded to 6 dp before the max."""
    om = 1.0 - lam
    rel = sql_cosine(vec_col, query_vec, 6)
    parts = [
        f"base AS (SELECT {id_col} AS vid, {vec_col} AS v, {rel} AS rel "
        f"FROM {table} WHERE {sql_complete_vec(vec_col)} "
        f"ORDER BY rel DESC, vid LIMIT {pool})",
        f"s1 AS (SELECT vid, v, rel, round({lam!r}*rel - {om!r}*0.0, 6) AS mmr "
        "FROM base ORDER BY mmr DESC, vid LIMIT 1)",
        "sel1 AS (SELECT vid, v FROM s1)",
    ]
    pair_cos = sql_fold_cos("c.v", "s.v", 6)
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS (SELECT vid, v, rel, "
            f"round({lam!r}*rel - {om!r}*ms, 6) AS mmr FROM ("
            f"SELECT c.vid, c.v, c.rel, "
            f"(SELECT max({pair_cos}) FROM sel{r-1} s) AS ms "
            f"FROM base c WHERE c.vid NOT IN (SELECT vid FROM sel{r-1})"
            f") ORDER BY mmr DESC, vid LIMIT 1)"
        )
        parts.append(
            f"sel{r} AS (SELECT vid, v FROM sel{r-1} UNION ALL SELECT vid, v FROM s{r})"
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, vid AS vec_id, rel, mmr FROM s{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


# --------------------------------------------------------------------------
# Average Precision @ k (the MAP primitive; TREC's classic ranking
# metric — Buckley & Voorhees 2000 lineage)
# --------------------------------------------------------------------------
#
# AP@k = (1/min(R, k)) · Σ_{i ≤ k, rel_i} P@i, with P@i = hits@i / i.
# The missing member of the gate-eval family beside AUC (threshold-
# free), nDCG (graded), RBO (rank agreement): AP is what TREC-style
# binary-relevance retrieval is scored with.
#
# Exact-integer convention (documented op order): term_i = hits@i·10⁶
# DIV i summed over relevant positions, ap_ppm = Σ DIV min(R, k) —
# floor at each step, all int64, bit-identical cross-engine. R counts
# relevant docs in the WHOLE set (gain > 0), not the prefix.
#
# Shape: one TakeOrderedAndProject prefix + a ≤k-row window + one
# scalar 1-row R frame. Nothing corpus-sized beyond the heap scan.


def avg_precision_at_k(
    df: DataFrame,
    score_col: str,
    gain_col: str,
    k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """One row (k, n_rel, n_rel_at_k, ap_ppm): average precision of
    ranking by ``score_col`` (desc, id tiebreak) against binary
    relevance ``gain_col`` > 0. ap_ppm = 0 when no relevant docs."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(score_col).alias("score"),
        (F.col(gain_col) > 0).cast("long").alias("rel"),
    )
    r_tot = base.agg(F.sum("rel").alias("n_rel"))
    top = base.orderBy(F.desc("score"), "doc_id").limit(k)
    w = Window.orderBy(F.desc("score"), F.col("doc_id"))
    pre = top.select(
        F.row_number().over(w).cast("long").alias("pos"),
        "rel",
    ).withColumn(
        "hits",
        F.sum("rel").over(
            Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    terms = pre.filter(F.col("rel") == 1).select(
        F.expr("hits * 1000000L DIV pos").alias("t")
    )
    agg = terms.agg(
        F.coalesce(F.sum("t"), F.lit(0)).alias("t_sum"),
        F.count("*").alias("n_rel_at_k"),
    )
    return agg.crossJoin(F.broadcast(r_tot)).select(
        F.lit(k).cast("long").alias("k"),
        F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
        "n_rel_at_k",
        F.expr(
            f"CASE WHEN coalesce(n_rel, 0) > 0 THEN "
            f"t_sum DIV least(n_rel, CAST({k} AS BIGINT)) ELSE 0 END"
        ).alias("ap_ppm"),
    )


def sql_avg_precision_at_k(base_sql: str, k: int = 20) -> str:
    """DuckDB twin of :func:`avg_precision_at_k`; ``base_sql`` yields
    (doc_id, score, gain)."""
    return f"""
WITH base AS (SELECT doc_id, score,
                     CASE WHEN gain > 0 THEN 1 ELSE 0 END AS rel
              FROM ({base_sql})),
rt AS (SELECT CAST(coalesce(sum(rel), 0) AS BIGINT) AS n_rel FROM base),
pre AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS pos, rel
        FROM (SELECT * FROM base ORDER BY score DESC, doc_id LIMIT {k})),
h AS (SELECT pos, rel, CAST(sum(rel) OVER (ORDER BY pos
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hits FROM pre),
t AS (SELECT CAST(coalesce(sum(hits * 1000000 // pos), 0) AS BIGINT) AS t_sum,
             CAST(count(*) AS BIGINT) AS n_rel_at_k
      FROM h WHERE rel = 1)
SELECT CAST({k} AS BIGINT) AS k, rt.n_rel, t.n_rel_at_k,
       CAST(CASE WHEN rt.n_rel > 0
            THEN t.t_sum // least(rt.n_rel, CAST({k} AS BIGINT))
            ELSE 0 END AS BIGINT) AS ap_ppm
FROM t, rt
"""


# --------------------------------------------------------------------------
# Cohen's kappa (Cohen 1960) — chance-corrected gate agreement
# --------------------------------------------------------------------------
#
# κ = (p_o − p_e) / (1 − p_e) over two binary judges: the standard QA
# check that two quality gates agree beyond what their base rates
# force. All counts exact int64; κ is ONE double expression over them
# (the assortativity device):
#   κ = (n·(n11+n00) − E) / (n² − E),  E = na·nb + (n−na)·(n−nb)
# NULL when the denominator is 0 (a constant judge).


def cohen_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """One row (n, n_agree, a_pos, b_pos, kappa) for two boolean/int
    judge columns (NULL judgments dropped)."""
    base = df.select(
        F.col(a_col).cast("boolean").alias("a"),
        F.col(b_col).cast("boolean").alias("b"),
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    agg = base.agg(
        F.count("*").alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("n_agree"),
        F.sum(F.col("a").cast("long")).alias("a_pos"),
        F.sum(F.col("b").cast("long")).alias("b_pos"),
    )
    e = (
        F.col("a_pos").cast("double") * F.col("b_pos").cast("double")
        + (F.col("n") - F.col("a_pos")).cast("double")
        * (F.col("n") - F.col("b_pos")).cast("double")
    )
    num = F.col("n").cast("double") * F.col("n_agree").cast("double") - e
    den = F.col("n").cast("double") * F.col("n").cast("double") - e
    return agg.select(
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("n_agree", F.lit(0)).alias("n_agree"),
        F.coalesce("a_pos", F.lit(0)).alias("a_pos"),
        F.coalesce("b_pos", F.lit(0)).alias("b_pos"),
        F.when(den != F.lit(0.0), num / den).alias("kappa"),
    )


def sql_cohen_kappa(base_sql: str) -> str:
    """DuckDB twin of :func:`cohen_kappa`; ``base_sql`` yields boolean
    columns (a, b)."""
    return f"""
WITH base AS (SELECT CAST(a AS BOOLEAN) AS a, CAST(b AS BOOLEAN) AS b
              FROM ({base_sql}) WHERE a IS NOT NULL AND b IS NOT NULL),
g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN a = b THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_agree,
             CAST(coalesce(sum(CASE WHEN a THEN 1 ELSE 0 END), 0) AS BIGINT) AS a_pos,
             CAST(coalesce(sum(CASE WHEN b THEN 1 ELSE 0 END), 0) AS BIGINT) AS b_pos
      FROM base)
SELECT n, n_agree, a_pos, b_pos,
       CASE WHEN CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
                 (CAST(a_pos AS DOUBLE) * CAST(b_pos AS DOUBLE) +
                  CAST(n - a_pos AS DOUBLE) * CAST(n - b_pos AS DOUBLE)) <> 0.0
            THEN (CAST(n AS DOUBLE) * CAST(n_agree AS DOUBLE) -
                  (CAST(a_pos AS DOUBLE) * CAST(b_pos AS DOUBLE) +
                   CAST(n - a_pos AS DOUBLE) * CAST(n - b_pos AS DOUBLE))) /
                 (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
                  (CAST(a_pos AS DOUBLE) * CAST(b_pos AS DOUBLE) +
                   CAST(n - a_pos AS DOUBLE) * CAST(n - b_pos AS DOUBLE)))
       END AS kappa
FROM g
"""


# ---------------------------------------------------------------------------
# McNemar's paired-gate test (McNemar 1947; Edwards 1948 continuity
# correction)
# ---------------------------------------------------------------------------
#
# The right significance test when two gates judge the SAME documents:
# only the discordant pairs carry information — b = docs gate A passes
# and B fails, c = the reverse — and chi2 = (b - c)^2 / (b + c) asks
# whether the two gates' pass RATES differ beyond noise (1 df;
# 3.841 at alpha = 0.05). Cohen's kappa beside it measures AGREEMENT;
# the two answer different questions and ship together in the
# gate-eval family. Everything is exact integer: counts, the squared
# difference, and the milli-scaled statistic by floor division — no
# float convention anywhere. The Edwards-corrected form
# (|b - c| - 1)^2 / (b + c) rides along (the textbook small-sample
# variant). NULL when b + c = 0 (no discordant pairs — the statistic
# is undefined and the gates are operationally identical).
#
# One map-side-combinable global aggregation; overflow needs
# (b - c)^2 * 1000 inside int64 — exact to ~10^7 discordant docs, far
# past any gate-eval sample (documented, the gate_auc bound class).


def gate_mcnemar(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """One row (n, n_b, n_c, chi2_milli, chi2_corr_milli) for two
    boolean/int gate columns over the same rows (NULL verdicts
    dropped): the discordant counts and McNemar's statistic in exact
    integer milli-units."""
    base = df.select(
        F.col(a_col).cast("boolean").alias("a"),
        F.col(b_col).cast("boolean").alias("b"),
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    agg = base.agg(
        F.count("*").alias("n"),
        F.sum((F.col("a") & ~F.col("b")).cast("long")).alias("n_b"),
        F.sum((~F.col("a") & F.col("b")).cast("long")).alias("n_c"),
    )
    return agg.select(
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        F.coalesce("n_c", F.lit(0)).alias("n_c"),
        F.when(
            F.col("n_b") + F.col("n_c") > 0,
            F.expr(
                "(n_b - n_c) * (n_b - n_c) * 1000L div (n_b + n_c)"
            ),
        ).alias("chi2_milli"),
        F.when(
            F.col("n_b") + F.col("n_c") > 0,
            F.expr(
                "greatest(abs(n_b - n_c) - 1L, 0L) "
                "* greatest(abs(n_b - n_c) - 1L, 0L) "
                "* 1000L div (n_b + n_c)"
            ),
        ).alias("chi2_corr_milli"),
    )


def sql_gate_mcnemar(base_sql: str) -> str:
    """DuckDB twin of :func:`gate_mcnemar`; ``base_sql`` yields boolean
    columns (a, b)."""
    return f"""
WITH base AS (SELECT CAST(a AS BOOLEAN) AS a, CAST(b AS BOOLEAN) AS b
              FROM ({base_sql}) WHERE a IS NOT NULL AND b IS NOT NULL),
g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
             CAST(coalesce(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_c
      FROM base)
SELECT n, n_b, n_c,
       CASE WHEN n_b + n_c > 0
            THEN CAST((n_b - n_c) * (n_b - n_c) * 1000 // (n_b + n_c) AS BIGINT) END AS chi2_milli,
       CASE WHEN n_b + n_c > 0
            THEN CAST(greatest(abs(n_b - n_c) - 1, 0)
                      * greatest(abs(n_b - n_c) - 1, 0) * 1000 // (n_b + n_c) AS BIGINT) END AS chi2_corr_milli
FROM g
"""
