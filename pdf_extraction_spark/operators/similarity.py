"""Approximate nearest-neighbor search over an embedding column.

- :func:`brute_force_topk` — exact cosine top-k (baseline; native HOF
  dot product, TakeOrderedAndProject).
- :func:`ivf_topk` — IVF-style scale path: k-means-lite centroids
  (deterministically seeded sample), every vector assigned to its
  nearest centroid partition; a query probes only ``n_probe`` cells.
  At 100 TB the assignment is a narrow map + the probe prunes ~
  (1 - n_probe/n_cells) of the scan; centroids are broadcast.
- batch variant :func:`brute_force_topk_batch` — many queries at once
  via a vectorized pandas UDF (numpy matmul over Arrow batches).
"""

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .topk import (
    complete_vec_pred,
    cosine_col,
    cosine_topk,
    query_array_sql,
    sql_complete_vec,
    sql_query_vec,
)

brute_force_topk = cosine_topk


def _np_normalize(m):
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def kmeans_lite(sample: np.ndarray, n_cells: int, iters: int = 5, seed: int = 42) -> np.ndarray:
    """Deterministic spherical Lloyd iterations — pure-numpy kernel shared
    by :func:`train_centroids` (over a distributed Spark sample) and the
    oracle fixture generator (over the full sorted table), so the
    fixed-centroid assignment step can be oracled exactly."""
    sample = _np_normalize(np.asarray(sample, dtype=np.float64))
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = _np_normalize(centroids)
    return centroids


def _matrixize(vec_lists) -> np.ndarray:
    """Collected sample rows → float64 matrix, dropping wrong-dimension
    rows (corrupt upstream writes) by majority length — a single ragged
    row would otherwise raise in ``np.array`` and kill training. Mirrors
    the executor-side ``apply_masked`` contract (bad rows excluded)."""
    lens = [len(v) for v in vec_lists if v is not None]
    if not lens:
        return np.zeros((0, 0))
    dim = max(set(lens), key=lens.count)
    return np.array(
        [v for v in vec_lists if v is not None and len(v) == dim],
        dtype=np.float64,
    )


def default_n_cells(total_count: int) -> int:
    """IVF rule of thumb: n_cells ∝ √N keeps (cells probed × vectors per
    cell) balanced at fixed n_probe. Clamped so tiny tables still get a
    few cells and huge tables don't blow up the broadcast model."""
    return max(4, min(int(math.isqrt(max(total_count, 1))), 65536))


def train_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = None,
    iters: int = 5,
    seed: int = 42,
    sample_size: int = 4096,
    total_count: int = None,
):
    """Centroids from a *distributed* Bernoulli sample (``df.sample``),
    not ``limit()`` — limit takes rows from the first partitions only,
    which at 100 TB means the model sees one shard of the keyspace.
    The sample (≤ ``sample_size`` rows) is the only data gathered to the
    driver; centroids are tiny model state.

    ``total_count`` may be passed from table metadata to skip the count
    job; ``n_cells`` defaults to the √N rule (:func:`default_n_cells`).
    Lloyd iterations run in :func:`kmeans_lite` (deterministic given
    seed + sample).

    Ceiling: the driver sample holds ≤ ``sample_size`` rows, so this
    path can achieve at most ``sample_size`` distinct cells. When
    ``n_cells > sample_size`` (the √N rule crosses 4,096 around
    N ≈ 1.7×10^7 vectors) training dispatches to
    :func:`train_centroids_distributed`, whose Lloyd iterations run on
    the EXECUTORS and whose driver footprint is the model itself."""
    nn = emb.select(vec_col).filter(F.col(vec_col).isNotNull())
    if total_count is None:
        total_count = nn.count()
    if total_count == 0:
        raise ValueError("train_centroids: no non-null vectors")
    if n_cells is None:
        n_cells = default_n_cells(total_count)
    if n_cells > sample_size:
        return train_centroids_distributed(
            emb, vec_col=vec_col, n_cells=n_cells, iters=iters, seed=seed,
            total_count=total_count,
        )
    frac = min(1.0, (sample_size * 1.25) / total_count)
    sampled = nn if frac >= 1.0 else nn.sample(False, frac, seed)
    # collect the WHOLE Bernoulli sample (expected 1.25×sample_size rows,
    # tightly concentrated) and trim with a seeded driver-side choice —
    # sampled.limit() would read only the FIRST partitions of the sample,
    # i.e. the head of the keyspace on a sorted/partitioned table
    sample = _matrixize(sampled.toPandas()[vec_col].tolist())
    if len(sample) > sample_size:
        rng = np.random.default_rng(seed)
        sample = sample[rng.choice(len(sample), size=sample_size, replace=False)]
    return kmeans_lite(sample, n_cells, iters=iters, seed=seed)


def train_centroids_distributed(
    emb: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = None,
    iters: int = 5,
    seed: int = 42,
    total_count: int = None,
):
    """Distributed spherical Lloyd for ``n_cells`` beyond the driver
    sample ceiling (IVF at 10^9+ vectors wants √N ≈ 10^4–10^5 cells).

    Shape per iteration: assignment is the :func:`assign_cells`
    pandas-UDF matmul (one matmul per Arrow batch, centroids shipped in
    the task closure — the same broadcast cost ``ivf_topk`` itself
    pays); the centroid update is a NATIVE per-dimension ``SUM``
    aggregation over L2-normalized vectors (``groupBy(cell).agg(count,
    sum(v[0]), …, sum(v[d-1]))``) — one shuffle of n_cells·(dim+1)
    partial sums per executor, map-side combined. The only data that
    ever reaches the driver is the n_cells×dim update matrix, i.e. the
    model itself, which any IVF design must hold to broadcast.

    Initialization takes ``n_cells`` rows from a seeded distributed
    Bernoulli sample (deterministic for a fixed input layout). Empty
    cells keep their previous centroid; zero vectors contribute their
    raw components (norm clamped to 1), mirroring :func:`kmeans_lite`'s
    rules so small-scale behavior matches the driver path."""
    nn = emb.select(vec_col).filter(F.col(vec_col).isNotNull())
    if total_count is None:
        total_count = nn.count()
    if total_count == 0:
        raise ValueError("train_centroids_distributed: no non-null vectors")
    if n_cells is None:
        n_cells = default_n_cells(total_count)
    n_cells = min(n_cells, total_count)

    # whole-sample collect + seeded trim for the same reason as in
    # train_centroids: limit() reads the head of the keyspace only. On
    # an undershoot (rare — the sample concentrates around 1.25×n_cells
    # + 64), retry with a doubled fraction rather than falling back to
    # limit(), which would seed every centroid from the first shard.
    frac = min(1.0, (n_cells * 1.25 + 64) / total_count)
    init = np.zeros((0, 0))
    for attempt in range(3):
        sampled = nn if frac >= 1.0 else nn.sample(False, frac, seed + attempt)
        init = _matrixize(sampled.toPandas()[vec_col].tolist())
        if len(init) >= n_cells or frac >= 1.0:
            break
        frac = min(1.0, frac * 2)
    n_cells = min(n_cells, len(init))
    if len(init) > n_cells:
        rng = np.random.default_rng(seed)
        init = init[rng.choice(len(init), size=n_cells, replace=False)]
    centroids = _np_normalize(init)
    dim = centroids.shape[1]

    # L2-normalize natively (zero norm clamps to 1, kmeans_lite's rule)
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x))
    unit = F.transform(F.col(vec_col), lambda x: x / F.when(norm == 0.0, 1.0).otherwise(norm))
    unit_df = nn.select(unit.alias("u"))

    for _ in range(iters):
        assigned = assign_cells(unit_df, centroids, vec_col="u")
        stats = (
            # wrong-dim vectors carry cell=NULL (assign_cells contract);
            # a NULL group must not reach the update loop — numpy would
            # treat nxt[None] as newaxis indexing and overwrite EVERY
            # centroid with that group's mean
            assigned.filter(F.col("cell").isNotNull())
            .groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("u")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        nxt = centroids.copy()
        for row in stats:
            c = row["cell"]
            if c is not None and row["n"]:
                nxt[c] = np.array([row[f"s{i}"] for i in range(dim)]) / row["n"]
        centroids = _np_normalize(nxt)
    return centroids


def assign_cells(emb: DataFrame, centroids, vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid cell id per vector — vectorized pandas UDF
    (one matmul per Arrow batch)."""
    cents = _np_normalize(np.asarray(centroids, dtype=np.float64))
    bc = cents  # captured in closure, shipped once per task

    dim = bc.shape[1]

    @F.pandas_udf(T.IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        from .batchutil import apply_masked

        # wrong-dim vectors get a null cell (excluded by any cell filter
        # downstream); the good rows assign in ONE matmul per batch
        res = apply_masked(
            vecs.tolist(),
            dim,
            lambda m: np.argmax(_np_normalize(m) @ bc.T, axis=1)
            .astype(np.int32)
            .tolist(),
        )
        return pd.Series(res, dtype="Int32")

    return emb.filter(complete_vec_pred(F.col(vec_col))).withColumn(
        "cell", cell_udf(F.col(vec_col))
    )


def ivf_topk(
    emb_with_cells: DataFrame,
    centroids,
    query_vec,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_cols=("vec_id",),
) -> DataFrame:
    """Probe the n_probe nearest cells only, exact cosine within."""
    cents = _np_normalize(np.asarray(centroids, dtype=np.float64))
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    probe = np.argsort(-(cents @ qn))[:n_probe].tolist()
    return cosine_topk(
        emb_with_cells.filter(F.col("cell").isin(probe)),
        query_vec,
        k=k,
        vec_col=vec_col,
        id_cols=id_cols,
    )


def brute_force_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "q_vec",
    q_id_col: str = "q_id",
    fan_in: int = 64,
) -> DataFrame:
    """Top-k per query for a batch of queries: broadcast the query matrix,
    score each embedding batch against all queries in one numpy matmul,
    then rank per query with a **tree of bounded top-k reductions**
    (the hostcap.py shape) instead of a global window.

    A ``row_number() OVER (PARTITION BY q_id)`` window shuffles all
    N·Q scored rows and funnels each query's N rows through ONE task —
    at 10^9 docs that is a single-partition-per-query exchange where
    only k rows survive. Here stage 1 groups by (q_id,
    spark_partition_id()) so every aggregation buffer is bounded by
    partition size and map-side combining reduces the shuffle to
    ≤ P·Q·k struct rows; stage 2 salts into ``fan_in`` buckets; the
    final per-query merge sees ≤ fan_in·k rows. Order: similarity
    descending (negated in the sort struct — double negation is
    exact), id ascending as the deterministic tie-break. NaN/NULL
    similarities normalize to -inf (sorted last), matching the
    SQL-window twin."""
    qrows = queries.select(q_id_col, q_vec_col).collect()
    q_ids = [r[0] for r in qrows]
    q_mat = _np_normalize(np.array([r[1] for r in qrows], dtype=np.float64))

    out_type = T.ArrayType(
        T.StructType(
            [T.StructField("q_id", T.LongType()), T.StructField("sim", T.DoubleType())]
        )
    )

    q_dim = q_mat.shape[1]

    @F.pandas_udf(out_type)
    def sims_udf(vecs: pd.Series) -> pd.Series:
        from .batchutil import apply_masked

        def kern(m):
            s = _np_normalize(m) @ q_mat.T  # (n_good, n_queries)
            return [
                [(int(q_ids[j]), float(round(row[j], 6))) for j in range(len(q_ids))]
                for row in s
            ]

        # wrong-dim rows score null (dropped by the explode); the good
        # rows score in ONE matmul per batch
        return pd.Series(apply_masked(vecs.tolist(), q_dim, kern))

    # explode_outer + null filter, NOT explode: a bare explode over the
    # UDF column pushes a `size > 0` pre-filter under the generator and
    # plans sims_udf in TWO chained ArrowEvalPython stages — the O(N·Q)
    # scoring matmul would run TWICE at scale (and chained Python
    # runners stall per task). explode_outer keeps the wrong-dim NULL
    # rows as one NULL element each (filtered right after) and plans
    # exactly ONE Python stage.
    scored = (
        emb.filter(complete_vec_pred(F.col(vec_col)))
        .select(F.col(id_col), F.explode_outer(sims_udf(F.col(vec_col))).alias("qs"))
        .filter(F.col("qs").isNotNull())
        .select(id_col, F.col("qs.q_id").alias("q_id"), F.col("qs.sim").alias("similarity"))
    )
    neg_inf = F.lit(float("-inf"))
    clean = F.coalesce(F.nanvl(F.col("similarity"), neg_inf), neg_inf)
    base = scored.select(
        "q_id",
        F.spark_partition_id().alias("__pid"),
        F.struct((-clean).alias("ns"), F.col(id_col).alias("id")).alias("e"),
    )

    def _merge(df, group_cols):
        return (
            df.groupBy(*group_cols)
            .agg(F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("top"))
            .select("q_id", F.explode("top").alias("e"))
        )

    local = _merge(base, ["q_id", "__pid"])  # buffer ≤ partition, map-side complete
    salted = local.withColumn("__salt", F.pmod(F.xxhash64(F.col("e.id")), F.lit(fan_in)))
    mid = _merge(salted, ["q_id", "__salt"])  # buffer ≤ P·k/fan_in
    final = mid.groupBy("q_id").agg(
        F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("top")
    )
    return final.select("q_id", F.explode("top").alias("e")).select(
        F.col("e.id").alias(id_col), "q_id", (-F.col("e.ns")).alias("similarity")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
    cache: bool = True,
    max_cell: int | None = None,
    n_planes: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    max_bucket: int = 200,
    sketches: DataFrame = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal restricted to embedding clusters.

    Every vector is assigned to its nearest centroid (the same
    pandas-UDF matmul as the IVF path), then pairwise cosine is tested
    ONLY within a cluster — the paper's core trick for avoiding the
    all-pairs comparison. A vector is dropped when some other vector in
    its cluster is a near-duplicate (rounded cosine >= ``threshold``)
    and outranks it in keep priority. Keep priority follows the paper's
    rule: within a duplicate group the vector LEAST similar to its
    cluster centroid survives (it contributes the most diversity); ties
    break to the lowest id so the result is deterministic.

    Returns ``(id_col, cell, cent_sim, kept)`` for every assignable
    vector (null embeddings and wrong-dimension rows are excluded, the
    assign_cells contract).

    100-TB shape: the wide operations are the cell equi-join (shuffle
    keyed by cell; AQE splits a skewed cell's join work) and the
    distinct over dropped ids. Pair work is quadratic only WITHIN a
    cell — with the sqrt(N)-cells training default the expected cell
    size is sqrt(N). The centroid table is broadcast, so n_cells is
    bounded by executor memory — identical to the IVF assignment
    closure it composes.

    ``max_cell`` is the mega-cell guard (the paper's per-cluster cap):
    cells larger than it swap the exact within-cell self-join for
    banded sign-sketch LSH candidates keyed by (cell, band, bucket) —
    pair work in a c-member mega-cell drops from c² to collision
    buckets. The 64-plane / 8-band defaults give 8 bits (256 buckets)
    per band — ≈0.99 band-collision recall at τ=0.95, the regime
    SemDeDup runs in; buckets a cap-violating duplicate flood still
    saturates collapse to a STAR against the bucket's top-priority
    member, so the flood is dropped linearly rather than silently
    skipped. Cells at or under the cap stay EXACT, so ``max_cell=None``
    (the default, and the oracled path) is exhaustive everywhere. The
    approximate path is recall-pinned (and no-invented-drops-pinned) in
    tests/test_similarity.py, the same treatment as sampled-training
    IVF. ``sketches``: precomputed (id, bands) frame to reuse across
    calls (the dedup.embedding_near_dups contract) — when omitted the
    internal build is cached under the same ``cache`` flag and hygiene
    note as the assignment frame.

    ``cache``: the assignment frame feeds three consumers (both
    self-join sides and the kept-join); caching it stops the embedding
    scan + matmul assignment re-executing per consumer. Same cache
    hygiene as dedup.embedding_sketches — a long-lived session should
    pass False (repeat passes, no residue) or unpersist via its own
    composition.
    """
    from .topk import cosine_col, dot_col, norm_col

    cents = np.asarray(centroids, dtype=np.float64)
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cell int, centroid array<double>",
    )
    assigned = (
        assign_cells(emb, centroids, vec_col=vec_col)
        .filter(F.col("cell").isNotNull())
        .join(F.broadcast(cent_df), "cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col(vec_col).alias("v"),
            norm_col(F.col(vec_col)).alias("nrm"),
            F.round(
                cosine_col(F.col(vec_col), F.col("centroid")), round_digits
            ).alias("cent_sim"),
        )
    )
    if cache:
        assigned = assigned.persist()
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        "cell",
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
        F.col("cent_sim").alias("cs_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        "cell",
        F.col("v").alias("v_b"),
        F.col("nrm").alias("n_b"),
        F.col("cent_sim").alias("cs_b"),
    )
    pair_sim = F.round(
        F.when((F.col("n_a") == 0.0) | (F.col("n_b") == 0.0), 0.0).otherwise(
            dot_col(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
        ),
        round_digits,
    )
    if max_cell is None:
        pairs = a.join(b, "cell").filter(F.col("id_a") != F.col("id_b"))
    else:
        # mega-cell guard: exact self-join only where the cell is small
        # enough; oversized cells go through banded sign-sketch LSH with
        # the cell in the bucket key, so collisions never cross cells
        from .dedup import embedding_sketches, exploded_bands

        sizes = assigned.groupBy("cell").agg(F.count("*").alias("__csz"))
        with_sz = assigned.join(F.broadcast(sizes), "cell")
        small = with_sz.filter(F.col("__csz") <= max_cell)
        big = with_sz.filter(F.col("__csz") > max_cell)
        sa = small.select(F.col(id_col).alias("id_a"), "cell")
        sb = small.select(F.col(id_col).alias("id_b"), "cell")
        small_cand = sa.join(sb, "cell").filter(F.col("id_a") != F.col("id_b"))
        if sketches is None:
            sk = embedding_sketches(
                big.select(id_col, F.col("v")),
                vec_col="v",
                id_col=id_col,
                n_planes=n_planes,
                n_bands=n_bands,
                seed=seed,
                # dim is known from the centroids (assign_cells only
                # passes matching-dim rows) — skip the sampling job
                dim=int(cents.shape[1]),
                cache=cache,
            )
        else:
            sk = sketches
        banded = exploded_bands(sk, id_col).join(
            big.select(id_col, "cell", "cent_sim"), id_col
        )
        bsizes = banded.groupBy("cell", "band", "bucket").agg(
            F.count("*").alias("__bsz"),
            # bucket's top-priority member (min (cent_sim, id) — the one
            # every other member would be dropped against)
            F.min(F.struct(F.col("cent_sim"), F.col(id_col))).alias("__top"),
        )
        ok = banded.join(
            bsizes.filter(F.col("__bsz") <= max_bucket).select(
                "cell", "band", "bucket"
            ),
            ["cell", "band", "bucket"],
        )
        ba = ok.select(F.col(id_col).alias("id_a"), "cell", "band", "bucket")
        bb = ok.select(F.col(id_col).alias("id_b"), "cell", "band", "bucket")
        pair_cand = (
            ba.join(bb, ["cell", "band", "bucket"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
        )
        # duplicate-flooded buckets (> max_bucket: near-identical
        # vectors share every band) collapse to a STAR — every member
        # is a candidate against the bucket's top-priority member only,
        # so pair work stays linear and the downstream exact cosine
        # still verifies every drop (no invented drops, some recall
        # loss vs all-pairs — the documented approximate trade)
        star_cand = (
            banded.join(
                bsizes.filter(F.col("__bsz") > max_bucket),
                ["cell", "band", "bucket"],
            )
            .filter(F.col(id_col) != F.col("__top")[id_col])
            .select(
                F.col(id_col).alias("id_a"),
                F.col("__top")[id_col].alias("id_b"),
            )
        )
        big_cand = pair_cand.unionByName(star_cand).distinct()
        cand = small_cand.select("id_a", "id_b").unionByName(big_cand)
        pairs = cand.join(a.drop("cell"), "id_a").join(b.drop("cell"), "id_b")
    dropped = (
        pairs
        # priority gate FIRST: the expensive pair fold only runs on the
        # ordered half of each candidate pair
        .filter(
            (F.col("cs_b") < F.col("cs_a"))
            | ((F.col("cs_b") == F.col("cs_a")) & (F.col("id_b") < F.col("id_a")))
        )
        .filter(pair_sim >= F.lit(float(threshold)))
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.select(id_col, "cell", "cent_sim")
        .join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("cent_sim"),
            F.col("__dropped").isNull().alias("kept"),
        )
    )


def sql_semantic_dedup(
    cent_rel: str,
    threshold: float,
    emb_rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`semantic_dedup` over fixed
    centroids: argmax assignment (the ivf_assign CTE shape), then
    centroid similarity and the within-cell pair test recomputed with
    the same left-fold cosine (identical accumulation order to
    topk.dot_col) and the same rounding, priority and tie-break rules.

    Fixture-scope assumptions (shared with the existing ivf_* oracles):
    the assignment CTE's list_dot_product path has no zero-norm-centroid
    guard and no wrong-dimension / NULL-element exclusion — Spark
    handles those inputs (assign_cells clamps zero norms and null-cells
    bad rows) while DuckDB would diverge or abort. The committed
    centroid fixture is unit-norm and the test tables are clean, so the
    twin is exact over everything the driver runs.
    """
    from .topk import sql_fold_cos

    def fold_cos(va: str, vb: str) -> str:
        return sql_fold_cos(va, vb, round_digits=round_digits)

    return (
        f"WITH s AS (SELECT e.{id_col} AS vid, c.cell, "
        f"CASE WHEN sqrt(list_dot_product(e.{vec_col}::DOUBLE[], e.{vec_col}::DOUBLE[])) = 0 "
        "THEN 0.0 ELSE "
        f"list_dot_product(e.{vec_col}::DOUBLE[], c.centroid) / "
        f"(sqrt(list_dot_product(e.{vec_col}::DOUBLE[], e.{vec_col}::DOUBLE[])) * "
        f"sqrt(list_dot_product(c.centroid, c.centroid))) END AS sim "
        f"FROM {emb_rel} e, {cent_rel} c WHERE {sql_complete_vec('e.' + vec_col)}), "
        "assign AS (SELECT vid, cell FROM (SELECT vid, cell, "
        "row_number() OVER (PARTITION BY vid ORDER BY sim DESC, cell) AS rk FROM s) "
        "WHERE rk = 1), "
        f"ac AS (SELECT a.vid, a.cell, e.{vec_col} AS v, "
        f"{fold_cos('e.' + vec_col, 'c.centroid')} AS cent_sim "
        f"FROM assign a JOIN {emb_rel} e ON a.vid = e.{id_col} "
        f"JOIN {cent_rel} c ON a.cell = c.cell), "
        "drp AS (SELECT DISTINCT d.vid FROM ac d JOIN ac o "
        "ON d.cell = o.cell AND d.vid <> o.vid "
        "AND (o.cent_sim < d.cent_sim OR (o.cent_sim = d.cent_sim AND o.vid < d.vid)) "
        f"AND {fold_cos('d.v', 'o.v')} >= {float(threshold)!r}) "
        f"SELECT ac.vid AS {id_col}, ac.cell, ac.cent_sim, "
        "(drp.vid IS NULL) AS kept "
        "FROM ac LEFT JOIN drp ON ac.vid = drp.vid"
    )


# --- int8 embedding quantization ---------------------------------------------


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(vec_id, dim, scale, codes, n_sat, max_err): symmetric per-vector
    int8 quantization — the storage/bandwidth step a 100 TB embedding
    store runs before ANN serving (4× smaller than float32, matmul-able
    on int8 kernels). ``scale = max|x| / 127``; ``code_i`` is half-up
    ``127·x_i / max|x|`` clamped to [-127, 127]; ``n_sat`` counts
    saturated codes (≥1 by construction unless the vector is all-zero);
    ``max_err`` is the max absolute dequantization error — the quality
    metric a serving team alerts on.

    Engine parity: inputs are float32 (exact as doubles), and every
    derived number is either integer or a fixed IEEE expression tree
    evaluated identically in Spark and DuckDB — half-up is spelled
    ``floor(v + 0.5)`` (no engine round() semantics), zero vectors
    short-circuit before any 0/0, and the two reported doubles are
    deterministic functions of exact inputs. Pure per-row projection:
    zero exchanges, zero Python, survives any scale trivially.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    m = F.array_max(F.transform(v, F.abs))

    def code(x):
        return F.when(m == 0.0, F.lit(0)).otherwise(
            F.least(
                F.lit(127).cast("long"),
                F.greatest(
                    F.lit(-127).cast("long"),
                    F.floor((F.lit(127.0) * x) / m + F.lit(0.5)),
                ),
            ).cast("int")
        )

    scale = F.when(m == 0.0, F.lit(0.0)).otherwise(m / F.lit(127.0))
    codes = F.transform(v, code)
    err = F.array_max(
        F.zip_with(
            v, codes, lambda x, c: F.abs(x - c.cast("double") * scale)
        )
    )
    from .topk import finite_vec_pred

    return emb.filter(finite_vec_pred(F.col(vec_col))).select(
        F.col(id_col).alias("vec_id"),
        F.size(vec_col).alias("dim"),
        scale.alias("scale"),
        codes.alias("codes"),
        F.size(F.filter(codes, lambda c: F.abs(c) == 127)).alias("n_sat"),
        F.coalesce(err, F.lit(0.0)).alias("max_err"),
    )


def sql_quantize_embeddings(
    emb_select: str, vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    """DuckDB twin of :func:`quantize_embeddings` — same float32→double
    exact widening, the identical ``floor(127·x / max|x| + 0.5)`` tree
    (literals cast to DOUBLE so no decimal arithmetic sneaks in), the
    same clamp, and the same zero-vector short-circuit."""
    v = f"list_transform({vec_col}::DOUBLE[], x -> x)"
    m = f"list_max(list_transform({v}, x -> abs(x)))"
    code = (
        f"CASE WHEN {m} = 0.0 THEN 0 ELSE CAST(least(127, greatest(-127, "
        f"floor((CAST(127 AS DOUBLE) * x) / {m} + CAST(0.5 AS DOUBLE)))) AS INT) END"
    )
    scale = f"CASE WHEN {m} = 0.0 THEN 0.0 ELSE {m} / CAST(127 AS DOUBLE) END"
    codes = f"list_transform({v}, x -> {code})"
    err = (
        f"list_max(list_transform(list_zip({v}, {codes}), "
        f"p -> abs(p[1] - CAST(p[2] AS DOUBLE) * ({scale}))))"
    )
    from .topk import sql_finite_vec

    return (
        f"SELECT {id_col} AS vec_id, "
        f"CAST(len({vec_col}) AS INT) AS dim, "
        f"{scale} AS scale, {codes} AS codes, "
        f"CAST(len(list_filter({codes}, c -> abs(c) = 127)) AS INT) AS n_sat, "
        f"coalesce({err}, 0.0) AS max_err "
        f"FROM ({emb_select}) WHERE {sql_finite_vec(vec_col)}"
    )


# --- product quantization (IVF-PQ serving shape) ------------------------------


def pq_train_lite(
    mat: np.ndarray, m: int, k: int, iters: int = 5, seed: int = 42
) -> np.ndarray:
    """Deterministic per-subspace L2 Lloyd — the PQ codebook trainer
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search" §II). Pure numpy, shared by the oracle fixture generator
    (full sorted table) and tests, the same split as kmeans_lite /
    ivf_centroids. Returns shape (m, k, dim//m) float64. Empty cells
    keep their previous centroid (no re-seeding → deterministic)."""
    mat = np.asarray(mat, dtype=np.float64)
    n, dim = mat.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    rng = np.random.RandomState(seed)
    out = np.empty((m, k, ds), dtype=np.float64)
    for j in range(m):
        sub = mat[:, j * ds : (j + 1) * ds]
        cents = sub[rng.choice(n, size=min(k, n), replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        out[j] = cents
    return out


def _codebook_df(spark, codebook):
    """(m, frame): (sub, cell, centroid) rows from either a committed
    fixture-style row iterable or the (m, k, ds) ndarray pq_train_lite
    returns. m comes from the input (no Spark job at plan-build)."""
    if isinstance(codebook, np.ndarray):
        rows = [
            (j, c, [float(x) for x in codebook[j][c]])
            for j in range(codebook.shape[0])
            for c in range(codebook.shape[1])
        ]
    else:
        rows = [(int(r[0]), int(r[1]), [float(x) for x in r[2]]) for r in codebook]
    m = max(r[0] for r in rows) + 1
    df = spark.createDataFrame(rows, "sub int, cell int, centroid array<double>")
    return m, df


def _sub_dist(vec_col, sub_col, cent_col, ds: int):
    """Squared L2 between subvector ``sub`` of ``vec_col`` and a
    centroid — a left fold over doubles in dimension order (the dot_col
    device), so both engines produce the bit-identical IEEE double."""
    sub = F.slice(vec_col, sub_col * ds + 1, ds)
    return F.aggregate(
        F.zip_with(
            sub, cent_col, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def pq_encode(
    emb: DataFrame,
    codebook,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, codes): PQ encoding — each vector split into m
    subvectors, each mapped to its nearest codebook centroid (squared
    L2, ties to the lowest cell id), codes ordered by subspace. With
    m=8 / k=16 a 64-dim float32 vector compresses 64× (256 B → 4 B) —
    the storage step that makes a 10^12-vector ANN index fit a cluster
    (Jégou 2011; the int8 path in :func:`quantize_embeddings` is the
    4× sibling).

    100-TB shape: the codebook is m·k rows (bounded by construction —
    broadcast), the candidate space is one explode ×(m·k) per vector,
    and both aggregations are map-side-combinable groupBys keyed by the
    vector id: argmin via the min(struct) device, code assembly via the
    sorted-collect ordered rebuild. No window, no Python stage, no
    driver state beyond the codebook itself.

    Cross-engine parity: subvector distances are left folds over
    doubles (dot_col order); argmin ties break on cell id; the codes
    array is rebuilt in subspace order — every step has an exact DuckDB
    twin (:func:`sql_pq_encode`).
    """
    spark = emb.sparkSession
    m, cb = _codebook_df(spark, codebook)
    ds = dim // m
    cand = (
        emb.filter(complete_vec_pred(F.col(vec_col)) & (F.size(vec_col) == dim))
        .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .join(F.broadcast(cb))
        .select(
            "vid",
            "sub",
            F.struct(
                _sub_dist(F.col("v"), F.col("sub"), F.col("centroid"), ds).alias("d"),
                F.col("cell").alias("cell"),
            ).alias("dc"),
        )
    )
    best = cand.groupBy("vid", "sub").agg(F.min("dc").alias("dc"))
    return (
        best.groupBy("vid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub"), F.col("dc")["cell"].alias("cell")))
                ),
                lambda s: s["cell"],
            ).alias("codes")
        )
        .select(F.col("vid").alias(id_col), "codes")
    )


def adc_topk(
    emb: DataFrame,
    codebook,
    query_vec,
    k: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, adist): asymmetric-distance top-k over PQ codes — the
    IVF-PQ serving kernel (Jégou 2011 §III: the query stays exact, the
    corpus is codes; distance ≈ Σ_j lut[j][code_j] where lut is the
    m·k table of query-subvector↔centroid squared distances). The scan
    side touches ONLY the 4-byte codes — at 10^12 vectors that is the
    difference between reading 4 TB and reading 256 TB per query batch.

    Shape: codes from :func:`pq_encode`; the lut is computed
    relationally over the broadcast codebook (m·k rows — never
    materialized on the driver, so the twin recomputes the identical
    doubles); posexplode codes → broadcast lut join → per-vector
    ordered fold (sorted-collect over the m sub rows, left fold in
    subspace order — bit-stable) → orderBy(adist, id).limit(k) which
    compiles to TakeOrderedAndProject (no global sort).
    """
    spark = emb.sparkSession
    m, cb = _codebook_df(spark, codebook)
    ds = dim // m
    q = F.expr(query_array_sql(query_vec))
    lut = cb.select(
        "sub", "cell", _sub_dist(q, F.col("sub"), F.col("centroid"), ds).alias("qd")
    )
    codes = pq_encode(emb, codebook, dim=dim, vec_col=vec_col, id_col=id_col)
    per_sub = codes.select(
        id_col, F.posexplode("codes").alias("sub", "cell")
    ).join(F.broadcast(lut), ["sub", "cell"])
    adist = F.aggregate(
        F.array_sort(F.collect_list(F.struct("sub", "qd"))),
        F.lit(0.0),
        lambda acc, s: acc + s["qd"],
    )
    return (
        per_sub.groupBy(id_col)
        .agg(adist.alias("adist"))
        .orderBy(F.asc("adist"), id_col)
        .limit(k)
    )


def sql_pq_ctes(
    cb_rel: str,
    dim: int,
    m: int,
    emb_rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Shared DuckDB CTE body for the PQ twins: candidate distances
    (identical left fold), argmin with the cell tie-break, ordered code
    rebuild. ONE home for the encode shape so both twins move
    together."""
    ds = dim // m
    fold = (
        f"list_aggregate(list_transform(list_zip("
        f"e.{vec_col}[c.sub*{ds}+1 : c.sub*{ds}+{ds}]::DOUBLE[], c.centroid), "
        "p -> (p[1]-p[2])*(p[1]-p[2])), 'sum')"
    )
    return (
        f"cand AS (SELECT e.{id_col} AS vid, c.sub, c.cell, {fold} AS d "
        f"FROM {emb_rel} e, {cb_rel} c "
        f"WHERE {sql_complete_vec('e.' + vec_col)} AND len(e.{vec_col}) = {dim}), "
        "best AS (SELECT vid, sub, cell FROM (SELECT vid, sub, cell, "
        "row_number() OVER (PARTITION BY vid, sub ORDER BY d, cell) AS rk "
        "FROM cand) WHERE rk = 1), "
        "codes AS (SELECT vid, array_agg(cell ORDER BY sub) AS codes "
        "FROM best GROUP BY vid)"
    )


def sql_pq_encode(cb_rel: str, dim: int = 64, m: int = 8, **kw) -> str:
    """DuckDB twin of :func:`pq_encode`."""
    id_col = kw.get("id_col", "vec_id")
    return (
        f"WITH {sql_pq_ctes(cb_rel, dim, m, **kw)} "
        f"SELECT vid AS {id_col}, codes FROM codes"
    )


def sql_adc_topk(cb_rel: str, query_vec, k: int, dim: int = 64, m: int = 8, **kw) -> str:
    """DuckDB twin of :func:`adc_topk` — the lut recomputed with the
    same fold over the same codebook relation, the per-vector sum as a
    subspace-ordered left fold (list_aggregate over array_agg ORDER BY
    sub — the sql_fold_cos accumulation device)."""
    id_col = kw.get("id_col", "vec_id")
    ds = dim // m
    qlit = sql_query_vec(query_vec)
    qfold = (
        f"list_aggregate(list_transform(list_zip("
        f"({qlit})[c.sub*{ds}+1 : c.sub*{ds}+{ds}], c.centroid), "
        "p -> (p[1]-p[2])*(p[1]-p[2])), 'sum')"
    )
    return (
        f"WITH {sql_pq_ctes(cb_rel, dim, m, **kw)}, "
        f"lut AS (SELECT c.sub, c.cell, {qfold} AS qd FROM {cb_rel} c), "
        "per_sub AS (SELECT b.vid, b.sub, l.qd FROM best b "
        "JOIN lut l ON b.sub = l.sub AND b.cell = l.cell), "
        "summed AS (SELECT vid, "
        "list_aggregate(array_agg(qd ORDER BY sub), 'sum') AS adist "
        "FROM per_sub GROUP BY vid) "
        f"SELECT vid AS {id_col}, adist FROM summed "
        f"ORDER BY adist, vid LIMIT {int(k)}"
    )


# ---------------------------------------------------------------------------
# DIMSUM sampled all-pairs cosine (Zadeh & Goel 2013; Spark RowMatrix's
# columnSimilarities)
# ---------------------------------------------------------------------------
#
# All-pairs column cosine over the doc-term matrix (term-term
# co-occurrence similarity — "related terms") without the O(nnz²)
# pair explosion: each matrix ELEMENT survives with probability
# q_t = min(1, √γ / ‖c_t‖), pairs are formed only among survivors, and
# the estimator divides the sampled dot product by q_i·q_j·‖c_i‖·‖c_j‖.
# High-norm (stop-word-ish) columns — exactly the ones whose pair
# fan-out explodes — are sampled hardest, and the estimate is unbiased
# with relative-error guarantees for pairs above γ's design threshold
# (the paper's "dimension independent" point: expected emissions scale
# with γ·#columns, not with #rows). Columns below the √γ norm knee
# have q = 1 and their similarities are EXACT.
#
# Determinism: tf counts are integers, so column sum-of-squares is an
# exact int64 and ‖c‖ = sqrt(int) is one correctly-rounded double;
# q = min(1, √γ/‖c‖) one correctly-rounded division; the survival coin
# is the DSIR md5-uniform device (13 hex chars → 52 bits, u exactly
# representable), so BOTH engines keep exactly the same elements; the
# sampled dot product Σ tf_i·tf_j is an exact int64; the final
# estimate is a single pinned-order float expression rounded to 6
# digits. Bit-identical across engines, partitionings, cluster sizes.

DIMSUM_SALT = "dimsum"
_DIMSUM_TWO_52 = float(1 << 52)


def _dimsum_u(doc_id: "F.Column", term: "F.Column", salt: str):
    v = F.conv(
        F.substring(
            F.md5(F.concat(doc_id.cast("string"), F.lit("|"), term, F.lit(salt))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    return (v.cast("double") + F.lit(0.5)) / F.lit(_DIMSUM_TWO_52)


def dimsum_cosine(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sqrt_gamma: float = 8.0,
    min_sim: float = 0.0,
    salt: str = DIMSUM_SALT,
) -> DataFrame:
    """(term_a, term_b, pair_weight, est_cos): DIMSUM-sampled cosine
    similarity between term columns of the doc-term tf matrix.
    ``pair_weight`` is the exact-integer sampled dot product (audit
    column); ``est_cos`` the unbiased estimate, exact where both
    q = 1 (estimates on heavily-sampled pairs can exceed 1 — that is
    estimator variance, not a bug; γ controls it). Scale shape: tf and norms are (doc,term)-/term-keyed
    combinable groupBys; survivor pairing is a doc-keyed self-join
    whose fan-out the sampling bounds (expected survivors per column
    ≤ √γ + 1); one (term,term)-keyed integer aggregation closes it.
    No window, no Python, no driver state."""
    from .curation import _lower_words

    tf = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                _lower_words(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    norms = (
        tf.groupBy("term")
        .agg(F.sum(F.col("tf") * F.col("tf")).alias("ssq"))
        .select(
            "term",
            F.sqrt(F.col("ssq").cast("double")).alias("nrm"),
        )
        .withColumn(
            "q", F.least(F.lit(1.0), F.lit(float(sqrt_gamma)) / F.col("nrm"))
        )
    )
    surv = (
        tf.join(norms, "term")
        .filter(_dimsum_u(F.col("doc_id"), F.col("term"), salt) < F.col("q"))
        .select("doc_id", "term", "tf")
    )
    a = surv.select(
        "doc_id",
        F.col("term").alias("term_a"),
        F.col("tf").alias("tf_a"),
    )
    b = surv.select(
        "doc_id",
        F.col("term").alias("term_b"),
        F.col("tf").alias("tf_b"),
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("pair_weight"))
    )
    na = norms.select(
        F.col("term").alias("term_a"),
        F.col("nrm").alias("n_a"),
        F.col("q").alias("q_a"),
    )
    nb = norms.select(
        F.col("term").alias("term_b"),
        F.col("nrm").alias("n_b"),
        F.col("q").alias("q_b"),
    )
    est = F.round(
        F.col("pair_weight").cast("double")
        / ((F.col("q_a") * F.col("q_b")) * (F.col("n_a") * F.col("n_b"))),
        6,
    )
    return (
        pairs.join(na, "term_a")
        .join(nb, "term_b")
        .select("term_a", "term_b", "pair_weight", est.alias("est_cos"))
        .filter(F.col("est_cos") >= F.lit(float(min_sim)))
    )


def sql_dimsum_cosine(
    text_expr: str = "text",
    id_expr: str = "doc_id",
    sqrt_gamma: float = 8.0,
    min_sim: float = 0.0,
    salt: str = DIMSUM_SALT,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`dimsum_cosine` — same tf/norm/q tables,
    same md5 survival coin, same pinned-order estimate expression."""
    from .curation import _sql_lower_words

    ws = _sql_lower_words(f"coalesce({text_expr}, '')")
    return (
        f"WITH tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
        f"FROM (SELECT {id_expr} AS doc_id, unnest({ws}) AS term "
        f"FROM {table}) GROUP BY doc_id, term), "
        "norms AS (SELECT term, "
        "sqrt(CAST(CAST(sum(tf * tf) AS BIGINT) AS DOUBLE)) AS nrm "
        "FROM tf GROUP BY term), "
        f"nq AS (SELECT term, nrm, least(1.0, {float(sqrt_gamma)!r} / nrm) "
        "AS q FROM norms), "
        f"surv AS (SELECT t.doc_id, t.term, t.tf FROM tf t "
        f"JOIN nq ON t.term = nq.term "
        f"WHERE (CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || '|' "
        f"|| t.term || '{salt}'), 1, 13) AS BIGINT) + 0.5) "
        f"/ {_DIMSUM_TWO_52!r} < nq.q), "
        "pairs AS (SELECT a.term AS term_a, b.term AS term_b, "
        "CAST(sum(a.tf * b.tf) AS BIGINT) AS pair_weight "
        "FROM surv a JOIN surv b ON a.doc_id = b.doc_id "
        "AND a.term < b.term GROUP BY a.term, b.term) "
        "SELECT p.term_a, p.term_b, p.pair_weight, "
        "round(CAST(p.pair_weight AS DOUBLE) / "
        "((na.q * nb.q) * (na.nrm * nb.nrm)), 6) AS est_cos "
        "FROM pairs p "
        "JOIN nq na ON p.term_a = na.term "
        "JOIN nq nb ON p.term_b = nb.term "
        f"WHERE round(CAST(p.pair_weight AS DOUBLE) / "
        f"((na.q * nb.q) * (na.nrm * nb.nrm)), 6) >= {float(min_sim)!r}"
    )


# ---------------------------------------------------------------------------
# Nearest-centroid (Rocchio) classification (Rocchio 1971; the
# nearest-centroid text classifier of Han & Karypis 2000)
# ---------------------------------------------------------------------------
#
# The embeddings-side provenance classifier beside the token-side
# Naive Bayes: assign each vector to the training class whose mean
# vector it is most cosine-similar to. Exactness discipline:
#   * components quantize once to micro ints q = round(v * 1e6)
#     (round() agrees cross-engine on doubles — it is CAST truncation
#     that diverges; non-finite components void the vector);
#   * the class centroid is the TRUNCATING-division mean
#     c_j = sign(s) * (|s| div n_c) of the exact integer component
#     sums — bounded by the max component magnitude at ANY class
#     size, so every dot/norm term stays inside int64 forever (the
#     sum-vector form would overflow past ~3e4 members; the floor-vs-
#     trunc divergence on negative sums is dodged by the sign split);
#   * dot and both squared norms are exact int64 sums (associative —
#     no ordered-fold machinery), cosine is one correctly-rounded
#     double chain rounded to 6, argmax by (cos desc, label asc).
#
# Scale shape: one posexplode (corpus x dim rows), one combinable
# (label, dim) centroid aggregate bounded by classes x dim, centroids
# broadcast, per-(vector, class) scoring through one combinable
# aggregate, argmax window partitions hold exactly #classes rows.
# NULL labels are not classes (unlabeled rows are still scored);
# zero-norm vectors and degenerate centroids score NULL and predict
# nothing (cosine undefined).


def centroid_classify(
    df: DataFrame,
    train_df: DataFrame = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """(vec_id, pred, cos6): nearest-centroid verdict for every vector
    of ``df`` under per-class truncated-mean centroids fit on
    ``train_df`` (default ``df``). Vectors with no finite components
    or zero norm emit (vec_id, NULL, NULL)."""
    from pyspark.sql import Window

    train = df if train_df is None else train_df

    def quant(frame, with_label):
        cols = [F.col(id_col).alias("vid")]
        if with_label:
            cols.append(F.col(label_col).alias("lbl"))
        q = frame.select(*cols, F.posexplode(vec_col).alias("j", "x"))
        return q.select(
            *[c for c in ["vid", "lbl"] if c in q.columns],
            "j",
            # quantization domain |x| < 300: q^2 * dim must stay
            # inside int64 (a hostile 1e6-magnitude component would
            # overflow the norm sum) — out-of-domain components void
            # the vector, the CUSUM domain rule
            F.when(
                F.col("x").isNotNull()
                & ~F.isnan(F.col("x").cast("double"))
                & (F.abs(F.col("x").cast("double")) < F.lit(300.0)),
                F.round(F.col("x").cast("double") * F.lit(1e6)).cast("long"),
            ).alias("q"),
        )
    tr = quant(train.filter(F.col(label_col).isNotNull()), True)
    cent = (
        tr.filter(F.col("q").isNotNull())
        .groupBy("lbl", "j")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        .select(
            "lbl",
            "j",
            F.expr(
                "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END"
            ).alias("c"),
        )
    )
    cnorm = cent.groupBy("lbl").agg(F.sum(F.col("c") * F.col("c")).alias("cn2"))
    qv = quant(df, False)
    # a vector with ANY non-finite component is void (NULL q poisons
    # its dot/norm sums via sum-of-NULL semantics only if all rows
    # NULL — so void explicitly: flag per vector)
    bad = qv.groupBy("vid").agg(
        F.max(F.col("q").isNull().cast("int")).alias("has_bad")
    )
    scores = (
        qv.join(F.broadcast(cent), "j")
        .groupBy("vid", "lbl")
        .agg(
            F.sum(F.col("q") * F.col("c")).alias("dot"),
            F.sum(F.col("q") * F.col("q")).alias("vn2"),
        )
        .join(F.broadcast(cnorm), "lbl")
        .join(bad, "vid")
    )
    cos = F.when(
        (F.col("has_bad") == 0) & (F.col("vn2") > 0) & (F.col("cn2") > 0),
        F.round(
            F.col("dot").cast("double")
            / F.sqrt(F.col("vn2").cast("double") * F.col("cn2").cast("double")),
            6,
        )
        + F.lit(0.0),
    )
    scored = scores.select("vid", "lbl", cos.alias("cos6"))
    w = Window.partitionBy("vid").orderBy(
        F.col("cos6").desc_nulls_last(), F.col("lbl")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vid",
            F.when(F.col("cos6").isNotNull(), F.col("lbl")).alias("pred"),
            "cos6",
        )
    )
    ids = df.select(F.col(id_col).alias("vid")).distinct()
    return ids.join(best, "vid", "left").select(
        F.col("vid").alias(id_col), "pred", "cos6"
    )


def sql_centroid_classify(
    rel: str = "embeddings",
    train_rel: str = None,
    vec_expr: str = "embedding",
    id_expr: str = "vec_id",
    label_expr: str = "label",
) -> str:
    """DuckDB twin of :func:`centroid_classify` — identical
    quantization, truncated-mean centroids, integer dot/norms and
    argmax window."""
    train_rel = train_rel or rel
    q = (
        "CASE WHEN x IS NOT NULL AND isfinite(CAST(x AS DOUBLE)) "
        "AND abs(CAST(x AS DOUBLE)) < 300.0 "
        "THEN CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) END"
    )
    return (
        f"WITH trx AS (SELECT {id_expr} AS vid, {label_expr} AS lbl, "
        f"i - 1 AS j, {vec_expr}[i] AS x FROM (SELECT *, "
        f"unnest(generate_series(1, len({vec_expr}))) AS i FROM {train_rel} "
        f"WHERE {label_expr} IS NOT NULL)), "
        f"tr AS (SELECT vid, lbl, j, {q} AS q FROM trx), "
        "cent AS (SELECT lbl, j, CASE WHEN s >= 0 THEN s // n "
        "ELSE -((-s) // n) END AS c FROM ("
        "SELECT lbl, j, CAST(sum(q) AS BIGINT) AS s, "
        "CAST(count(*) AS BIGINT) AS n FROM tr WHERE q IS NOT NULL "
        "GROUP BY lbl, j)), "
        "cn AS (SELECT lbl, CAST(sum(c * c) AS BIGINT) AS cn2 FROM cent "
        "GROUP BY lbl), "
        f"qx AS (SELECT {id_expr} AS vid, i - 1 AS j, {vec_expr}[i] AS x "
        f"FROM (SELECT *, unnest(generate_series(1, len({vec_expr}))) AS i "
        f"FROM {rel})), "
        f"qv AS (SELECT vid, j, {q} AS q FROM qx), "
        "bad AS (SELECT vid, max(CASE WHEN q IS NULL THEN 1 ELSE 0 END) "
        "AS has_bad FROM qv GROUP BY vid), "
        "sc AS (SELECT qv.vid, cent.lbl, "
        "CAST(sum(qv.q * cent.c) AS BIGINT) AS dot, "
        "CAST(sum(qv.q * qv.q) AS BIGINT) AS vn2 "
        "FROM qv JOIN cent ON qv.j = cent.j GROUP BY qv.vid, cent.lbl), "
        "scored AS (SELECT sc.vid, sc.lbl, "
        "CASE WHEN bad.has_bad = 0 AND sc.vn2 > 0 AND cn.cn2 > 0 THEN "
        "round(CAST(sc.dot AS DOUBLE) / sqrt(CAST(sc.vn2 AS DOUBLE) "
        "* CAST(cn.cn2 AS DOUBLE)), 6) + 0.0 END AS cos6 "
        "FROM sc JOIN cn ON sc.lbl = cn.lbl JOIN bad ON bad.vid = sc.vid), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY vid "
        "ORDER BY cos6 DESC NULLS LAST, lbl) AS rn FROM scored), "
        "best AS (SELECT vid, CASE WHEN cos6 IS NOT NULL THEN lbl END "
        "AS pred, cos6 FROM rk WHERE rn = 1) "
        f"SELECT ids.vid AS {id_expr}, best.pred, best.cos6 "
        f"FROM (SELECT DISTINCT {id_expr} AS vid FROM {rel}) ids "
        "LEFT JOIN best ON best.vid = ids.vid"
    )
