"""Deduplication operators for web-scale corpus curation.

Five strategies, scale-ranked:

- exact:       hash-groupBy on normalized text — one shuffle on a 64-bit
               key, no skew risk (hash keys uniform).
- ngram-jaccard: candidate pairs via shared-shingle inverted index
               (explode → self-join on shingle hash → per-pair Jaccard);
               exact but quadratic in bucket size — bounded by frequent-
               shingle pruning.
- minhash-LSH: signature via pandas UDF (numpy-vectorized), banded into
               LSH buckets, candidate pairs only within buckets — the
               100 TB path: shuffle is per-band on bucket ids, skewed
               buckets capped.
- simhash:     64-bit fingerprint, near-dup = hamming ≤ t; banded by
               16-bit chunks for candidate generation.
- embedding:   cosine ≥ τ near-dup over the embeddings table (LSH or
               brute per scale).

All hash math matches kernels/textstats.py so Spark results are
kernel-reproducible.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels.textstats import minhash_signature, simhash
from ..session import per_call_pandas_udf


# --- exact (hash-groupBy) ---------------------------------------------------

def wordset_key_col(text_col: str) -> F.Column:
    """Bag-of-distinct-words normalization: docs that differ only in
    word order/repetition collide — the cheapest near-exact key."""
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != F.lit(""))
    return F.concat_ws(" ", F.array_sort(F.array_distinct(words)))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", key: F.Column = None
) -> DataFrame:
    """Groups of identical normalized texts with >1 member:
    (dup_key, n_dups, keep_id=min id). Default normalization is
    trim+lowercase (byte-near-exact); pass ``key=wordset_key_col(...)``
    for bag-of-words near-exact dedup."""
    key = key if key is not None else F.lower(F.trim(F.col(text_col)))
    return (
        df.select(F.col(id_col), F.md5(key).alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-dup class."""
    key = F.md5(F.lower(F.trim(F.col(text_col))))
    w = df.select("*", key.alias("__k"))
    from pyspark.sql import Window

    win = Window.partitionBy("__k").orderBy(id_col)
    return (
        w.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .drop("__k", "__rn")
    )


# --- word n-gram Jaccard ----------------------------------------------------

def _gram_tokens(text_col: str):
    """Case-folded, whitespace-split, non-empty tokens — the ONE token
    rule of :func:`shingle_df` and :func:`shingle_hash_df`, so a hash
    prefilter can never miss a gram its exact recheck would match.

    İ/Σ are pre-mapped before lower() (curation._lower_words
    rationale): shingle VALUES flow into the KMV/HLL sketches as
    hashes, so the case fold must be identical cross-engine — the two
    contextual/one-to-many Unicode case mappings are the only places
    the engines' lower() disagree (case-folding parity fuzz)."""
    return F.filter(
        F.split(F.lower(F.translate(F.col(text_col), "İΣ", "iσ")), r"\s+"),
        lambda x: x != F.lit(""),
    )


def shingle_df(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """One row per distinct word-n-gram per doc (native: lowercase →
    split → sliding window).

    The window is an indexed ``transform`` over a *projected* token
    column with O(1) ``get`` lookups — O(L) work per doc. (A
    ``slice``-per-offset formulation is O(L²) per doc and dominated the
    whole ngram_jaccard runtime; and the token expression must be a
    bound column, not inlined into the lambda, or Catalyst re-evaluates
    the split per element.)"""
    with_toks = df.select(F.col(id_col).alias("doc_id"), _gram_tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    grams_all = F.transform(
        toks,
        lambda t, i: F.when(
            i <= F.size(toks) - n,
            F.concat_ws(" ", t, *[F.get(toks, i + k) for k in range(1, n)]),
        ),
    )
    # short docs (1..n-1 tokens) fall back to one whole-text gram so
    # near-identical short docs can still pair; ZERO-token docs (empty
    # or NULL text) emit NO gram at all — an empty doc must not pair
    # with every other empty doc at jaccard 1.0 (that is exact dedup's
    # job), and the twin's array_to_string([])->NULL would disagree
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(F.filter(grams_all, lambda g: g.isNotNull())),
    ).when(F.size(toks) > 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array().cast("array<string>")
    )
    return with_toks.select("doc_id", F.explode(grams).alias("shingle"))


def shingle_hash_df(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """One row per distinct word-n-gram HASH per doc — the 64-bit
    prefilter form of :func:`shingle_df`.

    The n-gram string is never materialized: ``xxhash64`` streams over
    the n token columns directly, so the hot scan allocates no ~60-byte
    gram strings (at 10^6+ docs the gram-string garbage, not the
    shuffle, dominates :func:`shingle_df`-based wall time — measured in
    BENCH/BASELINE.md). Join keys are 8 bytes instead of n words.
    Hash equality admits false positives (resolved by an exact string
    recheck on the surviving candidates) and no false negatives: equal
    token tuples always hash equal. Mirrors shingle_df's short-doc rule
    (1..n-1 tokens → one whole-text gram, hashed as the joined string;
    0 tokens → none)."""
    with_toks = df.select(F.col(id_col).alias("doc_id"), _gram_tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    hashes_all = F.transform(
        toks,
        lambda t, i: F.when(
            i <= F.size(toks) - n,
            F.xxhash64(t, *[F.get(toks, i + k) for k in range(1, n)]),
        ),
    )
    hashes = F.when(
        F.size(toks) >= n,
        F.array_distinct(F.filter(hashes_all, lambda h: h.isNotNull())),
    ).when(F.size(toks) > 0, F.array(F.xxhash64(F.concat_ws(" ", toks)))).otherwise(
        F.array().cast("array<long>")
    )
    return with_toks.select("doc_id", F.explode(hashes).alias("gh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Inverted-index self-join; shingles appearing in > max_shingle_freq
    docs are pruned (stopword-shingles explode candidate counts at scale
    while contributing almost no discrimination).

    Scale shape: the shuffle key is ``xxhash64(shingle)`` (8-byte long,
    not a 32-char md5 string — smaller shuffle rows, cheaper compares);
    the frequency prune is a broadcast LEFT ANTI against the *hot* set
    (the few shingles above the cap — tiny and bounded, unlike the cold
    set which is nearly the whole vocabulary); and a length-ratio filter
    (J(A,B) ≤ min/max, so min ≥ t·max is necessary for J ≥ t) discards
    candidate pairs BEFORE the per-pair aggregation. Sizes ride the
    inverted-index rows into the groupBy keys, so no post-agg joins.

    Collision hardening: unlike an LSH bucket key (where a collision
    only adds a filtered candidate), a shingle-key collision here would
    silently inflate n_common — so the n_common count requires equality
    of a SECOND independent 64-bit hash (``xxhash64(shingle, 1)``),
    giving an effective 128-bit key for the intersection while the
    shuffle partitions on the single narrow key."""
    sh = shingle_df(df, text_col, id_col, n).withColumn(
        "sh_key", F.xxhash64(F.col("shingle"))
    ).withColumn(
        "sh_key2", F.xxhash64(F.col("shingle"), F.lit(1))
    ).drop("shingle")

    hot = (
        sh.groupBy("sh_key")
        .agg(F.count("*").alias("df_freq"))
        .filter(F.col("df_freq") > max_shingle_freq)
        .select("sh_key")
    )
    sh_pruned = sh.join(F.broadcast(hot), "sh_key", "left_anti")
    # set sizes over the SAME pruned universe as the intersections —
    # mixing pruned intersections with unpruned sizes would bias jaccard
    # low whenever a hot shingle is dropped
    sizes = sh_pruned.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    sh_sized = sh_pruned.join(sizes, "doc_id")

    a = sh_sized.select(
        F.col("doc_id").alias("id_a"), "sh_key",
        F.col("sh_key2").alias("sh_key2_a"), F.col("set_size").alias("size_a"),
    )
    b = sh_sized.select(
        F.col("doc_id").alias("id_b"), "sh_key",
        F.col("sh_key2").alias("sh_key2_b"), F.col("set_size").alias("size_b"),
    )
    inter = (
        a.join(b, "sh_key")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sh_key2_a") == F.col("sh_key2_b"))
            & (
                F.least("size_a", "size_b")
                >= F.lit(threshold) * F.greatest("size_a", "size_b")
            )
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return inter.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# --- word n-gram containment (asymmetric near-dup / quote detection) --------


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 50,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """(src_id, dst_id, containment): DIRECTED shingle containment —
    the fraction of src's word-n-grams that also appear in dst,
    |S_src ∩ S_dst| / |S_src|. This is the asymmetric complement of
    :func:`ngram_jaccard_pairs`: a quote, syndicated excerpt, or
    superseded revision is CONTAINED in its host/expansion even when
    the symmetric Jaccard is tiny (a paragraph inside a book), so
    Jaccard-keyed dedup never pairs them. Emits both directions of a
    candidate pair independently, each judged against its own source
    size.

    ``threshold_pct`` is an integer percentage and the gate is an
    integer cross-multiplication (100·n_common ≥ pct·|S_src|); the
    reported containment is half-up fixed-point at 10^-6 — no float
    convention in either the filter or the value. Same inverted-index
    scale shape as Jaccard (xxhash64 shuffle key, broadcast anti-prune
    of hot shingles, second-hash collision hardening) with one
    REMOVED prefilter: containment has no length-ratio bound (small ⊂
    large is exactly the signal), so the hot-shingle cap is the
    load-bearing candidate bound — size the cap, not the ratio, when
    tuning at scale."""
    sh = (
        shingle_df(df, text_col, id_col, n)
        .withColumn("sh_key", F.xxhash64(F.col("shingle")))
        .withColumn("sh_key2", F.xxhash64(F.col("shingle"), F.lit(1)))
        .drop("shingle")
    )
    hot = (
        sh.groupBy("sh_key")
        .agg(F.count("*").alias("df_freq"))
        .filter(F.col("df_freq") > max_shingle_freq)
        .select("sh_key")
    )
    sh_pruned = sh.join(F.broadcast(hot), "sh_key", "left_anti")
    sizes = sh_pruned.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    sh_sized = sh_pruned.join(sizes, "doc_id")
    a = sh_sized.select(
        F.col("doc_id").alias("id_a"), "sh_key",
        F.col("sh_key2").alias("sh_key2_a"), F.col("set_size").alias("size_a"),
    )
    b = sh_sized.select(
        F.col("doc_id").alias("id_b"), "sh_key",
        F.col("sh_key2").alias("sh_key2_b"), F.col("set_size").alias("size_b"),
    )
    inter = (
        a.join(b, "sh_key")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sh_key2_a") == F.col("sh_key2_b"))
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    both = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    F.col("size_a").alias("size_src"),
                    F.col("n_common").alias("n_common"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    F.col("size_b").alias("size_src"),
                    F.col("n_common").alias("n_common"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return both.filter(
        F.lit(100) * F.col("n_common") >= F.lit(threshold_pct) * F.col("size_src")
    ).select(
        "src_id",
        "dst_id",
        F.expr(
            "CAST((1000000L * n_common + size_src div 2L) div size_src "
            "AS DOUBLE) / 1e6"
        ).alias("containment"),
    )


def sql_containment_pairs(
    rel: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 50,
) -> str:
    """DuckDB twin of :func:`containment_pairs` (no hot prune — pick
    ``max_shingle_freq`` above the fixture's max shingle frequency so
    the prune is a no-op at oracle scale, exactly as the Jaccard twin
    does): same shingle rule as shingle_df via the shared gram CTE
    shape, exact string intersection, integer gate, fixed-point
    value."""
    from .curation import WORD_SPLIT_RE

    return (
        f"WITH toks AS (SELECT {id_expr} AS doc_id, "
        f"list_filter(string_split_regex(lower(replace(replace({text_expr}, 'İ', 'i'), 'Σ', 'σ')), '{WORD_SPLIT_RE}'), "
        "x -> x <> '') AS w FROM " + rel + "), "
        f"grams AS (SELECT doc_id, CASE WHEN len(w) >= {n} THEN "
        f"list_distinct([array_to_string(w[i:i+{n - 1}], ' ') "
        f"FOR i IN range(1, len(w) - {n - 2})]) "
        "WHEN len(w) > 0 THEN [array_to_string(w, ' ')] "
        "ELSE [] END AS gs FROM toks), "
        "sh AS (SELECT doc_id, unnest(gs) AS shingle FROM grams), "
        "sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "count(*) AS n_common FROM sh a JOIN sh b ON a.shingle = b.shingle "
        "AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), "
        "bd AS (SELECT id_a AS src_id, id_b AS dst_id, n_common FROM inter "
        "UNION ALL SELECT id_b, id_a, n_common FROM inter) "
        "SELECT src_id, dst_id, "
        "CAST((1000000 * n_common + s.set_size // 2) // s.set_size AS DOUBLE) "
        "/ 1e6 AS containment "
        "FROM bd JOIN sizes s ON src_id = s.doc_id "
        f"WHERE 100 * n_common >= {threshold_pct} * s.set_size"
    )


# --- MinHash + LSH ----------------------------------------------------------

_SIG_TYPE = T.ArrayType(T.LongType())


def _to_i64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def _np_minhash(text: str, perm_salts, n: int):
    """numpy-vectorized MinHash — bit-identical to
    kernels.textstats.minhash_signature (asserted in tests): one outer
    product ``mix64(shingle_hash ^ mix64(i+1))`` instead of a Python
    double loop."""
    from ..kernels.textstats import hash_str_fast, shingles

    sh = shingles(text, n)
    if not sh:
        return np.zeros(len(perm_salts), dtype=np.uint64)
    base = np.fromiter(
        (hash_str_fast(s) for s in sh), dtype=np.uint64, count=len(sh)
    )
    x = base[:, None] ^ perm_salts[None, :]  # (shingles, perms)
    # splitmix64 finalizer, vectorized on uint64 (wrapping mul)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return x.min(axis=0)


def make_minhash_udf(num_hashes: int = 64, n: int = 3):
    from ..kernels.textstats import mix64

    perm_salts = np.array([mix64(i + 1) for i in range(num_hashes)], dtype=np.uint64)

    @pandas_udf(_SIG_TYPE)
    def mh(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: _np_minhash(t or "", perm_salts, n).astype(np.int64).tolist()
        )

    return mh


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    n: int = 3,
) -> DataFrame:
    """(doc_id, sig) with the shared eager-cache contract: callers that
    run several LSH consumers over one corpus compute this ONCE and pass
    it via ``sigs=``. Cached until spark.catalog.clearCache()."""
    mh = make_minhash_udf(num_hashes, n)
    sigs = df.select(F.col(id_col).alias("doc_id"), mh(F.col(text_col)).alias("sig"))
    sigs.persist().count()
    return sigs


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    max_bucket: int = 200,
    sigs: DataFrame = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH.

    bands×rows = num_hashes; two docs collide when any band of their
    signatures is identical. Oversized buckets (> max_bucket) are dropped
    — at web scale they are boilerplate clusters that exact-dedup already
    catches, and they would otherwise produce O(bucket²) candidates.
    Returns (id_a, id_b, est_jaccard = matching-minhash fraction)."""
    # the eager persist lives in minhash_signatures — three downstream
    # branches (banding, both sides of the candidate join) would
    # otherwise race to compute the UDF before the cache fills.
    # (the banding bucket key inside is a 64-bit xxhash64, not an md5
    # string: the banding shuffle carries bands× the corpus row count at
    # scale, so key width matters; a false 64-bit bucket collision only
    # adds a candidate pair that the est-jaccard filter rejects)
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, num_hashes, n)
    return _lsh_pairs_from_sigs(sigs, num_hashes, bands, max_bucket)


def sql_minhash_lsh_pairs(
    sigs_rel: str,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 200,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle twin of ``minhash_lsh_pairs`` + est-jaccard filter.

    ``sigs_rel``: a relation expression with columns (doc_id, sig) where
    sig is the kernel-computed MinHash signature (precomputed in pure
    Python by tests/make_oracle_fixtures.py — the kernel itself is
    pinned by bit-identity tests). The *relational* LSH math — banding,
    bucket-size cap, candidate pairs, matching-fraction estimate — is
    recomputed here independently."""
    rpb = num_hashes // bands
    return (
        f"WITH sigs AS (SELECT doc_id, sig FROM {sigs_rel}), "
        f"banded AS (SELECT doc_id, b AS band, "
        f"array_to_string(list_transform(list_slice(sig, b*{rpb}+1, b*{rpb}+{rpb}), x -> CAST(x AS VARCHAR)), ',') AS bucket "
        f"FROM sigs, (SELECT unnest(range(0, {bands})) AS b)), "
        f"ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) <= {max_bucket}), "
        "bo AS (SELECT banded.* FROM banded JOIN ok USING (band, bucket)), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM bo a JOIN bo b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id) "
        "SELECT * FROM ("
        "SELECT id_a, id_b, "
        f"round(CAST(len(list_filter(range(1, {num_hashes + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {num_hashes}, 6) AS est_jaccard "
        "FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id) "
        f"WHERE est_jaccard >= {threshold}"
    )


def sql_simhash_pairs(sh_rel: str, max_hamming: int = 3) -> str:
    """DuckDB oracle twin of ``simhash_pairs``: 16-bit banded candidate
    generation + hamming filter over kernel-computed fingerprints
    (``sh_rel``: relation with columns (doc_id, sh))."""
    if max_hamming > 3:
        raise ValueError("oracle twin mirrors the default 4×16-bit banding only")
    return (
        f"WITH sh AS (SELECT doc_id, sh FROM {sh_rel}), "
        "banded AS (SELECT doc_id, sh, b AS band, ((sh >> (b*16)) & 65535) AS bucket "
        "FROM sh, (SELECT unnest(range(0, 4)) AS b)), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b "
        "FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming "
        f"FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}"
    )


def minhash_near_dup_drops(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 200,
    sigs: DataFrame = None,
) -> DataFrame:
    """The DROP set for near-dup removal (one id column) — the
    duplicate-heavy-corpus path.

    ``minhash_lsh_pairs`` materializes candidate *pairs*, which is
    inherently O(group²) when a corpus carries big clusters of
    near-identical docs (template boilerplate); its ``max_bucket`` cap
    bounds the blow-up but lets mega-clusters evade dedup entirely.
    This operator never builds intra-cluster pairs:

    1. identical-signature collapse: group by the FULL signature — all
       non-min members are dropped directly (est-jaccard 1.0 by
       definition), one shuffle, linear output;
    2. only the group representatives (distinct signatures) go through
       banded LSH + est filtering; the id_b of each surviving
       representative pair is dropped.

    Returns a one-column frame (``doc_id``) of ids to remove;
    ``df.join(drops, id_col, "left_anti")`` keeps the survivors.
    Equivalent to the pairs path for small clusters, and strictly more
    complete for clusters larger than ``max_bucket``."""
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, num_hashes, n)

    groups = sigs.groupBy("sig").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("sz")
    )
    dup_members = (
        sigs.join(groups.select("sig", "rep"), "sig")
        .filter(F.col("doc_id") != F.col("rep"))
        .select("doc_id")
    )
    reps = groups.select(F.col("rep").alias("doc_id"), "sig")
    rep_pairs = _lsh_pairs_from_sigs(reps, num_hashes, bands, max_bucket).filter(
        F.col("est_jaccard") >= threshold
    )
    return dup_members.union(rep_pairs.select(F.col("id_b").alias("doc_id"))).distinct()


def minhash_incremental_drops(
    new_df: DataFrame,
    history_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 200,
    sigs: DataFrame = None,
) -> DataFrame:
    """Incremental ingestion dedup: drop set for a NEW batch against an
    immutable historical signature store — the shape a production crawl
    pipeline actually runs (each batch dedups against everything ever
    kept, history is never dropped).

    1. within-batch identical-signature collapse (non-min members drop);
    2. batch representatives whose signature already EXISTS in history
       drop outright;
    3. the remaining representatives go through banded LSH against
       history ∪ survivors with *asymmetric* candidates — (history, new)
       and (new_a < new_b) pairs only, so history cannot be dropped and
       no history×history pair is ever built; est-jaccard ≥ threshold
       drops the new side.

    Returns a one-column (doc_id) drop frame over new-batch ids.
    ``append_history`` builds the updated store. Caller contract: new
    and history ids are disjoint. Like the batch drop-set path, the
    rule is representative-based, not transitive; note that
    representatives dropped in the LSH phase still act as droppers for
    later-id survivors (drop chains through LSH-dropped reps), while
    docs dropped in the exact-signature phases do not.

    In the production nightly loop, compute ``new_sigs =
    minhash_signatures(new_df)`` yourself and pass it BOTH here (as
    ``sigs=``) and to ``append_history`` — you need the handle for the
    store update anyway, and it is also the cache-hygiene contract:
    with ``sigs=None`` this function persists an internal signature
    frame it cannot release (same contract as ``minhash_signatures``;
    unpersist your handle once the drops are materialized).

    Scale: history is corpus-sized — its banding shuffle is the
    dominant recurring cost. At 10^12 docs, persist the banded frame
    (band, bucket, doc_id) alongside the store and feed it here instead
    of re-banding per batch; the relational shape is unchanged."""
    if sigs is None:
        sigs = minhash_signatures(new_df, text_col, id_col, num_hashes, n)
    groups = sigs.groupBy("sig").agg(F.min("doc_id").alias("rep"))
    within_drops = (
        sigs.join(groups, "sig").filter(F.col("doc_id") != F.col("rep")).select("doc_id")
    )
    reps = groups.select(F.col("rep").alias("doc_id"), "sig")
    hist_set = history_sigs.select("sig").distinct()
    exact_hist_drops = reps.join(hist_set, "sig").select("doc_id")
    survivors = reps.join(hist_set, "sig", "left_anti")
    tagged = history_sigs.select(
        "doc_id", "sig", F.lit(False).alias("is_new")
    ).unionByName(survivors.select("doc_id", "sig", F.lit(True).alias("is_new")))
    lsh_drops = _asym_lsh_drops(tagged, num_hashes, bands, max_bucket, threshold)
    return within_drops.union(exact_hist_drops).union(lsh_drops).distinct()


def append_history(
    history_sigs: DataFrame, new_sigs: DataFrame, drops: DataFrame
) -> DataFrame:
    """The updated signature store: history ∪ (new minus drops)."""
    kept = new_sigs.join(drops, "doc_id", "left_anti")
    return history_sigs.select("doc_id", "sig").unionByName(
        kept.select("doc_id", "sig")
    )


def _asym_lsh_drops(
    tagged: DataFrame, num_hashes: int, bands: int, max_bucket: int, threshold: float
) -> DataFrame:
    """Banded-LSH drop ids over a (doc_id, sig, is_new) frame: pairs
    must include a new right side; history never appears as id_b."""
    banded_ok = _banded_ok(tagged, num_hashes, bands, max_bucket, extra_cols=("is_new",))
    a = banded_ok.select(
        F.col("doc_id").alias("id_a"), F.col("is_new").alias("new_a"), "band", "bucket"
    )
    b = banded_ok.filter("is_new").select(F.col("doc_id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (~F.col("new_a") | (F.col("id_a") < F.col("id_b")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = tagged.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = tagged.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(num_hashes)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.round(est, 6) >= threshold)
        .select(F.col("id_b").alias("doc_id"))
    )


def sql_minhash_incremental_drops(
    hist_rel: str,
    new_sigs_rel: str,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 200,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of ``minhash_incremental_drops`` over precomputed
    signature relations (kernel sigs come from fixtures; ALL the
    relational math — grouping, exact-vs-history, asymmetric banding,
    cap, est — is recomputed here independently)."""
    rpb = num_hashes // bands
    return (
        f"WITH hs AS (SELECT doc_id, sig FROM {hist_rel}), "
        f"ns AS (SELECT doc_id, sig FROM {new_sigs_rel}), "
        "g AS (SELECT sig, min(doc_id) AS rep FROM ns GROUP BY sig), "
        "wd AS (SELECT ns.doc_id FROM ns JOIN g ON ns.sig = g.sig WHERE ns.doc_id <> g.rep), "
        "reps AS (SELECT rep AS doc_id, sig FROM g), "
        "hset AS (SELECT DISTINCT sig FROM hs), "
        "ehd AS (SELECT r.doc_id FROM reps r JOIN hset h ON r.sig = h.sig), "
        "surv AS (SELECT r.* FROM reps r WHERE NOT EXISTS (SELECT 1 FROM hset h WHERE h.sig = r.sig)), "
        "tagged AS (SELECT doc_id, sig, FALSE AS is_new FROM hs "
        "UNION ALL SELECT doc_id, sig, TRUE FROM surv), "
        f"banded AS (SELECT doc_id, is_new, b AS band, "
        f"array_to_string(list_transform(list_slice(sig, b*{rpb}+1, b*{rpb}+{rpb}), x -> CAST(x AS VARCHAR)), ',') AS bucket "
        f"FROM tagged, (SELECT unnest(range(0, {bands})) AS b)), "
        f"ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) <= {max_bucket}), "
        "bo AS (SELECT banded.* FROM banded JOIN ok USING (band, bucket)), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM bo a JOIN bo b ON a.band = b.band AND a.bucket = b.bucket "
        "AND b.is_new AND a.doc_id <> b.doc_id AND (NOT a.is_new OR a.doc_id < b.doc_id)), "
        "ld AS (SELECT id_b AS doc_id FROM cand "
        "JOIN tagged sa ON id_a = sa.doc_id JOIN tagged sb ON id_b = sb.doc_id "
        f"WHERE round(CAST(len(list_filter(range(1, {num_hashes + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {num_hashes}, 6) >= {threshold}) "
        "SELECT DISTINCT doc_id FROM (SELECT doc_id FROM wd "
        "UNION ALL SELECT doc_id FROM ehd UNION ALL SELECT doc_id FROM ld)"
    )


def _banded_ok(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket: int,
    extra_cols: tuple = (),
) -> DataFrame:
    """(doc_id, [extra_cols...], band, bucket) rows surviving the
    bucket-size cap — the ONE place the banding math lives (band
    slicing, the 64-bit xxhash64 bucket key whose width rationale is
    documented at minhash_lsh_pairs, and the cap). Shared by the batch
    pairs path and the incremental asymmetric path so they cannot
    diverge."""
    rows_per_band = num_hashes // bands
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = sigs.select(
        "doc_id",
        *extra_cols,
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id", *extra_cols, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    bucket_sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    return banded.join(
        bucket_sizes.filter(F.col("bsz") <= max_bucket).select("band", "bucket"),
        ["band", "bucket"],
    )


def _lsh_pairs_from_sigs(
    sigs: DataFrame, num_hashes: int, bands: int, max_bucket: int
) -> DataFrame:
    """Banded-LSH candidate pairs + est-jaccard over a precomputed
    (doc_id, sig) frame — the relational core of minhash_lsh_pairs."""
    banded_ok = _banded_ok(sigs, num_hashes, bands, max_bucket)
    a = banded_ok.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = banded_ok.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(num_hashes)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
    )


# --- SimHash ----------------------------------------------------------------

@per_call_pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: _to_i64(simhash(t or "")))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    cache_signatures: bool = True,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ t; candidates via band
    collision. Pigeonhole completeness needs more bands than differing
    bits, so the band count adapts to ``max_hamming``: t ≤ 3 → 4×16-bit
    bands, t ≤ 7 → 8×8-bit, t ≤ 15 → 16×4-bit (narrower bands collide
    more → more candidates; keep t small at scale)."""
    if max_hamming <= 3:
        n_bands = 4
    elif max_hamming <= 7:
        n_bands = 8
    elif max_hamming <= 15:
        n_bands = 16
    else:
        raise ValueError(f"max_hamming={max_hamming} needs >16 bands; not supported")
    width = 64 // n_bands
    mask = (1 << width) - 1

    sh = df.select(F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("sh"))
    if cache_signatures:
        # materialize the cache NOW — both sides of the candidate
        # self-join would otherwise recompute the signature UDF. Same
        # persistence contract as minhash_lsh_pairs: the call is eager
        # and the cached signatures live until unpersist/clearCache().
        # One-shot pipelines that must leave no residual cached frames
        # pass cache_signatures=False (double UDF pass, no cache).
        sh.persist().count()

    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("sh"), i * width).bitwiseAND(F.lit(mask)).alias("bucket"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sh.select("doc_id", "sh", F.explode(bands).alias("bb")).select(
        "doc_id", "sh", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = banded.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- embedding cosine near-dup ---------------------------------------------
#
# Scale path = random-hyperplane LSH with the SAME banded/capped shape as
# minhash: the sign sketch is one numpy matmul per Arrow batch (pandas
# UDF — the per-plane Catalyst-literal-HOF formulation this replaces
# built ~n_planes×dim expression nodes and had no OR-amplification),
# bits are packed into per-band bucket keys, a band collision makes a
# candidate, oversized buckets are capped, survivors get ONE exact
# cosine. Recall amplifies across bands: P(candidate) =
# 1 - (1 - (1-θ/π)^bits_per_band)^n_bands.


def hyperplanes(dim: int, n_planes: int = 64, seed: int = 42) -> np.ndarray:
    """Deterministic (n_planes, dim) Gaussian hyperplane matrix — shared
    by the Spark UDF and the pure-numpy oracle fixture generator."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def sign_sketch_bands(mat: np.ndarray, planes: np.ndarray, n_bands: int) -> np.ndarray:
    """(n, dim) float64 → (n, n_bands) int64 band-bucket keys.

    bit i of a band = sign(v · plane_i) ≥ 0, packed MSB-first into
    ``n_planes // n_bands`` bits per band. One matmul for the whole
    batch; no per-row Python."""
    n_planes = planes.shape[0]
    rpb = n_planes // n_bands
    bits = (mat @ planes.T) >= 0.0  # (n, n_planes) bool
    out = np.zeros((mat.shape[0], n_bands), dtype=np.int64)
    for b in range(n_bands):
        val = np.zeros(mat.shape[0], dtype=np.int64)
        for j in range(rpb):
            val = (val << 1) | bits[:, b * rpb + j].astype(np.int64)
        out[:, b] = val
    return out


def embedding_sketches(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    dim: int = None,
    cache: bool = True,
) -> DataFrame:
    """(id, bands: array<long>) — per-vector banded sign sketch via a
    vectorized pandas UDF (template: similarity.assign_cells).

    Same eager-cache contract as :func:`minhash_signatures`: the
    banding/bucket-size/candidate relational core references this frame
    four times, so without the cache the sketch UDF would run four
    passes over the corpus. Cached until unpersist/clearCache — callers
    composing several corpora in one session should unpersist when done
    (or pass ``cache=False`` to trade repeat UDF passes for zero
    residual cache).

    ``dim`` should be passed from table metadata at scale; the fallback
    infers it as the MAJORITY length over a bounded sample — inferring
    from a single first() row would let one truncated vector at the head
    of the table poison the dim and silently null-sketch the whole
    corpus (the ragged-row fallback below then treats the majority as
    corrupt instead of the outlier)."""
    if n_planes % n_bands:
        raise ValueError("n_planes must be a multiple of n_bands")
    from .topk import finite_vec_pred

    nn = emb.filter(finite_vec_pred(F.col(vec_col)))
    if dim is None:
        sample = [
            r[0] for r in nn.select(F.size(vec_col)).limit(256).collect()
        ]
        if not sample:  # empty input → empty sketch frame
            return nn.select(
                F.col(id_col), F.lit(None).cast(_SIG_TYPE).alias("bands")
            ).limit(0)
        from collections import Counter

        dim = Counter(sample).most_common(1)[0][0]
    planes = hyperplanes(dim, n_planes, seed)

    @pandas_udf(_SIG_TYPE)
    def sketch_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        from .batchutil import apply_masked

        # wrong-dim rows get null bands (posexplode skips them — the
        # right semantic, a wrong-dim vector cannot be cosine-compared);
        # the good rows still sketch in ONE matmul per batch
        return pd.Series(
            apply_masked(
                vecs.tolist(),
                dim,
                lambda m: sign_sketch_bands(m, planes, n_bands).tolist(),
            )
        )

    sk = nn.select(F.col(id_col), sketch_udf(F.col(vec_col)).alias("bands"))
    if cache:
        sk.persist().count()
    return sk


def embedding_near_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    max_bucket: int = 200,
    brute_force: bool = False,
    sketches: DataFrame = None,
    cache_sketches: bool = True,
) -> DataFrame:
    """Pairs with cosine ≥ τ over an embedding column.

    Scale path: banded random-hyperplane LSH (see module-level numpy
    kernels) → bucket cap → within-bucket exact cosine. Defaults
    (64 planes / 8 bands of 8 bits) give ≈0.99 recall at τ=0.95; for
    looser thresholds pass fewer bits per band (e.g. n_planes=16,
    n_bands=8 ⇒ ≈0.98 recall at τ=0.35). ``brute_force`` bypasses
    bucketing (oracle baseline, O(n²) — never the production path).

    Shuffle shape matches minhash-LSH: the banding shuffle carries
    n_bands × corpus rows keyed by (band, int64 bucket); oversized
    buckets (dense template clusters) are dropped by ``max_bucket`` —
    at τ ≥ 0.9 those are caught upstream by exact/minhash dedup."""
    from .topk import dot_col, finite_vec_pred, norm_col

    # NaN/±Inf vectors leave the universe like NULLs (finite_vec_pred
    # rationale) — one poisoned component would otherwise give the two
    # engines different NaN-comparison verdicts pair by pair
    emb = emb.filter(finite_vec_pred(F.col(vec_col)))
    # precompute each vector's norm ONCE per side — cosine per pair then
    # needs a single dot, not three (3× less HOF work over the pairs)
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        norm_col(F.col(vec_col)).alias("n_a"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        norm_col(F.col(vec_col)).alias("n_b"),
    )

    if brute_force:
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if sketches is None:
            # cache hygiene: the internally-built sketch frame is cached
            # and its handle dropped — a long-lived session composing
            # several corpora should precompute via embedding_sketches()
            # and pass ``sketches=`` so it can unpersist afterwards, or
            # pass cache_sketches=False (repeat UDF passes, no residue)
            sketches = embedding_sketches(
                emb, vec_col, id_col, n_planes, n_bands, seed,
                cache=cache_sketches,
            )
        cand_ids = _band_candidates(sketches, id_col, max_bucket)
        cand = (
            cand_ids.join(a, cand_ids["id_a"] == a["id_a"])
            .drop(a["id_a"])
            .join(b, cand_ids["id_b"] == b["id_b"])
            .drop(b["id_b"])
        )

    raw_sim = F.when(
        (F.col("n_a") == 0.0) | (F.col("n_b") == 0.0), 0.0
    ).otherwise(dot_col(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")))
    sim = F.round(raw_sim, 6)
    return cand.select("id_a", "id_b", sim.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def exploded_bands(sketches: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bucket) from a (id, bands) sketch frame — the shared
    explode for every banded-LSH consumer (:func:`_band_candidates`
    here; similarity.semantic_dedup's cell-keyed mega-cell path). Null
    bands (wrong-dim vectors) are skipped by posexplode."""
    return sketches.select(
        F.col(id_col), F.posexplode("bands").alias("band", "bucket")
    )


def _band_candidates(sketches: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """(id_a, id_b) distinct band-collision candidates from a
    (id, bands) sketch frame — posexplode → bucket-size cap →
    per-(band, bucket) self-join. Same relational core as
    _lsh_pairs_from_sigs, minus the est-jaccard (the exact cosine is
    the filter here)."""
    banded = exploded_bands(sketches, id_col)
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    ok = banded.join(
        sizes.filter(F.col("bsz") <= max_bucket).select("band", "bucket"),
        ["band", "bucket"],
    )
    a = ok.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = ok.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def sql_embedding_lsh_neardups(
    sketch_rel: str,
    n_bands: int,
    max_bucket: int,
    threshold: float,
    emb_rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle twin of embedding_near_dups' LSH path.

    ``sketch_rel``: relation with (id, bands) where bands is the
    kernel-computed sign sketch (precomputed in pure numpy by
    tests/make_oracle_fixtures.py; the kernel itself is pinned by
    bit-identity tests). Banding, bucket cap, candidate generation and
    the exact left-fold cosine are recomputed relationally here."""
    from .topk import sql_fold_cos

    cos = sql_fold_cos(f"a.{vec_col}", f"b.{vec_col}", round_digits=6)
    return (
        f"WITH sk AS (SELECT {id_col} AS vid, bands FROM {sketch_rel}), "
        f"banded AS (SELECT vid, b AS band, bands[b + 1] AS bucket "
        f"FROM sk, (SELECT unnest(range(0, {n_bands})) AS b)), "
        f"ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket "
        f"HAVING count(*) <= {max_bucket}), "
        "bo AS (SELECT banded.* FROM banded JOIN ok USING (band, bucket)), "
        "cand AS (SELECT DISTINCT x.vid AS id_a, y.vid AS id_b "
        "FROM bo x JOIN bo y ON x.band = y.band AND x.bucket = y.bucket AND x.vid < y.vid) "
        f"SELECT id_a, id_b, cosine FROM (SELECT id_a, id_b, {cos} AS cosine "
        f"FROM cand JOIN {emb_rel} a ON id_a = a.{id_col} "
        f"JOIN {emb_rel} b ON id_b = b.{id_col}) "
        f"WHERE cosine >= {threshold}"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------
#
# The classic local document-fingerprinting scheme: hash every word
# k-gram, slide a window of w consecutive gram hashes, keep the window
# minimum (rightmost occurrence on ties), dedupe the selected
# (position, hash) pairs. Guarantee: any shared token run of length
# >= w + k - 1 produces at least one shared fingerprint, while only
# ~2/(w+1) of grams are retained — the standard index for plagiarism /
# clone / quotation detection over a web corpus (pairs come from a
# plain equi-join on fp, like the shingle index, but ~w/2 times
# smaller).
#
# Scale shape: one narrow projection chain per doc (tokenize → O(L)
# indexed-transform gram hashes → window argmin over per-doc arrays) +
# the final explode — ZERO exchanges; fingerprint selection is
# embarrassingly parallel and partition-invariant by construction.
# Gram hashes are the md5-prefix 52-bit integers (the cross-engine
# device proven by DSIR/sketches), so the whole fingerprint — values
# AND positions — is bit-identical in DuckDB.


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, pos, fp): winnowing fingerprints per doc — ``pos`` is
    the 0-based gram index selected, ``fp`` the 52-bit gram hash.

    Tokenization is the shared lowercase word split; docs with 1..k-1
    tokens fall back to one whole-text gram (mirroring shingle_df's
    short-doc rule) and 0-token docs emit nothing. Docs shorter than
    ``w`` grams use a single window over all grams, so every non-empty
    doc keeps >= 1 fingerprint. Ties inside a window select the
    RIGHTMOST minimum (the paper's rule)."""
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    from .curation import _lower_words

    toks_stage = df.select(
        F.col(id_col).alias("doc_id"),
        _lower_words(F.col(text_col)).alias("__toks"),
    )
    toks = F.col("__toks")
    # O(L) indexed transform (a slice-per-offset gram build is O(L^2)
    # per doc — the measured ngram_jaccard trap); hash streams straight
    # to the 52-bit int, the gram string dies inside the expression
    gram_hash = lambda *cols: F.conv(  # noqa: E731 — local spelling
        F.substring(F.md5(F.concat_ws(" ", *cols)), 1, 13), 16, 10
    ).cast("long")
    hashes_all = F.transform(
        toks,
        lambda t, i: F.when(
            i <= F.size(toks) - k,
            gram_hash(t, *[F.get(toks, i + j) for j in range(1, k)]),
        ),
    )
    hs = (
        F.when(
            F.size(toks) >= k,
            F.filter(hashes_all, lambda h: h.isNotNull()),
        )
        .when(F.size(toks) > 0, F.array(gram_hash(F.concat_ws(" ", toks))))
        .otherwise(F.array().cast("array<long>"))
    )
    hashed = toks_stage.select("doc_id", hs.alias("hs"))
    staged = hashed.select(
        "doc_id",
        "hs",
        F.least(F.lit(w), F.size("hs")).alias("wp"),
        F.when(F.size("hs") == 0, F.array().cast("array<int>"))
        .otherwise(F.sequence(F.lit(0), F.greatest(F.size("hs") - w, F.lit(0))))
        .alias("wins"),
    )
    # rightmost-min: wp - position of the min in the REVERSED window
    fps = F.expr(
        "array_distinct(transform(wins, j -> array("
        "CAST(j AS BIGINT) + wp"
        " - array_position(reverse(slice(hs, j + 1, wp)),"
        "                  array_min(slice(hs, j + 1, wp))),"
        "array_min(slice(hs, j + 1, wp)))))"
    )
    return staged.select("doc_id", F.explode(fps).alias("pf")).select(
        "doc_id",
        F.element_at("pf", 1).alias("pos"),
        F.element_at("pf", 2).alias("fp"),
    )


def sql_winnow_fingerprints(
    rel: str = "documents",
    k: int = 3,
    w: int = 4,
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` — same tokenization
    (shared _sql_lower_words fragment), same md5-prefix gram hash, same
    window/tie rules; per-doc array_distinct becomes a row-level
    DISTINCT (equal multisets: (pos, fp) pairs are unique per doc)."""
    from .curation import _sql_lower_words

    gram_h = (
        "CAST('0x' || substr(md5(array_to_string("
        "list_slice(toks, i, i + {kk}), ' ')), 1, 13) AS BIGINT)"
    ).format(kk=k - 1)
    whole_h = (
        "CAST('0x' || substr(md5(array_to_string(toks, ' ')), 1, 13) AS BIGINT)"
    )
    return (
        f"WITH t1 AS (SELECT {id_expr} AS doc_id, "
        f"{_sql_lower_words(text_expr)} AS toks FROM {rel}), "
        "t2 AS (SELECT doc_id, CASE "
        f"WHEN len(toks) >= {k} THEN "
        f"list_transform(generate_series(1, len(toks) - {k} + 1), i -> {gram_h}) "
        f"WHEN len(toks) >= 1 THEN [{whole_h}] "
        "ELSE CAST([] AS BIGINT[]) END AS hs FROM t1), "
        "t3 AS (SELECT doc_id, hs, "
        f"least({w}, len(hs)) AS wp, "
        "CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[]) "
        f"ELSE generate_series(0, greatest(len(hs) - {w}, 0)) END AS wins "
        "FROM t2) "
        "SELECT DISTINCT doc_id, "
        "CAST(j AS BIGINT) + wp - list_position("
        "list_reverse(list_slice(hs, j + 1, j + wp)), "
        "list_min(list_slice(hs, j + 1, j + wp))) AS pos, "
        "list_min(list_slice(hs, j + 1, j + wp)) AS fp "
        "FROM t3, unnest(wins) AS u(j)"
    )


# --- edit-distance verification of candidate pairs --------------------------

# one codepoint -> one '?' on BOTH engines, so DuckDB's byte-level
# levenshtein and Spark's codepoint-level one see identical strings
# (exact for ASCII text; non-ASCII runs gate at codepoint granularity)
_ASCII_FOLD_RE = "[^\\x00-\\x7F]"


def edit_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    doc_id: str = "doc_id",
    text_col: str = "text",
    max_dist_pct: int = 20,
    prefix_chars: int = 500,
) -> DataFrame:
    """(id_a, id_b, edit_dist, len_a, len_b, is_dup): the VERIFICATION
    pass that closes the near-dup funnel — LSH/simhash candidates are
    probabilistic; this confirms each pair with a real edit distance so
    the drop decision has a deterministic, explainable basis (the
    "verify before you delete" rule every production dedup runs).

    ``is_dup`` is the integer-domain gate ``100·dist ≤ max_dist_pct ·
    max(len_a, len_b)`` — no float division, and empty-vs-empty pairs
    gate as duplicates (0 ≤ 0). Distance is computed over the first
    ``prefix_chars`` codepoints with non-ASCII folded to ``?`` (one
    codepoint → one byte, so Spark's codepoint-level levenshtein and
    DuckDB's byte-level one agree; exact for ASCII text, codepoint-
    granular for the rest). Lengths reported are the gated prefix
    lengths.

    Scale shape: two hash joins to attach the texts (pairs are the
    LSH survivor set — orders of magnitude smaller than the corpus)
    and one per-row O(prefix²) JVM levenshtein, bounded by the prefix
    cap; nothing shuffles on text, only on the id keys. For tighter
    budgets Spark ≥3.5 offers banded ``levenshtein(l, r, threshold)``
    — kept off here because the twin must gate identically.
    """
    folded = F.regexp_replace(
        F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, prefix_chars),
        _ASCII_FOLD_RE,
        "?",
    )
    d = docs.select(F.col(doc_id).alias("d_id"), folded.alias("d_txt"))
    p = pairs.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b"))
    joined = (
        p.join(d.withColumnRenamed("d_id", "id_a").withColumnRenamed("d_txt", "txt_a"), "id_a")
        .join(d.withColumnRenamed("d_id", "id_b").withColumnRenamed("d_txt", "txt_b"), "id_b")
    )
    return joined.select(
        "id_a",
        "id_b",
        F.levenshtein("txt_a", "txt_b").cast("long").alias("edit_dist"),
        F.length("txt_a").cast("long").alias("len_a"),
        F.length("txt_b").cast("long").alias("len_b"),
        (
            100 * F.levenshtein("txt_a", "txt_b")
            <= F.lit(max_dist_pct) * F.greatest(F.length("txt_a"), F.length("txt_b"))
        ).alias("is_dup"),
    )


def sql_edit_verify_pairs(
    pairs_select: str,
    docs_select: str,
    max_dist_pct: int = 20,
    prefix_chars: int = 500,
) -> str:
    """DuckDB twin of :func:`edit_verify_pairs` over subqueries yielding
    (id_a, id_b) and (doc_id, text) — same prefix, ASCII fold, byte ==
    codepoint levenshtein, and integer gate."""
    fold = (
        f"regexp_replace(substring(coalesce(text, ''), 1, {prefix_chars}), "
        f"'{_ASCII_FOLD_RE}', '?', 'g')"
    )
    return (
        f"WITH p AS ({pairs_select}), src AS ({docs_select}), "
        f"d AS (SELECT doc_id AS d_id, {fold} AS d_txt FROM src) "
        "SELECT p.id_a, p.id_b, "
        "CAST(levenshtein(a.d_txt, b.d_txt) AS BIGINT) AS edit_dist, "
        "CAST(length(a.d_txt) AS BIGINT) AS len_a, "
        "CAST(length(b.d_txt) AS BIGINT) AS len_b, "
        f"100 * levenshtein(a.d_txt, b.d_txt) <= {max_dist_pct} * "
        "greatest(length(a.d_txt), length(b.d_txt)) AS is_dup "
        "FROM p JOIN d a ON p.id_a = a.d_id JOIN d b ON p.id_b = b.d_id"
    )


# ---------------------------------------------------------------------------
# Cross-source overlap matrix (provenance / contamination diagnostic)
# ---------------------------------------------------------------------------


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """(src_a, src_b, n_shared, a_pm, b_pm): for every unordered source
    pair, the count of distinct word-``n``-shingles they SHARE, plus
    per-mille containment in each direction (shared·1000 div that
    source's distinct-shingle total) — the provenance matrix that shows
    which corpus slices are mirrors/syndicators of each other BEFORE
    mixture weights are assigned (two sources with a_pm ≈ 1000 are the
    same corpus twice; dedup handles the documents, this shows the
    sources).

    Scale shape: shingles via the shared :func:`shingle_df` home →
    distinct (source, shingle) → ONE shingle-keyed groupBy collecting
    the sorted source set (bounded by the SOURCE DIMENSION, not corpus
    size — a shingle's row is ≤ #sources entries) → pair explode
    (≤ S²/2 per shingle) → pair-keyed combinable count bounded by S²
    rows. No self-join on the corpus, no window, no Python. The DuckDB
    twin IS the self-join formulation — same result, different physical
    plan. NULL sources are dropped (Spark collect_set and the twin's
    join would disagree on NULL semantics, and an unattributable slice
    has no row in a provenance matrix)."""
    sh = (
        shingle_df(
            df.filter(F.col(source_col).isNotNull()), text_col, source_col, n=n
        )
        .withColumnRenamed("doc_id", "source")
        .distinct()
    )
    tot = sh.groupBy("source").agg(F.count("*").alias("n_tot"))
    grp = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    pairs = (
        grp.filter(F.size("ss") >= 2)
        .select(F.explode("ss").alias("src_a"), F.col("ss"))
        .select(
            "src_a",
            F.explode(
                F.filter(F.col("ss"), lambda x: x > F.col("src_a"))
            ).alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n_tot").alias("na"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n_tot").alias("nb"))
    return (
        pairs.join(ta, "src_a")
        .join(tb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.expr("n_shared * 1000 div na").alias("a_pm"),
            F.expr("n_shared * 1000 div nb").alias("b_pm"),
        )
        .orderBy("src_a", "src_b")
    )


def sql_source_overlap(shingle_select: str) -> str:
    """DuckDB twin of :func:`source_overlap` over a ``(source,
    shingle)`` SELECT (the ngram_jaccard twin's shingle construction
    carrying source — the hll_by_source precedent): the self-join
    formulation, identical result."""
    return (
        f"WITH sh AS (SELECT DISTINCT source, shingle FROM ({shingle_select}) "
        "WHERE source IS NOT NULL), "
        "tt AS (SELECT source, count(*) AS n_tot FROM sh GROUP BY source), "
        "p AS (SELECT a.source AS src_a, b.source AS src_b, "
        "count(*) AS n_shared FROM sh a JOIN sh b "
        "ON a.shingle = b.shingle AND a.source < b.source "
        "GROUP BY 1, 2) "
        "SELECT src_a, src_b, n_shared, "
        "n_shared * 1000 // ta.n_tot AS a_pm, "
        "n_shared * 1000 // tb.n_tot AS b_pm "
        "FROM p JOIN tt ta ON p.src_a = ta.source "
        "JOIN tt tb ON p.src_b = tb.source ORDER BY src_a, src_b"
    )


# --- native SimHash (no Python crossing) -------------------------------------
#
# simhash_udf above replays the reference kernel bit-for-bit through a
# pandas UDF; this variant is the ALL-JVM form for pipelines that want a
# near-dup signature without any Python stage: word hash = the repo's
# cross-engine md5-prefix 52-bit integer (the ngram_jaccard convention),
# sig bit b = majority vote of bit b over word OCCURRENCES (unit
# weights, ties → 0). One staged projection computes the hash array
# once; the per-bit counts are 52 higher-order filters over that array —
# O(52·L) per row, a narrow shuffle-free map whose constant factor is
# the price of codegen'd JVM execution with zero Arrow crossings. The
# DuckDB twin (sql_native_simhash) builds the identical 52 CASE terms,
# so the signature is bit-identical cross-engine — which the Python
# kernel simhash, with its salted-hash dependence, deliberately is not.

NATIVE_SIMHASH_BITS = 52


def native_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = NATIVE_SIMHASH_BITS,
) -> DataFrame:
    """(doc_id, n_tokens, sig): all-native 52-bit SimHash."""
    if not (1 <= bits <= 52):
        raise ValueError(f"native_simhash: bits must be in [1, 52], got {bits}")
    from .curation import _lower_words

    toks = _lower_words(F.coalesce(F.col(text_col), F.lit("")))
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            toks,
            lambda w: F.conv(F.substring(F.md5(w), 1, 13), 16, 10).cast("long"),
        ).alias("h"),
    ).select("doc_id", "h", F.size("h").cast("long").alias("n_tokens"))
    # one-parameter lambdas built by a factory: a `lambda x, b=b:`
    # default arg would make F.filter pass the element INDEX into b
    def _bit_set(b: int):
        return lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1

    cnt = [
        F.size(F.filter(F.col("h"), _bit_set(b))).cast("long")
        for b in range(bits)
    ]
    sig = None
    for b in range(bits):
        term = F.when(
            cnt[b] * 2 > F.col("n_tokens"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return staged.select("doc_id", "n_tokens", sig.alias("sig"))


def sql_native_simhash(
    rel: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
    bits: int = NATIVE_SIMHASH_BITS,
) -> str:
    """DuckDB twin of :func:`native_simhash` — same md5-prefix word
    hash, same majority vote, same tie rule."""
    from .curation import _sql_lower_words

    toks = _sql_lower_words(f"coalesce({text_expr}, '')")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> (x >> {b}) & 1 = 1)) "
        f"> len(h) THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return (
        f"WITH t AS (SELECT {id_expr} AS doc_id, "
        f"list_transform({toks}, w -> CAST('0x' || substr(md5(w), 1, 13) "
        f"AS BIGINT)) AS h FROM {rel}) "
        "SELECT doc_id, CAST(len(h) AS BIGINT) AS n_tokens, "
        f"CAST({terms} AS BIGINT) AS sig FROM t"
    )
