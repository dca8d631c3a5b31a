"""Corpus curation plan: raw pages → clean training-data corpus.

The composition a web-scale training-data pipeline runs after
extraction, in dependency order chosen so each stage shrinks the data
before the next (cheapest-first, dedup before quality so near-dup
clusters are scored once):

1. extract + segment (fused UDF)                — narrow map
2. language ID + token/quality stats            — narrow map
3. exact dedup (normalized-text hash)           — 1 shuffle on a 64-bit key
4. near-dup flagging (MinHash-LSH)              — banded shuffle, capped buckets
5. quality gate (score + length + lang filters) — pushdown-able predicates
6. per-host / per-lang corpus stats             — salted rollup

Each stage is an operator from ``..operators``; this module only wires
them. Output: the curated docs frame + a stats frame (the corpus card).
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    drop_exact_duplicates,
    make_minhash_udf,
    minhash_lsh_pairs,
    minhash_near_dup_drops,
)
from ..operators.extract import extract_parse
from ..operators.skew import host_col, salted_agg
from ..operators.textanalysis import langid_udf, token_count_col, with_quality_ratios


def curate_corpus(
    pages: DataFrame,
    min_tokens: int = 20,
    max_stopword_ratio: float = 0.7,
    languages: tuple = ("en",),
    neardup_threshold: float = 0.8,
    minhash_bits: int = 32,
    bands: int = 8,
    min_lm_logprob: float = None,
    classifier: tuple = None,
    host_cap_k: int = None,
    justext: bool = False,
    refinedweb: bool = False,
    c4: bool = False,
    ppl_keep: tuple = None,
    semdedup_threshold: float = None,
    semdedup_cells: int = None,
    dsir_target: DataFrame = None,
    dsir_k: int = None,
) -> dict:
    """Returns {'docs': curated frame, 'neardup_pairs': flagged pairs,
    'stats': per-host rollup, 'caches': the two cached frames}.

    Optional model-based gates (all off by default, applied after the
    cheap filters): ``min_lm_logprob`` — self-trained bigram LM fluency
    floor (docs with no tokens have no fluency evidence and are KEPT,
    matching the classifier's bias-scored treatment); ``classifier`` —
    (weights_df, bias, min_prob) hashed linear quality gate;
    ``host_cap_k`` — per-host contribution cap;
    ``justext`` — jusText block-level boilerplate strip applied FIRST
    (text rebuilt from final-good blocks in original order; all-bad
    pages disappear), so the line-level cleaners and every downstream
    stat see only main-content blocks;
    ``refinedweb`` / ``c4`` — published line-level cleaners applied to
    the EXTRACTED text before analysis/dedup (RefinedWeb §G.2 line
    corrections + 5% page budget; C4 §2.2 line filter + page gate), so
    every downstream stat and signature sees the cleaned text;
    ``ppl_keep`` — CCNet perplexity-tercile keep set per detected
    language, e.g. ("head", "middle"); ``semdedup_threshold`` — SemDeDup
    pass over deterministic document embeddings (centroids trained
    in-corpus; ``semdedup_cells`` overrides the sqrt-N default);
    ``dsir_target`` + ``dsir_k`` — DSIR importance resampling as the
    FINAL stage (runs after every gate, so the log-likelihood-ratio
    model is fit on the cleaned corpus): keep the ``dsir_k`` surviving
    docs whose hashed-n-gram distribution best matches the target
    frame's ``text`` column, Gumbel-top-k without replacement.

    Caching is the same whatever the options: two frames, listed in
    ``result['caches']``. The first holds the exact-deduplicated,
    analyzed docs with their MinHash signatures; it is filled eagerly
    here, so extraction, language ID, the quality stats and MinHash run
    once per call. The second holds the docs after the near-dup drop and
    the cheap filters; it fills on first use, and the gates, ``docs`` and
    ``stats`` all read it. Some gates are partially eager (LM training
    counts the token stream). Once the returned frames are materialized,
    unpersist every frame in ``result['caches']``: in a long-lived
    session composing several corpora they would otherwise accumulate
    until clearCache()."""
    docs = extract_parse(pages).withColumn("doc_id", F.xxhash64("url"))

    if justext:
        # block-level boilerplate strip FIRST (jusText operates on the
        # page's block structure; the line-level RefinedWeb/C4 cleaners
        # then see only main-content blocks) — docs whose every block
        # classifies bad disappear, like the rw/c4 page gates below
        from ..operators.justext import justext_strip

        docs = justext_strip(docs, "text", "doc_id")
    if refinedweb:
        from ..operators.curation import with_refinedweb_flags

        rw = with_refinedweb_flags(docs, "text", "doc_id")
        docs = docs.drop("text").join(
            rw.filter(F.col("rw_pass")).select(
                "doc_id", F.col("rw_text").alias("text")
            ),
            "doc_id",
        )
    if c4:
        from ..operators.curation import with_c4_flags

        cf = with_c4_flags(docs, "text", "doc_id")
        docs = docs.drop("text").join(
            cf.filter(F.col("c4_pass")).select(
                "doc_id", F.col("c4_text").alias("text")
            ),
            "doc_id",
        )

    analyzed = (
        with_quality_ratios(docs, "text")
        .withColumn("token_count", token_count_col(F.col("text")))
        .withColumn("detected_lang", langid_udf(F.col("text")))
    )

    # the one eager cache: the LSH drop set reads the signatures from
    # several branches of one job, and every later frame reads the docs
    signed = drop_exact_duplicates(analyzed, "text", "doc_id").withColumn(
        "sig", make_minhash_udf(minhash_bits, 3)(F.col("text"))
    ).persist()
    signed.count()
    sigs = signed.select("doc_id", "sig")
    unique = signed.drop("sig")

    # pair-free drop set: identical signatures collapse before banding,
    # so boilerplate mega-clusters can neither blow up the candidate
    # join nor evade dedup through the bucket cap (equivalent to the
    # pairs path on small clusters — asserted in tests)
    drop_ids = minhash_near_dup_drops(
        unique, "text", "doc_id",
        num_hashes=minhash_bits, bands=bands, threshold=neardup_threshold,
        sigs=sigs,
    )
    deduped = unique.join(drop_ids, "doc_id", "left_anti")
    # the flagged-pairs view (for inspection/reporting) keeps the pairs API
    neardup_pairs = minhash_lsh_pairs(
        unique, "text", "doc_id", num_hashes=minhash_bits, bands=bands, sigs=sigs
    ).filter(F.col("est_jaccard") >= neardup_threshold)

    # cached too: the docs and stats outputs and every gate's scoring
    # subtree would otherwise each re-run the LSH drop set
    curated = deduped.filter(
        (F.col("token_count") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
        & (F.col("detected_lang").isin(list(languages)))
    ).persist()
    caches = [signed, curated]

    # optional model-based gates (after the cheap filters so the
    # exploded-token scoring passes run over the smallest frame)
    if min_lm_logprob is not None:
        from ..operators.mlfilter import score_bigram_lm, train_bigram_lm

        lm_scores = score_bigram_lm(curated, train_bigram_lm(curated))
        # anti-join on the FAILING set: docs with no LM row (no tokens)
        # have no fluency evidence and are kept, matching the
        # classifier gate's treatment of token-less docs (scored at
        # bias) rather than silently vanishing on an inner join
        curated = curated.join(
            lm_scores.filter(F.col("avg_logprob") < min_lm_logprob).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    if classifier is not None:
        from ..operators.mlfilter import score_quality

        weights, bias, min_prob = classifier
        q = score_quality(curated, weights, bias)
        curated = curated.join(
            q.filter(F.col("prob") >= min_prob).select("doc_id"), "doc_id"
        )
    if host_cap_k is not None:
        from ..operators.hostcap import host_cap

        kept = host_cap(
            curated.withColumn("__host", host_col(F.col("url"))),
            F.col("token_count").cast("double"),
            host_col="__host",
            k=host_cap_k,
        )
        curated = curated.join(kept.select("doc_id"), "doc_id")

    if ppl_keep is not None:
        from ..operators.mlfilter import (
            bucket_by_lm_score,
            score_bigram_lm,
            train_bigram_lm,
        )

        scored = score_bigram_lm(curated, train_bigram_lm(curated)).join(
            curated.select("doc_id", F.col("detected_lang").alias("lang")),
            "doc_id",
        )
        curated = curated.join(
            bucket_by_lm_score(scored)
            .filter(F.col("bucket").isin(list(ppl_keep)))
            .select("doc_id"),
            "doc_id",
        )
    if semdedup_threshold is not None:
        from ..operators.embed import embed_documents
        from ..operators.similarity import (
            default_n_cells,
            semantic_dedup,
            train_centroids,
        )

        emb = embed_documents(
            curated.select("doc_id", "text"), text_col="text"
        ).select("doc_id", "embedding")
        n_cells = (
            semdedup_cells
            if semdedup_cells is not None
            else default_n_cells(emb.count())
        )
        cents = train_centroids(emb, n_cells=n_cells)
        kept = semantic_dedup(
            emb, cents, threshold=semdedup_threshold, id_col="doc_id"
        ).filter(F.col("kept"))
        curated = curated.join(kept.select("doc_id"), "doc_id")

    if dsir_target is not None:
        from ..operators.mlfilter import dsir_select

        picked = dsir_select(curated, dsir_target, k=dsir_k or 1000)
        curated = curated.join(picked.select("doc_id"), "doc_id")

    stats = salted_agg(
        curated,
        host_col(F.col("url")),
        {
            "n_docs": (F.count("*"), F.sum),
            "total_tokens": (F.sum("token_count"), F.sum),
        },
        salt_buckets=16,
    ).withColumnRenamed("key", "host")

    return {
        "docs": curated,
        "neardup_pairs": neardup_pairs,
        "stats": stats,
        "caches": caches,
    }
