"""Physical-plan regression guards.

PLANS.md documents the plan shapes the engine promises (no Python in
native paths, broadcast not theta joins, TakeOrderedAndProject top-k,
pruned scans). These tests pin the load-bearing ones so a refactor that
silently introduces a Python UDF, a cartesian product, or a global sort
fails CI instead of surviving until a 100 TB run.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_python(df, name):
    p = _plan(df)
    hits = [m for m in PY_MARKERS if m in p]
    assert not hits, f"{name} plan contains Python stages {hits}"


NATIVE_QUERIES = [
    "filter_short", "word_stats", "quality_score", "speaker_role",
    "chunk_filter", "categorize", "category_counts", "fin_revenue",
    "fin_quarters", "executive_join", "top3_per_segment", "events_rollup",
    "recency_weights", "weighted_rerank", "cosine_topk", "dedup_exact",
    "dedup_wordset", "ngram_jaccard", "text_ratios", "token_count",
    "gopher_quality", "dedup_lines", "pii_scrub", "stratified_sample",
    "nation_revenue", "keep_last", "salted_agg", "url_dates",
    "embedding_neardup", "corpus_profile", "category_pivot",
    "dedup_keepfirst", "url_canonical", "top_ngram_frac", "dup_ngram_frac",
    "dedup_paragraphs", "host_cap", "qual_classify", "lm_score",
    "fix_mojibake", "weighted_mix", "dedup_spans", "ppl_buckets",
    "refinedweb_lines", "dedup_url", "dsir_select", "host_pagerank", "host_trustrank", "winnow_fp", "script_profile", "html_meta", "phrase_search",
    "bpe_merges", "bpe_encode", "hll_words", "cms_topwords", "bloom_dedup",
    "unigram_entropy", "host_quality", "html_outlinks", "host_boilerplate",
    "robots_gate", "outlink_pagerank", "anchor_terms", "pmi_colloc",
    "doc_keyterms", "host_hits", "readability", "snapshot_delta",
    "frontier_sched", "robots_rules", "robots_allow", "containment",
    "sitemap_parse", "crawl_plan", "domain_parse", "template_pages",
    "url_traps", "spam_mass", "shard_manifest", "host_communities",
    "justext_blocks", "compaction_plan", "mixture_plan",
    "cc_scrub", "soft404", "group_quartiles", "html_pubdate",
    "link_profile", "hreflang_alts", "sentences", "meta_keywords",
    "heading_outline", "jsonld_types", "html_tables", "lang_mix",
    "lexical_diversity", "og_card", "img_alt_pairs", "page_shape",
    "norm_punct", "quantize_emb", "pq_encode", "pq_topk", "holdout_split",
    "hll_by_source", "hist_quantiles", "bpe_fertility", "vocab_growth",
    "group_sample", "temp_mixture", "source_kl", "robust_outliers",
    "zipf_slope", "source_overlap", "host_wilson", "surt_keys",
    "sb_trigram", "dimsum", "sentence_chunks", "gate_auc", "gate_pr", "rank_corr", "gate_calibration",
    "blocklist_gate", "simhash_native", "layout_order",
    "rrf_fuse", "gate_ndcg", "rank_rbo", "mmr_topk",
    "cocite_hosts", "couple_hosts", "mirror_hosts", "apss_pairs",
    "funnel_steps", "host_triangles", "moore_lewis", "mass_gini",
    "textrank_terms", "hrw_shards", "facility_location", "bm25f_topk",
    "qlm_topk", "prf_bm25", "nepotism", "bot_regularity", "benford",
    "hyperball", "rake_phrases", "host_kcore", "host_assort",
    "host_salsa", "bursts", "harmonic", "snippets", "texttiles",
    "readability_panel", "yule_k", "modularity", "link_predict",
    "bowtie", "gate_map", "gate_kappa", "host_quota", "good_turing",
    "keyness", "nb_classify", "ams_f2", "host_katz", "clean_bleu", "ks_drift", "gate_mcnemar", "js_sources", "cusum_drift", "centroid_classify", "ct_langid", "bigram_entropy", "burrows_delta", "kmv_overlap", "powerlaw_fit", "graph_summary", "cramers_v", "runs_test", "table_profile", "table_checks", "cooccur_rules",
]


@pytest.mark.parametrize("name", NATIVE_QUERIES)
def test_native_queries_have_no_python_stage(spark, name):
    import __spark_entry__ as e

    _assert_no_python(e.queries()[name](spark, SF), name)


def test_no_cartesian_products_anywhere(spark):
    """No query may plan a cartesian/broadcast nested-loop join (the
    O(n²) shapes); the one intentional exception is the brute-force
    embedding near-dup oracle mode (id_a < id_b theta join)."""
    import __spark_entry__ as e

    allowed = {"embedding_neardup"}
    for name, fn in e.queries().items():
        if name in allowed:
            continue
        p = _plan(fn(spark, SF))
        assert "CartesianProduct" not in p, f"{name} plans a cartesian product"


def test_topk_is_heap_not_global_sort(spark):
    import __spark_entry__ as e

    p = _plan(e.queries()["cosine_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p


def _py4j_commands(fn) -> int:
    """Py4J commands ``fn()`` sends to the JVM. Py4J's detaches of
    proxies freed earlier ('m d') are not the call's own and arrive at
    random points, so they are left out."""
    import gc

    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return send(self, command)

    gc.collect()
    ClientServerConnection.send_command = counting
    try:
        fn()
    finally:
        ClientServerConnection.send_command = send
    return sum(not c.startswith("m\nd\n") for c in sent)


def test_query_vector_plans_in_few_py4j_calls(spark):
    """A RAG question and a cosine top-k are built on the driver, where
    every Py4J call costs ~0.1-0.2 ms. The literal query vector is one
    SQL expression, so building them takes a few dozen calls that do
    not grow with the dimension (a Column-built fold took ~1000 per
    question)."""
    from pdf_extraction_spark.operators.topk import cosine_topk
    from pdf_extraction_spark.plans.rag import rag_search

    chunks = spark.createDataFrame(
        [(1, "ACME", "2024-01-01", 5.0, [0.5] * 64)],
        "chunk_id long, company string, date string, quality_score double, embedding array<double>",
    )
    for company in (None, "acme"):
        rag_search(chunks, "revenue growth", company_filter=company)  # warm
        n = _py4j_commands(lambda: rag_search(chunks, "revenue growth", company_filter=company))
        assert n <= 60, f"rag_search (company={company}) sent {n} Py4J commands"
    emb = chunks.withColumnRenamed("chunk_id", "vec_id")
    cosine_topk(emb, [0.25] * 8)  # warm
    by_dim = {d: _py4j_commands(lambda: cosine_topk(emb, [0.25] * d)) for d in (8, 64)}
    assert by_dim[8] == by_dim[64], by_dim


def test_topk_batch_is_bounded_tree_not_window(spark):
    """brute_force_topk_batch must rank via the bounded top-k reduction
    tree (hostcap shape), NOT a row_number window — a window funnels all
    N·Q scored rows through one task per query (single-partition-per-
    query exchange), where only k survive."""
    import __spark_entry__ as e

    p = _plan(e.queries()["topk_batch"](spark, SF))
    assert "Window" not in p, "topk_batch plans a global window rank"
    # the scoring UDF is the only Python stage AND runs exactly once —
    # a bare explode over the UDF column would duplicate it into two
    # chained ArrowEvalPython stages via the generator's pushed
    # size>0 pre-filter (the explode_outer fix)
    assert p.count("ArrowEvalPython") == 1


def test_roster_extract_single_python_stage(spark):
    """extract_executives must plan its roster UDF exactly once (the
    explode_outer fix — see test_topk_batch comment)."""
    import __spark_entry__ as e

    p = _plan(e.queries()["roster_extract"](spark, SF))
    assert p.count("ArrowEvalPython") == 1


def test_executive_join_is_broadcast(spark):
    import __spark_entry__ as e

    p = _plan(e.queries()["executive_join"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_extraction_has_single_python_crossing(spark):
    import __spark_entry__ as e

    p = _plan(e.queries()["extract_pipeline"](spark, SF))
    # exactly 2: the synthetic-pages GENERATOR is one mapInPandas, the
    # fused extract+clean+parse is the other — the pipeline itself has
    # a single crossing (on real input the generator node is a scan)
    assert p.count("MapInPandas") == 2
    assert "BatchEvalPython" not in p

    from pdf_extraction_spark.operators.extract import extract_parse
    from pdf_extraction_spark.sources.pages import read_pages

    real = extract_parse(read_pages(spark, f"{SF}/documents.parquet").limit(0))
    # on a table scan input: exactly ONE Python crossing
    assert _plan(real).count("MapInPandas") == 1


@pytest.mark.parametrize("path", ["extract_counted", "turns_table"])
def test_ingest_and_rag_extraction_single_python_crossing(spark, path):
    """The extraction paths the ingest job (plans.lineage) and the RAG
    fact table (plans.pipeline) run: on a table-scan input, exactly ONE
    fused MapInPandas and no per-column Python UDF stage."""
    from pdf_extraction_spark.plans.lineage import extract_counted
    from pdf_extraction_spark.plans.pipeline import turns_table
    from pdf_extraction_spark.sources.pages import read_pages

    build = {"extract_counted": lambda p: extract_counted(p)[0], "turns_table": turns_table}[path]
    p = _plan(build(read_pages(spark, f"{SF}/documents.parquet").limit(0)))
    assert p.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_embedding_lsh_single_python_crossing(spark):
    """The reworked LSH path: the pandas-UDF sign sketch runs ONCE
    (eager cache, minhash contract) and every one of the relational
    core's four references reads the InMemoryRelation — textually the
    UDF appears only inside cached-relation definitions, never as a live
    stage. Banding, bucket cap, candidate join, exact cosine all native;
    no cartesian shape anywhere."""
    import __spark_entry__ as e

    p = _plan(e.queries()["embedding_lsh"](spark, SF))
    assert "InMemoryTableScan" in p  # sketch computed once, reused
    assert p.count("ArrowEvalPython") == p.count("InMemoryTableScan")
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ivf_assign_single_python_crossing(spark):
    import __spark_entry__ as e

    p = _plan(e.queries()["ivf_assign"](spark, SF))
    assert p.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in p


def test_scan_pruning_reaches_parquet(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(docs.filter(F.col("lang") == "en").select("doc_id", "n_chars"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p
    assert "text" not in p.split("ReadSchema")[1].splitlines()[0]


def test_content_spans_single_python_crossing(spark):
    """content_spans plans exactly one crossing beyond the synthetic-
    pages generator (same contract as the extraction pipeline)."""
    import __spark_entry__ as e

    p = _plan(e.queries()["content_spans"](spark, SF))
    assert p.count("MapInPandas") == 2  # generator + span scanner
    assert "BatchEvalPython" not in p and "Exchange" not in p


def test_group_sample_is_bounded_tree_not_window(spark):
    """group_sample must sample via the bounded top-k reduction tree
    (host_cap shape), NOT a per-group row_number window — a window
    funnels a mega-group through one task."""
    import __spark_entry__ as e

    p = _plan(e.queries()["group_sample"](spark, SF))
    assert "Window" not in p, "group_sample plans a per-group window"


def test_porter_stems_single_python_stage(spark):
    """The stem UDF is the only Python stage and runs exactly once."""
    import __spark_entry__ as e

    p = _plan(e.queries()["porter_stems"](spark, SF))
    assert p.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in p


def test_compress_gate_single_python_stage(spark):
    import __spark_entry__ as e

    p = _plan(e.queries()["compress_gate"](spark, SF))
    assert p.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in p
