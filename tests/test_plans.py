"""Pipeline, lineage/checkpoint-resume, and streaming tests."""

import os
import time

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.sources.pages import synth_pages_df


@pytest.fixture(scope="module")
def pages(spark):
    # materialize the cache NOW: getPersistentRDDs only lists a frame
    # once computed, so a lazily-cached fixture materializing inside
    # test_cache_hygiene would read as that test's own "leak" when the
    # module runs in isolation (-k cache_hygiene)
    df = synth_pages_df(spark, 80).cache()
    df.count()
    return df


class TestPipeline:
    def test_turns_table_shape(self, spark, pages):
        from pdf_extraction_spark.plans.pipeline import turns_table

        turns = turns_table(pages)
        rows = turns.limit(50).collect()
        assert rows
        cols = set(turns.columns)
        assert {
            "url", "company", "speaker", "content", "turn_pos", "date",
            "speaker_role", "word_count", "content_length", "chunk_id",
            "quarter", "fiscal_year",
        } <= cols
        # company = first path segment uppercased
        for r in rows:
            assert r.company == r.url.split("/")[3].upper()

    def test_full_pipeline_runs(self, spark, pages):
        from pdf_extraction_spark.plans.pipeline import full_pipeline

        frames = full_pipeline(pages)
        assert frames["filtered"].count() <= frames["turns"].count()
        cats = frames["categorized"]
        assert cats.filter(F.col("category") == "General").count() >= 0
        report = frames["report"].collect()
        assert all(r.total_documents > 0 for r in report)
        execs = frames["executives"]
        # at least some speakers match the MANAGEMENT rosters
        assert execs.count() > 0
        assert {"executive", "executive_role"} <= set(execs.columns)

    def test_partitioned_sink(self, spark, pages, tmp_path):
        from pdf_extraction_spark.plans.pipeline import (
            categorized_chunks,
            filtered_chunks,
            turns_table,
            write_partitioned,
        )

        out = str(tmp_path / "by_cat")
        chunks = categorized_chunks(filtered_chunks(turns_table(pages)))
        write_partitioned(chunks, out)
        # partition dirs exist per company
        companies = [d for d in os.listdir(out) if d.startswith("company=")]
        assert companies
        back = spark.read.parquet(out)
        assert back.count() == chunks.count()


class TestCurate:
    def test_curate_pipeline(self, spark, pages):
        from pdf_extraction_spark.plans.curate import curate_corpus

        out = curate_corpus(pages, min_tokens=10, languages=("en",))
        docs = out["docs"]
        rows = docs.select("url", "token_count", "detected_lang", "stopword_ratio").collect()
        assert rows
        for r in rows:
            assert r.token_count >= 10
            assert r.detected_lang == "en"
        # non-en synth rows (~8%) must be gone
        assert len(rows) < pages.count()
        stats = out["stats"].collect()
        assert sum(r.n_docs for r in stats) == len(rows)
        # skewed host0 should dominate the stats
        top = max(stats, key=lambda r: r.n_docs)
        assert top.host == "host0.example"

    def test_cache_hygiene(self, spark, pages):
        """Materialize every returned frame, then release the returned
        ``caches`` → no residual cached frames beyond what the session
        already held (long-lived sessions composing several corpora must
        not leak curate's caches). The cache layout does not depend on
        the options: a gated call returns as many caches."""
        from pdf_extraction_spark.plans.curate import curate_corpus

        jsc = spark.sparkContext._jsc

        def cached_ids():
            # compare id SETS, not counts: the async ContextCleaner may
            # release other tests' unreferenced cache entries mid-test,
            # so absolute sizes can shrink under us (seen in CI)
            return {k for k in jsc.getPersistentRDDs().keySet().toArray()}

        baseline = cached_ids()
        # minhash_bits differs from the earlier pipeline test so the
        # signature plan is distinct — Spark's cache manager would
        # otherwise silently reuse that test's (leaked) cache entry
        out = curate_corpus(pages, min_tokens=10, languages=("en",), minhash_bits=24)
        out["docs"].count()
        out["neardup_pairs"].count()
        out["stats"].count()
        assert cached_ids() - baseline  # cached in-job
        for frame in out["caches"]:
            frame.unpersist(blocking=True)
        assert not (cached_ids() - baseline)
        # lazy on purpose: only the layout is compared, nothing runs
        # beyond the eager fill, which the unpersist below releases
        gated = curate_corpus(
            pages, min_tokens=10, languages=("en",), minhash_bits=24, host_cap_k=5
        )
        assert len(gated["caches"]) == len(out["caches"])
        for frame in gated["caches"]:
            frame.unpersist(blocking=True)
        assert not (cached_ids() - baseline)

    def test_outputs_read_the_cache_not_extraction(self, spark, pages):
        """``docs`` and ``stats`` read curate's cached frames: no Python
        stage (extraction, langid, MinHash) runs outside an
        InMemoryTableScan of their executed plans. The walk follows
        ``children()`` only — an InMemoryTableScan's ``innerChildren``
        is the cached plan, which does hold the Python stages — and
        enters the AdaptiveSparkPlan leaf through its current plan."""
        from pdf_extraction_spark.plans.curate import curate_corpus

        def python_outside_cache(df):
            found, todo = [], [df._jdf.queryExecution().executedPlan()]
            while todo:
                node = todo.pop()
                name = node.nodeName()
                if name == "InMemoryTableScan":
                    continue
                if name == "AdaptiveSparkPlan":
                    todo.append(node.executedPlan())
                    continue
                if "MapInPandas" in name or "ArrowEvalPython" in name:
                    found.append(name)
                kids = node.children()
                todo.extend(kids.apply(i) for i in range(kids.size()))
            return found

        out = curate_corpus(pages, min_tokens=10, languages=("en",), minhash_bits=20)
        for name in ("docs", "stats"):
            assert not python_outside_cache(out[name]), name
        for frame in out["caches"]:
            frame.unpersist()

    def test_model_gates_compose(self, spark, pages):
        """The optional LM / classifier / host-cap gates only ever
        shrink the corpus and compose without conflict."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.plans.curate import curate_corpus

        base = curate_corpus(pages, min_tokens=10, languages=("en",))
        n_base = base["docs"].count()
        weights = spark.range(4096).select(
            F.format_string("%03x", F.col("id")).alias("bucket"),
            (((F.col("id") * 2654435761) % 2001 - 1000) / 1000.0).alias("w"),
        )
        gated = curate_corpus(
            pages,
            min_tokens=10,
            languages=("en",),
            min_lm_logprob=-6.0,
            classifier=(weights, 0.1, 0.2),
            host_cap_k=50,
        )
        n_gated = gated["docs"].count()
        assert 0 < n_gated <= n_base
        # host cap actually binds: no host exceeds k — grouped by the
        # SAME host key the gate uses
        from pdf_extraction_spark.operators.skew import host_col

        hosts = (
            gated["docs"]
            .groupBy(host_col(F.col("url")))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert hosts <= 50
        for out in (base, gated):
            for frame in out["caches"]:
                frame.unpersist()

    def test_simhash_no_cache_flag(self, spark, pages):
        from pdf_extraction_spark.operators.dedup import simhash_pairs
        from pdf_extraction_spark.plans.curate import curate_corpus  # noqa: F401

        docs = pages.selectExpr(
            "url",
            "xxhash64(url) AS doc_id",
            # 5 distinct texts → plenty of identical-fingerprint pairs
            "concat('sample doc text variant ', CAST(pmod(xxhash64(url), 5) AS STRING)) AS text",
        )
        jsc = spark.sparkContext._jsc

        def cached_ids():
            # id sets, not counts: the async ContextCleaner may release
            # OTHER tests' stale entries mid-test
            return {k for k in jsc.getPersistentRDDs().keySet().toArray()}

        baseline = cached_ids()
        cached = simhash_pairs(docs, "text", "doc_id", cache_signatures=True)
        cached.count()
        new_ids = cached_ids() - baseline
        assert len(new_ids) == 1
        uncached = simhash_pairs(docs, "text", "doc_id", cache_signatures=False)
        assert sorted(map(tuple, uncached.collect())) == sorted(
            map(tuple, cached.collect())
        )
        assert cached_ids() - baseline == new_ids  # no new cache


    def test_published_pipeline_stages_compose(self, spark, pages):
        """The round-4 stages (RefinedWeb + C4 cleaners, CCNet tercile
        keep, SemDeDup) wire into curate_corpus and only ever shrink
        the corpus; the cleaners run BEFORE analysis so downstream
        stats reflect the cleaned text."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.plans.curate import curate_corpus

        base = curate_corpus(pages, min_tokens=5, languages=("en",))
        n_base = base["docs"].count()

        full = curate_corpus(
            pages,
            min_tokens=5,
            languages=("en",),
            refinedweb=True,
            c4=True,
            ppl_keep=("head", "middle"),
            semdedup_threshold=0.35,
            semdedup_cells=4,
        )
        docs = full["docs"]
        n_full = docs.count()
        assert 0 < n_full <= n_base
        # the tercile gate binds: roughly the bottom third per language
        # is gone (ties only ever keep MORE, never fewer)
        ppl_only = curate_corpus(
            pages, min_tokens=5, languages=("en",), ppl_keep=("head", "middle")
        )
        n_ppl = ppl_only["docs"].count()
        pre = curate_corpus(pages, min_tokens=5, languages=("en",))["docs"].count()
        assert n_ppl < pre
        # cleaned text flows downstream: token counts recomputed on the
        # cleaned column, no doc exceeds its raw-text token count
        raw_tokens = {
            r["doc_id"]: r["token_count"]
            for r in base["docs"].select("doc_id", "token_count").collect()
        }
        for r in docs.select("doc_id", "token_count").collect():
            if r["doc_id"] in raw_tokens:
                assert r["token_count"] <= raw_tokens[r["doc_id"]]
        for c in full["caches"]:
            c.unpersist()
        for c in base["caches"] + ppl_only["caches"]:
            c.unpersist()
        spark.catalog.clearCache()

    def test_justext_stage_strips_blocks_before_analysis(self, spark, pages):
        """The jusText stage rebuilds text from final-good blocks only:
        every surviving doc's lines are a subset of its raw lines (in
        order), all-bad pages disappear, and downstream token counts
        never exceed the raw ones."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.plans.curate import curate_corpus

        base = curate_corpus(pages, min_tokens=1, languages=("en",))
        raw = {
            r["doc_id"]: (r["text"], r["token_count"])
            for r in base["docs"].select("doc_id", "text", "token_count").collect()
        }
        # lenient thresholds so blocks survive the compact stoplist
        jt = curate_corpus(
            pages,
            min_tokens=1,
            languages=("en",),
            justext=True,
        )
        docs = jt["docs"].select("doc_id", "text", "token_count").collect()
        assert 0 < len(docs) <= len(raw)
        for r in docs:
            raw_text, raw_tokens = raw[r["doc_id"]]
            raw_lines = raw_text.split("\n")
            kept = r["text"].split("\n")
            # kept lines appear in the raw text in the same order
            it = iter(raw_lines)
            assert all(line in it for line in kept), r["doc_id"]
            assert r["token_count"] <= raw_tokens
        for c in base["caches"] + jt["caches"]:
            c.unpersist()
        spark.catalog.clearCache()

    def test_dsir_stage_selects_exactly_k(self, spark, pages):
        """The DSIR stage is the FINAL gate: exactly k docs survive
        (or all, when k exceeds the gated corpus), each present in the
        ungated output, and the draw is deterministic across calls."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.plans.curate import curate_corpus

        base = curate_corpus(pages, min_tokens=5, languages=("en",))
        n_base = base["docs"].count()
        target = base["docs"].orderBy("doc_id").limit(5).select("text")
        k = max(1, n_base // 2)
        out = curate_corpus(
            pages,
            min_tokens=5,
            languages=("en",),
            dsir_target=target,
            dsir_k=k,
        )
        picked = out["docs"]
        ids = sorted(r.doc_id for r in picked.select("doc_id").collect())
        assert len(ids) == min(k, n_base)
        base_ids = {r.doc_id for r in base["docs"].select("doc_id").collect()}
        assert set(ids) <= base_ids
        again = curate_corpus(
            pages, min_tokens=5, languages=("en",), dsir_target=target, dsir_k=k
        )
        ids2 = sorted(r.doc_id for r in again["docs"].select("doc_id").collect())
        assert ids == ids2
        for c in out["caches"] + base["caches"] + again["caches"]:
            c.unpersist()
        spark.catalog.clearCache()


class TestLineageResume:
    def test_checkpoint_resume(self, spark, pages, tmp_path):
        from pdf_extraction_spark.plans.lineage import (
            LINEAGE_SCHEMA,
            run_checkpointed_extraction,
        )

        out = str(tmp_path / "ckpt")
        # first run dies after bucket 2's data commit, before its
        # lineage commit
        with pytest.raises(RuntimeError, match="injected failure"):
            run_checkpointed_extraction(spark, pages, out, n_buckets=4, fail_bucket=2)

        lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(os.path.join(out, "lineage"))
        done_before = {r.snapshot_id for r in lineage.select("snapshot_id").distinct().collect()}
        assert done_before == {0, 1}  # bucket 2 data landed but is NOT marked done

        # resume: buckets 0,1 skipped; 2 (reprocessed idempotently) and 3 run
        stats = run_checkpointed_extraction(spark, pages, out, n_buckets=4)
        assert stats["skipped_buckets"] == [0, 1]
        assert stats["processed_buckets"] == [2, 3]
        assert stats["total_docs"] == pages.count()

        # lineage complete: one row per (bucket, partition) with counts
        lineage = spark.read.parquet(os.path.join(out, "lineage"))
        agg = lineage.agg(F.sum("doc_count").alias("n"), F.min("bytes").alias("b")).first()
        assert agg.n == pages.count()
        assert agg.b > 0
        vers = {r.extractor_version for r in lineage.select("extractor_version").distinct().collect()}
        assert len(vers) == 1

        # second resume is a no-op
        stats2 = run_checkpointed_extraction(spark, pages, out, n_buckets=4)
        assert stats2["processed_buckets"] == []
        assert stats2["total_docs"] == pages.count()

        # the per-bucket loop reads the ONCE-staged bucketed input with
        # partition pruning — not a repeated full scan filtered on a
        # computed pmod key (which could never prune)
        assert os.path.exists(os.path.join(out, "staged", "_SUCCESS"))
        staged = spark.read.parquet(os.path.join(out, "staged"))
        plan = staged.filter(F.col("bucket") == 1)._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan

    def test_two_jobs_per_bucket_all_in_the_callers_group(self, spark, pages, tmp_path):
        """Each bucket is one docs write plus one lineage job, and the run
        adds staging and the total: 2B+2. The writes run on a background
        thread; a write job that lost the caller's local properties would
        be missing from the group. A failed run leaves no job running."""
        from pdf_extraction_spark.plans.lineage import LINEAGE_SCHEMA, run_checkpointed_extraction

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"lineage-jobs-{tmp_path.name}"  # unique per run of the test
        sc.setJobGroup(group, "run_checkpointed_extraction job count")
        try:
            stats = run_checkpointed_extraction(spark, pages, str(tmp_path / "ok"), n_buckets=4)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = tracker.getJobIdsForGroup(group)
            with pytest.raises(RuntimeError, match="injected failure"):
                run_checkpointed_extraction(
                    spark, pages, str(tmp_path / "killed"), n_buckets=4, fail_bucket=2
                )
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            active = tracker.getActiveJobsIds()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)

        filled = spark.read.schema(LINEAGE_SCHEMA).parquet(stats["lineage_path"])
        n_filled = filled.select("snapshot_id").distinct().count()
        assert stats["processed_buckets"] == [0, 1, 2, 3] and n_filled == 4
        assert len(jobs) == 2 * n_filled + 2
        assert active == []

    def test_empty_bucket(self, spark, pages, tmp_path):
        """A bucket with no pages commits as zero rows: the docs read-back
        uses the known schema, so nothing has to be inferred from an
        empty partition. It writes no lineage row, so a resumed run
        re-runs it as an empty job."""
        from pdf_extraction_spark.kernels.extract import extract_document_text
        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        bucket = F.pmod(F.xxhash64("url"), F.lit(8))
        few = pages.filter(bucket != 0).orderBy("url").limit(3).cache()
        assert few.filter(bucket == 0).count() == 0
        out = str(tmp_path / "empty_bucket")
        stats = run_checkpointed_extraction(spark, few, out, n_buckets=8)
        assert 0 in stats["processed_buckets"]
        assert stats["total_docs"] == few.count() == 3

        # every bucket survives the later buckets' commits: each write
        # overwrites only its own partition
        got = {
            r.url: r.text
            for r in spark.read.parquet(stats["docs_path"]).select("url", "text").collect()
        }
        want = {
            r.url: extract_document_text(r.url, bytes(r.html))
            for r in few.select("url", "html").collect()
        }
        assert got == want

        lineage = spark.read.parquet(stats["lineage_path"])
        assert 0 not in {r.snapshot_id for r in lineage.select("snapshot_id").collect()}
        # resume re-runs exactly the empty buckets, as empty jobs
        filled = {r.b for r in few.select(bucket.alias("b")).collect()}
        again = run_checkpointed_extraction(spark, few, out, n_buckets=8)
        assert again["processed_buckets"] == sorted(set(range(8)) - filled)
        assert again["total_docs"] == 3
        few.unpersist()

    def test_empty_buckets_do_not_grow_lineage(self, spark, pages, tmp_path):
        """3 pages over 8 buckets leave at least 5 buckets empty; each
        resume re-runs them, and they must append nothing to lineage/."""
        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        few = pages.orderBy("url").limit(3).cache()
        out = str(tmp_path / "resumes")
        counts = []
        for _ in range(3):
            stats = run_checkpointed_extraction(spark, few, out, n_buckets=8)
            assert stats["total_docs"] == 3
            counts.append(len(os.listdir(stats["lineage_path"])))
        few.unpersist()
        assert counts[0] == counts[1] == counts[2], counts

    def test_writes_release_their_accumulators(self, spark, pages, tmp_path):
        """Each docs write reports its lineage rows through an accumulator
        that PySpark would keep registered for the life of the application:
        two full runs in one session must leave the registry as it was."""
        from pyspark.accumulators import _accumulatorRegistry

        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        before = len(_accumulatorRegistry)
        for name in ("first", "second"):
            stats = run_checkpointed_extraction(spark, pages, str(tmp_path / name), n_buckets=4)
            assert stats["processed_buckets"] == [0, 1, 2, 3]
            assert len(_accumulatorRegistry) == before, name

    def test_docs_hold_only_extracted_columns(self, spark, pages, tmp_path):
        """Lineage comes from the write's tasks, so the docs table is the
        extraction's own columns plus the partition key, nothing else."""
        from pdf_extraction_spark.operators.extract import FUSED_SCHEMA
        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        stats = run_checkpointed_extraction(spark, pages, str(tmp_path / "cols"), n_buckets=2)
        fused = spark.createDataFrame([], FUSED_SCHEMA).columns
        assert spark.read.parquet(stats["docs_path"]).columns == fused + ["bucket"]

    def test_same_pages_write_identical_docs(self, spark, pages, tmp_path):
        """Two runs over the same pages write byte-identical docs part
        files, bucket by bucket (file names carry a job id, so the
        contents are compared)."""
        import glob
        import hashlib

        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        def digests(out):
            docs = run_checkpointed_extraction(spark, pages, out, n_buckets=4)["docs_path"]
            return sorted(
                (os.path.basename(os.path.dirname(f)), hashlib.sha256(open(f, "rb").read()).digest())
                for f in glob.glob(os.path.join(docs, "bucket=*", "part-*"))
            )

        first = digests(str(tmp_path / "a"))
        assert len(first) >= 4
        assert first == digests(str(tmp_path / "b"))

    def test_corrupt_lineage_fails_before_any_docs_write(self, spark, pages, tmp_path):
        """An unreadable lineage file is an error, not an empty completed
        set: read as empty, it would recompute every bucket (and the sink
        would re-commit redelivered batches) before failing later on the
        same file."""
        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        out = tmp_path / "corrupt"
        (out / "lineage").mkdir(parents=True)
        (out / "lineage" / "part-00000-corrupt.parquet").write_bytes(b"not parquet")
        with pytest.raises(Exception, match="part-00000-corrupt.parquet"):
            run_checkpointed_extraction(spark, pages, str(out), n_buckets=2)
        assert not (out / "docs").exists()

    def test_session_overwrite_mode_unchanged(self, spark, pages, tmp_path):
        """Both commit callers overwrite per write; neither leaves the
        caller's session switched to dynamic partition overwrite."""
        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction
        from pdf_extraction_spark.streaming.sink import make_extraction_sink

        key = "spark.sql.sources.partitionOverwriteMode"
        original = spark.conf.get(key)
        try:
            spark.conf.set(key, "STATIC")
            before = spark.conf.get(key)
            run_checkpointed_extraction(spark, pages, str(tmp_path / "batch"), n_buckets=2)
            assert spark.conf.get(key) == before
            make_extraction_sink(str(tmp_path / "sink"))(pages, 0)
            assert spark.conf.get(key) == before
        finally:
            spark.conf.set(key, original)


class TestStreaming:
    def test_windowed_counts_stream_matches_batch(self, spark, tmp_path):
        from pdf_extraction_spark.streaming.events import (
            read_events_stream,
            run_stream_to_memory,
            windowed_event_counts,
        )

        src = "/root/testdata/sf0.001/events.parquet"
        events = spark.read.parquet(src)
        stream_dir = str(tmp_path / "events_stream")
        events.write.parquet(stream_dir)

        schema = events.schema.simpleString()[7:-1].replace(":", " ").replace(",", ", ")
        stream = read_events_stream(spark, stream_dir, events.schema)
        q = run_stream_to_memory(windowed_event_counts(stream), "win_counts")
        q.awaitTermination(120)

        got = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        expect = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in windowed_event_counts(events.withWatermark("ts", "2 hours")).collect()
        }
        # append mode only emits windows the watermark has closed: the
        # final ≤ watermark+window span stays open at end-of-stream
        assert got and set(got) <= set(expect)
        for k in got:
            assert got[k] == expect[k]
        import datetime

        max_ts = max(r.ts for r in events.select("ts").collect())
        for window_start, _etype in set(expect) - set(got):
            assert window_start >= max_ts - datetime.timedelta(hours=3)

    def test_stateful_running_counts(self, spark, tmp_path):
        from pdf_extraction_spark.streaming.stateful import running_user_counts

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        stream_dir = str(tmp_path / "ev_state")
        events.write.parquet(stream_dir)
        stream = spark.readStream.schema(events.schema).parquet(stream_dir)
        q = (
            running_user_counts(stream)
            .writeStream.format("memory")
            .queryName("running_counts")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # ProcessingTimeTimeout keeps an availableNow query running no-data
        # batches forever: wait for the data batch, then stop it
        try:
            deadline = time.time() + 120
            while not any(p.numInputRows for p in q.recentProgress):
                assert q.exception() is None and time.time() < deadline
                time.sleep(0.2)
        finally:
            q.stop()
        got = {
            r.user_id: r.n_events
            for r in spark.sql(
                "SELECT user_id, max(n_events) n_events FROM running_counts GROUP BY user_id"
            ).collect()
        }
        expect = {
            r.user_id: r.c
            for r in events.groupBy("user_id").agg(F.count("*").alias("c")).collect()
        }
        assert got == expect

    def test_session_window_stream_subset_of_batch(self, spark, tmp_path):
        from pdf_extraction_spark.streaming.stateful import session_stats

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        stream_dir = str(tmp_path / "ev_sess")
        events.write.parquet(stream_dir)
        stream = spark.readStream.schema(events.schema).parquet(stream_dir)
        q = (
            session_stats(stream, watermark="2 hours")
            .writeStream.format("memory")
            .queryName("sess")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.session_start): (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM sess").collect()
        }
        expect = {
            (r.user_id, r.session_start): (r.n_events, r.total_value)
            for r in session_stats(events).collect()
        }
        assert got and set(got) <= set(expect)
        for k, v in got.items():
            assert v == expect[k]

    def test_streaming_dedup(self, spark, tmp_path):
        """Ingest dedup: re-delivered urls and mirrored payloads collapse
        to first-delivery-wins within the watermark horizon."""
        from pdf_extraction_spark.sources.pages import PAGES_SCHEMA, synth_pages_df
        from pdf_extraction_spark.streaming.dedup import (
            dedup_stream_by_content,
            dedup_stream_by_url,
        )
        from pdf_extraction_spark.streaming.events import run_stream_to_memory

        base = synth_pages_df(spark, 20)
        # re-deliver everything once (same url, same bytes, later ts)
        redelivered = base.withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 MINUTE")
        )
        # plus one mirror: same bytes under a different url
        mirror = base.limit(1).withColumn("url", F.concat(F.col("url"), F.lit("?mirror")))
        stream_dir = str(tmp_path / "dup_stream")
        base.unionByName(redelivered).unionByName(mirror).write.parquet(stream_dir)
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(stream_dir)

        q = run_stream_to_memory(dedup_stream_by_url(stream), "dedup_url")
        q.awaitTermination(180)
        urls = [r.url for r in spark.sql("SELECT url FROM dedup_url").collect()]
        assert len(urls) == len(set(urls)) == 21  # 20 distinct + the mirror url

        stream2 = spark.readStream.schema(PAGES_SCHEMA).parquet(stream_dir)
        q2 = run_stream_to_memory(dedup_stream_by_content(stream2), "dedup_content")
        q2.awaitTermination(180)
        n = spark.sql("SELECT count(*) c FROM dedup_content").first().c
        assert n == 20  # mirror payload collapsed too

    def test_streaming_dedup_against_history(self, spark, tmp_path):
        """Stream-static anti join vs the signature store: docs already
        in history are dropped in-flight; stream and batch agree on
        what 'already seen' means (same signature kernel)."""
        from pdf_extraction_spark.operators.dedup import minhash_signatures
        from pdf_extraction_spark.streaming.dedup import (
            dedup_stream_against_history,
        )
        from pdf_extraction_spark.streaming.events import run_stream_to_memory

        hist_docs = spark.createDataFrame(
            [(i, f"historical document number {i} body text here") for i in range(5)],
            "doc_id long, text string",
        )
        history = minhash_signatures(hist_docs, num_hashes=32)
        # incoming: 3 exact re-crawls of history + 4 genuinely new
        incoming = spark.createDataFrame(
            [(100 + i, f"historical document number {i} body text here") for i in range(3)]
            + [(200 + i, f"fresh streaming document {i} never seen before") for i in range(4)],
            "doc_id long, text string",
        )
        stream_dir = str(tmp_path / "hist_stream")
        incoming.write.parquet(stream_dir)
        stream = spark.readStream.schema(incoming.schema).parquet(stream_dir)
        q = run_stream_to_memory(
            dedup_stream_against_history(stream, history), "vs_history"
        )
        q.awaitTermination(180)
        kept = {r.doc_id for r in spark.sql("SELECT doc_id FROM vs_history").collect()}
        assert kept == {200, 201, 202, 203}
        history.unpersist()

    def test_empty_first_batch_sink(self, spark, pages, tmp_path):
        """ADVICE fix: an empty first-ever micro-batch used to write a
        schema-less docs dir whose lineage read-back failed the whole
        query; the sink now short-circuits and the next real batch
        commits normally."""
        import os as _os

        from pdf_extraction_spark.streaming.sink import make_extraction_sink

        out = str(tmp_path / "empty_first_out")
        sink = make_extraction_sink(out)
        sink(pages.limit(0), 0)  # must not raise, must not write docs
        assert not _os.path.exists(_os.path.join(out, "docs"))
        sink(pages, 1)
        docs = spark.read.parquet(_os.path.join(out, "docs"))
        assert docs.count() == pages.count()

    def test_streaming_exactly_once_sink(self, spark, pages, tmp_path):
        """Streaming extraction with the lineage commit protocol:
        drains available input, is idempotent on batch redelivery, and a
        restarted query reprocesses nothing."""
        import os as _os

        from pdf_extraction_spark.sources.pages import PAGES_SCHEMA
        from pdf_extraction_spark.plans.lineage import completed_buckets
        from pdf_extraction_spark.streaming.sink import (
            make_extraction_sink,
            run_streaming_extraction_to_parquet,
        )

        src = str(tmp_path / "stream_src")
        out = str(tmp_path / "stream_out")
        pages.write.parquet(src)

        q = run_streaming_extraction_to_parquet(spark, src, out, PAGES_SCHEMA)
        q.awaitTermination(180)
        docs = spark.read.parquet(_os.path.join(out, "docs"))
        n1 = docs.count()
        assert n1 == pages.count()
        lineage = spark.read.parquet(_os.path.join(out, "lineage"))
        assert lineage.agg(F.sum("doc_count")).first()[0] == n1
        done = completed_buckets(spark, _os.path.join(out, "lineage"))
        assert done  # at least one committed batch

        # redeliver a committed batch straight into the sink → no-op
        sink = make_extraction_sink(out)
        sink(pages, min(done))
        assert spark.read.parquet(_os.path.join(out, "docs")).count() == n1

        # restart the query on the same checkpoint → nothing new
        q2 = run_streaming_extraction_to_parquet(spark, src, out, PAGES_SCHEMA)
        q2.awaitTermination(180)
        assert spark.read.parquet(_os.path.join(out, "docs")).count() == n1

    def test_streaming_extraction(self, spark, pages, tmp_path):
        from pdf_extraction_spark.sources.pages import PAGES_SCHEMA
        from pdf_extraction_spark.streaming.events import (
            run_stream_to_memory,
            streaming_extraction,
        )

        stream_dir = str(tmp_path / "pages_stream")
        pages.write.parquet(stream_dir)
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(stream_dir)
        q = run_stream_to_memory(streaming_extraction(stream), "stream_docs")
        q.awaitTermination(180)
        n = spark.sql("SELECT count(*) c FROM stream_docs").first().c
        assert n == pages.count()


@pytest.fixture
def keep_shuffle_partitions(spark):
    """scripts/run_curation.py's get_spark() getOrCreates the test session
    and sizes its shuffle partitions from the host's cores: put the test
    session's value back for the tests that follow."""
    n = spark.conf.get("spark.sql.shuffle.partitions")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", n)


class TestCurationCli:
    def test_run_curation_end_to_end(self, spark, tmp_path, keep_shuffle_partitions):
        """scripts/run_curation.py main() in-process (getOrCreate reuses
        the test session): synth pages → curated, packed, partitioned
        corpus + pack/host stats on disk."""
        import importlib.util
        import os as _os

        spec = importlib.util.spec_from_file_location(
            "run_curation", _os.path.join(_os.path.dirname(__file__), "..", "scripts", "run_curation.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)

        out = str(tmp_path / "corpus_out")
        mod.main(["--synth", "80", "--output", out, "--budget", "256", "--shards", "4",
                  "--min-tokens", "10"])

        corpus = spark.read.parquet(_os.path.join(out, "corpus"))
        n = corpus.count()
        assert n > 0
        cols = set(corpus.columns)
        assert {"doc_id", "url", "text", "token_count", "shard", "seq_id", "offset_in_seq"} <= cols
        # curation gates actually applied
        assert corpus.filter(F.col("detected_lang") != "en").count() == 0
        assert corpus.filter(F.col("token_count") < 10).count() == 0
        # packing assignment total and in-range
        assert corpus.select("doc_id").distinct().count() == n
        assert corpus.filter((F.col("offset_in_seq") < 0) | (F.col("offset_in_seq") >= 256)).count() == 0
        assert spark.read.parquet(_os.path.join(out, "pack_stats")).count() > 0
        assert spark.read.parquet(_os.path.join(out, "host_stats")).count() > 0


class TestReleaseCli:
    def test_release_drops_the_partition_key(
        self, spark, pages, tmp_path, keep_shuffle_partitions, monkeypatch
    ):
        """scripts/run_release.py main() in-process over a bucketed
        extraction output: the released corpus carries the extraction's
        columns, not its ``bucket`` partition key."""
        import glob
        import importlib.util

        import pyarrow.parquet as pq
        from pyspark.sql import SparkSession

        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        spec = importlib.util.spec_from_file_location(
            "run_release", os.path.join(os.path.dirname(__file__), "..", "scripts", "run_release.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)

        docs = run_checkpointed_extraction(spark, pages, str(tmp_path / "extract"), n_buckets=2)["docs_path"]
        langs = ",".join(sorted({r.lang for r in spark.read.parquet(docs).select("lang").distinct().collect()}))
        out = str(tmp_path / "release")
        monkeypatch.setattr(SparkSession, "stop", lambda self: None)  # keep the shared test session
        mod.main(["--docs", docs, "--output", out, "--shards", "4", "--min-tokens", "1",
                  "--languages", langs])

        files = glob.glob(os.path.join(out, "corpus", "shard=*", "*.parquet"))
        assert files
        for f in files:
            names = pq.read_schema(f).names
            assert "bucket" not in names, (f, names)
            assert {"url", "text", "lang", "doc_id"} <= set(names)


class TestCorpusCard:
    def test_card_on_documents(self, spark):
        import json

        from pdf_extraction_spark.plans.card import corpus_card

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        card = corpus_card(docs)
        json.dumps(card)  # JSON-ready
        assert card["n_docs"] == 500
        assert card["total_tokens"] > 0
        assert 0.0 <= card["gopher_pass_rate"] <= 1.0
        assert 0.0 <= card["exact_dup_rate"] < 1.0
        assert sum(card["languages"].values()) == 500
        assert card["top_groups"] and card["top_groups"][0]["n_docs"] >= card["top_groups"][-1]["n_docs"]
        # sf0.001 documents carry known exact duplicates (dedup_exact
        # oracle found groups at sf0.01; here just internal consistency)
        docs2 = docs.select("doc_id", "text", "source")
        assert corpus_card(docs2)["n_docs"] == card["n_docs"]

    def test_card_custom_id_col(self, spark):
        """ADVICE fix: scrub_pii renames its id to 'doc_id'; the card
        must alias it back so non-default id columns join correctly."""
        from pdf_extraction_spark.plans.card import corpus_card

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(120)
            .withColumnRenamed("doc_id", "page_id")
        )
        card = corpus_card(docs, id_col="page_id")
        assert card["n_docs"] == 120

    def test_card_written_by_cli(self, spark, tmp_path, keep_shuffle_partitions):
        import importlib.util
        import json
        import os as _os

        spec = importlib.util.spec_from_file_location(
            "run_curation2", _os.path.join(_os.path.dirname(__file__), "..", "scripts", "run_curation.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        out = str(tmp_path / "card_out")
        mod.main(["--synth", "50", "--output", out, "--min-tokens", "10"])
        card = json.load(open(_os.path.join(out, "data_card.json")))
        assert card["n_docs"] > 0 and card["languages"]
