"""Release sharding + integrity manifest: determinism, partition
invariance, mergeability, tamper detection, NULL hygiene. Cross-engine
twin parity lives in the strict oracle sweep (shard_manifest) and the
adversarial hostile-input sweep."""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.release import (
    merge_manifests,
    shard_manifest,
    with_shard,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_manifest_partition_invariant(spark, docs):
    """The digest fold is associative+commutative, so the manifest is
    identical on any partitioning — the property that makes it valid
    evidence across cluster layouts."""
    a = _rows(shard_manifest(docs.repartition(1), n_shards=8))
    b = _rows(shard_manifest(docs.repartition(17, "lang"), n_shards=8))
    assert a == b


def test_manifest_row_order_invariant(spark, docs):
    shuffled = docs.orderBy(F.md5(F.col("text").cast("string")))
    assert _rows(shard_manifest(shuffled, n_shards=8)) == _rows(
        shard_manifest(docs, n_shards=8)
    )


def test_writer_and_manifest_agree_on_membership(spark, docs):
    """Counts per shard from the writer path (with_shard) must equal
    the manifest's n_docs — one home for the shard hash."""
    w = {
        r.shard: r.n
        for r in with_shard(docs, 8).groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    m = {r.shard: r.n_docs for r in shard_manifest(docs, n_shards=8).collect()}
    assert w == m


def test_submanifests_merge_to_whole(spark, docs):
    """Disjoint sub-corpus manifests fold to the whole-corpus manifest
    exactly — every executor / daily increment can manifest alone."""
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    part_b = docs.filter(F.col("doc_id") % 2 == 1)
    merged = merge_manifests(
        shard_manifest(part_a, n_shards=8).unionAll(
            shard_manifest(part_b, n_shards=8)
        )
    )
    assert _rows(merged) == _rows(shard_manifest(docs, n_shards=8))


def test_manifest_merge_query_keeps_negative_ids(spark, docs, tmp_path):
    """The manifest_merge query splits the corpus by doc_id mod 3; a
    negative id must land in one part (pmod), not in none (``%`` keeps
    the sign), or the fold silently loses rows."""
    import __spark_entry__ as e

    signed = docs.withColumn(
        "doc_id", F.when(F.col("doc_id") % 4 == 1, -F.col("doc_id")).otherwise(F.col("doc_id"))
    )
    signed.write.parquet(str(tmp_path / "documents.parquet"))
    whole = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert whole.filter(F.col("doc_id") < 0).count() > 0
    merged = e.queries()["manifest_merge"](spark, str(tmp_path))
    assert _rows(merged) == _rows(shard_manifest(whole, n_shards=16))


def test_empty_part_is_identity_of_the_fold(spark, docs):
    """An increment with zero docs manifests to zero rows and folding
    it in changes nothing — the fold's identity element (the
    manifest_merge driver query's 3-way split relies on this when a
    residue class is empty at tiny SF)."""
    empty = docs.filter(F.lit(False))
    assert shard_manifest(empty, n_shards=8).count() == 0
    merged = merge_manifests(
        shard_manifest(docs, n_shards=8).unionAll(shard_manifest(empty, n_shards=8))
    )
    assert _rows(merged) == _rows(shard_manifest(docs, n_shards=8))


def test_any_field_edit_flips_the_digest(spark, docs):
    base = {r.shard: r.xor_digest for r in shard_manifest(docs, n_shards=4).collect()}
    tampered = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") == 7, F.lit("zz")).otherwise(F.col("lang")),
    )
    tam = {r.shard: r.xor_digest for r in shard_manifest(tampered, n_shards=4).collect()}
    diffs = [s for s in base if base[s] != tam[s]]
    assert len(diffs) == 1  # exactly the shard holding doc 7


def test_row_loss_flips_digest_and_count(spark, docs):
    base = _rows(shard_manifest(docs, n_shards=4))
    lost = _rows(shard_manifest(docs.filter(F.col("doc_id") != 3), n_shards=4))
    assert base != lost


def test_null_ids_dropped_null_text_counts_zero_bytes(spark):
    df = spark.createDataFrame(
        [(None, "ghost", "en", "s", 5), (1, None, "en", "s", 0),
         (2, "ab", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    m = shard_manifest(df, n_shards=1).collect()
    assert len(m) == 1 and m[0].n_docs == 2 and m[0].n_bytes == 2


def test_shard_ids_cover_range_and_nothing_else(spark, docs):
    shards = {r.shard for r in shard_manifest(docs, n_shards=16).collect()}
    assert shards <= set(range(16)) and len(shards) > 8


def test_streaming_manifest_matches_batch(spark, docs, tmp_path):
    """Two micro-batches (two parquet files) fold into the same
    manifest the batch path computes over the union — the mergeability
    property exercised through Structured Streaming's state store."""
    from pdf_extraction_spark.streaming.events import run_stream_to_memory
    from pdf_extraction_spark.streaming.manifest import streaming_shard_manifest

    stream_dir = str(tmp_path / "docs_stream")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(stream_dir)
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(stream_dir)
    stream = spark.readStream.schema(docs.schema).parquet(stream_dir)
    q = run_stream_to_memory(
        streaming_shard_manifest(stream, n_shards=8), "stream_manifest",
        mode="complete",
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM stream_manifest").collect())
    assert got == _rows(shard_manifest(docs, n_shards=8))


def test_manifest_plan_is_one_native_agg(spark, docs):
    plan = shard_manifest(docs, n_shards=16)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Cartesian" not in plan


# ---------------------------------------------------------------------------
# Rendezvous (HRW) shard assignment
# ---------------------------------------------------------------------------

class TestHRW:
    def _docs(self, spark, n=400):
        from pyspark.sql import functions as F

        return spark.range(n).select(F.col("id").alias("doc_id"))

    def test_minimal_disruption_on_shard_removal(self, spark):
        """THE property HRW buys: dropping one shard moves ONLY the
        docs that lived on it."""
        from pdf_extraction_spark.operators.release import hrw_assign

        shards = ["s%d" % i for i in range(6)]
        d = self._docs(spark)
        full = {
            r["doc_id"]: r["shard"]
            for r in hrw_assign(d, shards).collect()
        }
        smaller = {
            r["doc_id"]: r["shard"]
            for r in hrw_assign(d, shards[:-1]).collect()
        }
        moved = {k for k in full if full[k] != smaller[k]}
        assert moved == {k for k, v in full.items() if v == "s5"}
        assert moved  # s5 actually held documents

    def test_mod_n_reshuffles_most(self, spark):
        """Contrast: the mod-N assignment moves ~(N-1)/N of the corpus
        when N changes — the failure HRW exists to avoid."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.operators.release import shard_of

        d = self._docs(spark)
        a = {r["doc_id"]: r["s"] for r in d.select(
            "doc_id", shard_of(F.col("doc_id"), 6).alias("s")).collect()}
        b = {r["doc_id"]: r["s"] for r in d.select(
            "doc_id", shard_of(F.col("doc_id"), 5).alias("s")).collect()}
        moved = sum(1 for k in a if a[k] != b[k])
        assert moved > len(a) // 2

    def test_roughly_balanced(self, spark):
        from pdf_extraction_spark.operators.release import hrw_shard_counts

        shards = ["s%d" % i for i in range(8)]
        rows = hrw_shard_counts(self._docs(spark, 800), shards).collect()
        assert len(rows) == 8
        counts = [r["n_docs"] for r in rows]
        assert min(counts) > 0 and max(counts) < 3 * (800 // 8)

    def test_order_and_partition_invariance(self, spark):
        from pdf_extraction_spark.operators.release import hrw_shard_counts

        shards = ["alpha", "beta", "gamma"]
        d = self._docs(spark, 300)
        one = sorted(
            tuple(r)
            for r in hrw_shard_counts(d.coalesce(1), shards).collect()
        )
        many = sorted(
            tuple(r)
            for r in hrw_shard_counts(
                d.repartition(11), list(reversed(shards))
            ).collect()
        )
        assert one == many

    def test_validation(self, spark):
        import pytest as _pytest

        from pdf_extraction_spark.operators.release import hrw_assign

        d = self._docs(spark, 5)
        with _pytest.raises(ValueError):
            hrw_assign(d, [])
        with _pytest.raises(ValueError):
            hrw_assign(d, ["a", "a"])
