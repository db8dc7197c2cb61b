"""applyInPandasWithState operator + negative/robustness tests
(SURVEY.md §5.2 item 7)."""

from __future__ import annotations

import pytest

from mee_spark import manifest as mf
from mee_spark.config import IndexConfig
from mee_spark.fixtures import PAGES_SCHEMA, gen_pages_pandas

CFG = IndexConfig(num_doc_partitions=4, num_term_buckets=4,
                  doc_range_size=64, block_size=16)


def test_stateful_url_dedup_across_batches(spark, tmp_path_factory):
    from mee_spark.streaming import read_page_stream, stateful_url_dedup

    src = str(tmp_path_factory.mktemp("dsrc"))
    ckpt = str(tmp_path_factory.mktemp("dckpt"))
    out = str(tmp_path_factory.mktemp("dout"))
    base = gen_pages_pandas(100)

    def run_batch(pdf):
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        q = (stateful_url_dedup(read_page_stream(spark, src))
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    # batch 1: 100 urls, 20 of them duplicated within the batch
    import pandas as pd

    b1 = pd.concat([base, base.iloc[:20]], ignore_index=True)
    assert run_batch(b1) == 100  # within-batch dups dropped
    # batch 2: 50 repeats + 30 new urls -> only the 30 emitted
    b2 = pd.concat([base.iloc[:50], gen_pages_pandas(30, start_row=100)],
                   ignore_index=True)
    assert run_batch(b2) == 130


def test_stateful_url_dedup_bloom_mode(spark, tmp_path_factory):
    """VERDICT r2 item 6: the 10^12-url state tier as code. A well-sized
    Bloom filter matches exact dedup; a starved one drops MORE (false
    positives collapse distinct urls) but still never emits a dup —
    exactness is traded explicitly, in one direction only."""
    import pandas as pd

    from mee_spark.streaming import read_page_stream, stateful_url_dedup

    base = gen_pages_pandas(100)
    b2 = pd.concat([base.iloc[:50], gen_pages_pandas(40, start_row=100)],
                   ignore_index=True)

    def run(mode, **kw):
        src = str(tmp_path_factory.mktemp(f"bsrc_{mode}{kw.get('bloom_bits_per_shard', 0)}"))
        ckpt = str(tmp_path_factory.mktemp("bckpt"))
        out = str(tmp_path_factory.mktemp("bout"))
        for pdf in (base, b2):
            spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q = (stateful_url_dedup(read_page_stream(spark, src), mode=mode, **kw)
                 .writeStream.format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination(120)
        urls = [r["url"] for r in spark.read.parquet(out).collect()]
        return urls

    exact = run("exact")
    assert len(exact) == 140 and len(set(exact)) == 140
    sized = run("bloom", bloom_bits_per_shard=1 << 20, bloom_hashes=7)
    assert sorted(sized) == sorted(exact)  # FP ~ 0 at 2^20 bits/shard
    starved = run("bloom", bloom_bits_per_shard=4, bloom_hashes=7)
    assert len(set(starved)) == len(starved)  # never emits a dup
    assert 0 < len(starved) < len(exact)  # saturated filter drops extras


# ------------------------------------------------------------- negatives

def test_query_missing_index_raises(spark, tmp_path):
    from mee_spark.fixtures import gen_queries
    from mee_spark.query_wand import bm25_topk_wand

    with pytest.raises(ValueError, match="no published index"):
        bm25_topk_wand(spark, str(tmp_path / "nope"), gen_queries(spark, 2), CFG)


def test_incremental_without_full_raises(spark, tmp_path):
    from mee_spark.build import build_incremental

    pages = spark.createDataFrame(gen_pages_pandas(10), PAGES_SCHEMA)
    with pytest.raises(ValueError, match="no published index"):
        build_incremental(spark, pages, CFG, str(tmp_path / "nope"), gen=2)


def test_stream_batch_refused_while_lock_held(spark, tmp_path):
    """A micro-batch takes the index's single-writer lock: while another
    writer (a compaction, a CLI build) holds it, the batch fails and
    writes no generation."""
    import os

    from pyspark.errors import StreamingQueryException

    from mee_spark.build import build_full_index
    from mee_spark.streaming import incremental_index_stream

    d, src = str(tmp_path / "ix"), str(tmp_path / "src")
    pages = gen_pages_pandas(40)
    build_full_index(spark, spark.createDataFrame(pages[:20], PAGES_SCHEMA),
                     CFG, d, gen=1)
    spark.createDataFrame(pages[20:], PAGES_SCHEMA).coalesce(1).write.parquet(src)
    with mf.writer_lock(d):
        q = incremental_index_stream(spark, src, d, CFG, str(tmp_path / "ckpt"))
        with pytest.raises(StreamingQueryException, match="index lock"):
            q.awaitTermination(120)
    assert mf.current_gen(d) == 1
    assert not os.path.exists(mf.gen_dir(d, 2))


def test_reset_published_gen_refuses(spark, tmp_path):
    from mee_spark.build import build_full_index

    d = str(tmp_path / "ix")
    pages = spark.createDataFrame(gen_pages_pandas(30), PAGES_SCHEMA)
    build_full_index(spark, pages, CFG, d, gen=1)
    with pytest.raises(ValueError, match="published"):
        mf.reset_incomplete(d, 1)
    # unpublished gen resets fine
    build_full_index(spark, pages, CFG, d, gen=2, publish=False)
    mf.reset_incomplete(d, 2)
    assert mf.current_gen(d) == 1


def test_k_zero_and_negative(spark, tmp_path):
    from mee_spark.build import build_full_index
    from mee_spark.query_wand import bm25_topk_wand

    d = str(tmp_path / "ix")
    pages = spark.createDataFrame(gen_pages_pandas(30), PAGES_SCHEMA)
    build_full_index(spark, pages, CFG, d, gen=1)
    qdf = spark.createDataFrame([(0, "w000000", 0), (1, "w000000", -3)],
                                "query_id int, query_text string, k int")
    assert bm25_topk_wand(spark, d, qdf, CFG).count() == 0


def test_empty_corpus_build(spark, tmp_path):
    from mee_spark.build import build_full_index

    d = str(tmp_path / "ix")
    pages = spark.createDataFrame([], PAGES_SCHEMA)
    m = build_full_index(spark, pages, CFG, d, gen=1)
    assert m["n_docs_live"] == 0
    assert mf.current_gen(d) == 1
