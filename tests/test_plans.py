"""Physical-plan regression tests: the plans we designed for must stay.

A correct result from a bad plan is a latent 100-TB failure; these tests
pin the plan properties the scale design depends on (SURVEY.md §4):
broadcast joins for small sides, predicate/column pushdown into scans,
and zero row-at-a-time Python (BatchEvalPython) anywhere.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as em

SF_DIR = "/root/testdata/sf0.001"

ALL_QUERIES = sorted(em.queries())


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_row_at_a_time_python(spark, name):
    """Every contract query must avoid BatchEvalPython (row-wise Python);
    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas are the only
    sanctioned Python operators (vectorized)."""
    df = em.queries()[name](spark, SF_DIR)
    assert "BatchEvalPython" not in plan_of(df), name


def test_query_term_join_broadcasts(spark):
    plan = plan_of(em.queries()["fulltext_bm25_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the big postings side must NOT be broadcast: no broadcast exchange
    # feeding from the exploded-token aggregate; cheap sanity: at least
    # one shuffle exchange remains for the groupBy
    assert "Exchange hashpartitioning" in plan


def test_dim_joins_broadcast(spark):
    for name in ("rel_lookup_join", "rel_multihop_join"):
        plan = plan_of(em.queries()[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dim join degraded to SMJ"


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(em.queries()["rel_filter_predicates"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan" in plan


def test_column_pruning_in_scan(spark):
    """doclen query reads only (doc_id, text) — never lang/source/n_chars."""
    plan = plan_of(em.queries()["fulltext_doclen"](spark, SF_DIR))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_query_paths_leave_no_cache_entries(spark):
    """The pinned intermediates in the exhaustive (OR and AND), bool,
    MLT, fuzzy and search_after paths must use GC-released
    localCheckpoint, never bare .cache(): CacheManager entries persist
    until an explicit unpersist, so a long-lived query service would
    accumulate executor storage with every call (VERDICT r5 #4)."""
    spark.catalog.clearCache()
    for name in ("fulltext_bm25_topk", "fulltext_bm25_conjunctive",
                 "fulltext_bool", "fulltext_fuzzy",
                 "fulltext_more_like_this", "fulltext_search_after",
                 "fulltext_bm25_wand"):
        em.queries()[name](spark, SF_DIR).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "query path left entries in the CacheManager")


def test_segment_scan_prunes_term_and_bucket(spark, tmp_path):
    """The WAND read path must push both the bucket (partition column)
    and term predicates into the segment scan."""
    import pyspark.sql.functions as F

    from mee_spark.build import build_full_index
    from mee_spark.config import IndexConfig
    from mee_spark.segments import read_segments

    cfg = IndexConfig(num_doc_partitions=4, num_term_buckets=8,
                      doc_range_size=128, block_size=16)
    docs = em._read(spark, SF_DIR, "documents").select(
        F.format_string("%012d", F.col("doc_id")).alias("url"), "text")
    d = str(tmp_path / "ix")
    build_full_index(spark, docs, cfg, d, gen=1, use_html=False)
    segs = read_segments(spark, d, [1]).filter(
        (F.col("bucket") == 3) & F.col("term").isin(["spark", "query"]))
    plan = plan_of(segs)
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:200]
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[1][:200]


def test_read_segments_keeps_the_shared_read_schema(spark, tmp_path):
    """Each ``read_segments`` call builds its own scan schema; appending
    the partition column to the module-level schema in place grew it by
    one field per call in a long-lived query process."""
    from mee_spark.segments import SEGMENT_READ_SCHEMA, read_segments

    n_fields = len(SEGMENT_READ_SCHEMA.fields)
    for _ in range(3):
        cols = read_segments(spark, str(tmp_path / "none"), [1]).columns
    assert len(SEGMENT_READ_SCHEMA.fields) == n_fields
    assert cols == SEGMENT_READ_SCHEMA.fieldNames() + ["bucket", "gen"]


def test_winnow_fingerprints_shuffle_free(spark):
    """Round-7 plan pin: winnowing computes the per-doc sliding-min and
    per-doc dedup in array land — the operator must stay a map-side
    Project+Generate with NO exchange. The n^2 guard is subexpression
    elimination over the twice-referenced hash array (see the
    winnow_fingerprints docstring); this test pins the config it relies
    on alongside the shuffle-free shape."""
    from mee_spark.textops import winnow_fingerprints

    df = winnow_fingerprints(
        em._read(spark, SF_DIR, "documents"), k=8, window=4)
    plan = plan_of(df)
    assert "Exchange" not in plan, "winnow grew a shuffle"
    assert spark.conf.get(
        "spark.sql.subexpressionElimination.enabled", "true") == "true"


def test_incremental_build_extracts_text_once(spark, tmp_path, monkeypatch,
                                              each_plan):
    """The snapshot diff is staged once: across every parquet write of
    one ``build_incremental(use_html=True)`` the extraction UDF appears in
    exactly one plan, once (the diff write). Every later write reads the
    staged diff, so none of them re-extracts the snapshot's html: on the
    Spark plans the tombstone, docs and docmap writes; the driver plan
    writes with pyarrow."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mee_spark.build import build_full_index, build_incremental
    from mee_spark.config import IndexConfig
    from mee_spark.fixtures import PAGES_SCHEMA
    from snapshots import gen_snapshots_pandas

    cfg = IndexConfig(num_doc_partitions=4, num_term_buckets=8,
                      doc_range_size=64, block_size=16)
    snaps = {g: spark.createDataFrame(pdf, PAGES_SCHEMA)
             for g, pdf in gen_snapshots_pandas(100).items()}
    write_parquet = DataFrameWriter.parquet
    for incr_plan in each_plan():
        d = str(tmp_path / incr_plan)
        build_full_index(spark, snaps[1], cfg, d, gen=1)
        plans: list[str] = []

        def capture(self, path, *args, **kwargs):
            plans.append(plan_of(self._df))
            return write_parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", capture)
        m = build_incremental(spark, snaps[2], cfg, d, gen=2, use_html=True)
        monkeypatch.undo()
        per_write = [p.count("ArrowEvalPython") for p in plans]
        assert sum(per_write) == 1, (incr_plan, per_write)
        assert m["metrics"]["plan"] == incr_plan.split("_")[0]
        # the diff; then in Spark the tombstones, the docs staging, the docmap
        assert len(plans) == (1 if incr_plan == "driver" else 4), len(plans)


def test_live_df_pass_repartitions_by_range(spark, tmp_path):
    """On a tombstone chain the live-df decode must read a coalescible
    ``range_id`` exchange, not the segment scan: reading the scan runs
    one Python task per segment file split, each with a fixed worker
    set-up cost. The exchange carries only the columns the decode reads,
    so the scan never reads the tf/dl blobs or the block metadata."""
    from mee_spark.build import build_full_index, build_incremental
    from mee_spark.config import IndexConfig
    from mee_spark.fixtures import PAGES_SCHEMA
    from snapshots import gen_snapshots_pandas
    from mee_spark.query_wand import live_df, tombstones_per_range
    from mee_spark.segments import read_segments

    cfg = IndexConfig(num_doc_partitions=4, num_term_buckets=8,
                      doc_range_size=64, block_size=16)
    snaps = gen_snapshots_pandas(100)
    d = str(tmp_path / "ix")
    build_full_index(spark, spark.createDataFrame(snaps[1], PAGES_SCHEMA), cfg, d, gen=1)
    build_incremental(spark, spark.createDataFrame(snaps[3], PAGES_SCHEMA), cfg, d, gen=2)
    segs = read_segments(spark, d, [1, 2]).join(
        tombstones_per_range(spark, d, [1, 2], cfg.doc_range_size), "range_id", "left")
    df_agg = live_df(segs)
    lines = plan_of(df_agg).splitlines()
    at = [i for i, line in enumerate(lines) if "MapInPandas" in line]
    assert len(at) == 1, lines
    child = lines[at[0] + 1]
    assert "Exchange hashpartitioning(range_id" in child, child
    assert "REPARTITION_BY_COL" in child, child
    scans = [line for line in lines if "FileScan parquet" in line
             and "doc_ids_blob" in line]
    assert scans, lines
    for scan in scans:
        read_schema = scan.split("ReadSchema:")[1]
        for col in ("tfs_blob", "dls_blob", "block_last_doc", "block_max_tf",
                    "block_min_dl", "df_local", "n_postings"):
            assert col not in read_schema, (col, scan)


def _chain_query_plans(spark, tmp_path, monkeypatch) -> dict[bool, list[str]]:
    """{driver plan forced on/off: the executed plans of a one-query
    ``bm25_topk_wand`` call on a two-generation tombstone chain, as
    lines}: every frame the call collects while planning, then the frame
    it returns. The driver scoring gate is forced off, so both calls
    return the Spark scoring plan."""
    from mee_spark import query_wand
    from mee_spark.build import build_full_index, build_incremental
    from mee_spark.config import IndexConfig
    from mee_spark.fixtures import (
        PAGES_SCHEMA,
        QUERIES_SCHEMA,
        gen_queries_pandas,
    )
    from snapshots import gen_snapshots_pandas

    cfg = IndexConfig(num_doc_partitions=4, num_term_buckets=8,
                      doc_range_size=64, block_size=16)
    snaps = gen_snapshots_pandas(100)
    d = str(tmp_path / "ix")
    build_full_index(spark, spark.createDataFrame(snaps[1], PAGES_SCHEMA), cfg, d, gen=1)
    build_incremental(spark, spark.createDataFrame(snaps[3], PAGES_SCHEMA), cfg, d, gen=2)
    qdf = spark.createDataFrame(gen_queries_pandas(100).iloc[[60]], QUERIES_SCHEMA)
    collect = type(qdf).collect
    out = {}
    for driver in (True, False):
        plans: list[str] = []

        def capture(self):
            plans.append(plan_of(self))
            return collect(self)

        with monkeypatch.context() as m:
            limit = 1 << 62 if driver else -1
            m.setattr(query_wand, "DRIVER_MAX_TOMBSTONES", limit)
            m.setattr(query_wand, "DRIVER_MAX_DECODE_POSTINGS", limit)
            m.setattr(query_wand, "DRIVER_MAX_SCORE_POSTINGS", -1)
            m.setattr(type(qdf), "collect", capture)
            plans.append(plan_of(query_wand.bm25_topk_wand(spark, d, qdf, cfg)))
        out[driver] = "\n".join(plans).splitlines()
    return out


def test_small_chain_plans_tombstones_on_the_driver(spark, tmp_path, monkeypatch):
    """Below the gate a chain query runs neither distributed tombstone
    pass: no ``live_df`` decode (MapInPandas) and no ``range_id``
    group-by of the tombstones. Its tombstones come from a broadcast
    local relation. Above the gate both passes are back."""
    range_groupby = re.compile(r"Exchange hashpartitioning\(range_id#\d+L?, \d+\)")
    plans = _chain_query_plans(spark, tmp_path, monkeypatch)
    lines = plans[True]
    assert not [ln for ln in lines if "MapInPandas" in ln], lines
    assert not [ln for ln in lines if range_groupby.search(ln)], lines
    at = [i for i, ln in enumerate(lines) if "LocalTableScan [range_id" in ln]
    assert len(at) == 1, lines
    assert "BroadcastExchange" in lines[at[0] - 1], lines

    lines = plans[False]
    assert [ln for ln in lines if "MapInPandas" in ln], lines
    assert [ln for ln in lines if range_groupby.search(ln)], lines
    assert not [ln for ln in lines if "LocalTableScan [range_id" in ln], lines


def test_add_only_chain_plans_no_tombstones(spark, tmp_path):
    """An add-only incremental generation writes no tombstone (its
    manifest records no deleted or changed doc), so a query on its chain
    plans like a single generation's: no tombstone side at all."""
    from mee_spark import manifest as mf
    from mee_spark.build import build_full_index, build_incremental
    from mee_spark.config import IndexConfig
    from mee_spark.fixtures import (
        PAGES_SCHEMA,
        QUERIES_SCHEMA,
        gen_queries_pandas,
    )
    from snapshots import gen_snapshots_pandas
    from mee_spark.query_wand import bm25_topk_wand

    cfg = IndexConfig(num_doc_partitions=4, num_term_buckets=8,
                      doc_range_size=64, block_size=16)
    pages = gen_snapshots_pandas(100)[1]
    d = str(tmp_path / "ix")
    build_full_index(spark, spark.createDataFrame(pages.iloc[:80], PAGES_SCHEMA), cfg, d, gen=1)
    m = build_incremental(spark, spark.createDataFrame(pages, PAGES_SCHEMA), cfg, d, gen=2)
    assert m["metrics"]["docs_added"] == 20
    assert mf.tombstone_count(mf.manifest_chain(d)) == 0
    qdf = spark.createDataFrame(gen_queries_pandas(100).iloc[[60]], QUERIES_SCHEMA)
    plan = plan_of(bm25_topk_wand(spark, d, qdf, cfg))
    assert "tomb_ids" not in plan and "MapInPandas" not in plan, plan
