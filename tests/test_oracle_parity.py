"""Local mirror of the driver correctness gate: every queries() entry vs
its DuckDB oracle_sql() on the same parquet tables (sf0.001), compared by
row count, column names, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

import os

SF_DIR = os.environ.get("MEE_PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).df()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def _norm_rows(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_norm_cell(r[c]) for c in cols) for _, r in pdf.iterrows())
    return cols, rows


ALL = sorted(entrymod.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        df = q(spark, SF_DIR)
        assert df.count() >= 0  # rows-only check, like the driver
        return
    got = q(spark, SF_DIR).toPandas()
    want = _duck(oracles[name])
    gcols, grows = _norm_rows(got)
    wcols, wrows = _norm_rows(want)
    assert gcols == wcols, f"{name}: columns {gcols} vs {wcols}"
    assert len(grows) == len(wrows), f"{name}: {len(grows)} vs {len(wrows)} rows"
    mismatches = [i for i, (a, b) in enumerate(zip(grows, wrows)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"{grows[mismatches[0]]} vs {wrows[mismatches[0]]}"
    )


@pytest.mark.parametrize("arrow", ["false", "true"])
@pytest.mark.parametrize("name", ["fulltext_bm25_wand",
                                  "fulltext_wand_conjunctive",
                                  "fulltext_lifecycle", "fulltext_compacted"])
def test_index_queries_match_oracle_with_arrow_off_and_on(spark, name, arrow):
    """The queries that build and read a segment index (its incremental
    and compacted generations, from driver-built Arrow tables) give the
    oracle's rows whether PySpark converts frames through Arrow or not."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        test_query_matches_oracle(spark, name)
    finally:
        spark.conf.set(key, before)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"query_id", "rank", "doc_id", "score"}


_TEMP_INDEX_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
import __spark_entry__ as entrymod

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
rows = entrymod.q_fulltext_bm25_wand(spark, sys.argv[2]).collect()
print(len(rows))
"""


def test_wand_queries_remove_their_index_at_exit(tmp_path):
    """A WAND registered query builds its index in the system temp dir
    (the frame it returns reads the index lazily); the index is removed
    when the interpreter exits."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", _TEMP_INDEX_SCRIPT, repo, SF_DIR],
        env={**os.environ, "TMPDIR": str(tmp)}, capture_output=True,
        text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) > 0
    assert not [p.name for p in tmp.iterdir() if p.name.startswith("mee_")]
