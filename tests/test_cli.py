"""CLI lifecycle: package → build → query → incremental → compact → clean.

Runs in-process against the shared session (subprocess spark-submit is
exercised manually/bench-side; the argparse + lifecycle wiring is what
needs regression coverage)."""

from __future__ import annotations

import json
import os
import zipfile

import pytest

from mee_spark import manifest as mf
from mee_spark.cli import cmd_package, main
from mee_spark.fixtures import gen_pages
from mee_spark.session import recommended_conf
from test_index_e2e import _jobs


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("clicorpus") / "pages")
    gen_pages(spark, 300, num_partitions=4).write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(autouse=True)
def _restore_session_conf(spark):
    """``make_session`` tunes the session it gets, here the shared test
    session: put its SQL confs back for the tests that follow."""
    keys = [*recommended_conf(1), "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.execution.arrow.pyspark.enabled"]
    saved = {k: spark.conf.get(k) for k in keys}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


LAYOUT = {"doc_range_size": 128, "num_term_buckets": 4}


def _args(extra, index):
    """``extra`` on ``index``. Only a full build is given a layout; every
    other command reads it from the index."""
    args = extra + ["--index", index]
    if extra[0] in ("build", "query", "compact"):
        args += ["--partitions", "8"]
    if extra[0] == "build" and "--incremental" not in extra:
        args += ["--buckets", "4", "--range-size", "128"]
    return args


def test_cli_lifecycle(spark, corpus, tmp_path, capsys):
    os.environ["MEE_SPARK_MASTER"] = "local[4]"
    idx = str(tmp_path / "idx")
    main(_args(["build", "--pages", corpus, "--gen", "1"], idx))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["generation"] == 1 and out["docs_per_sec"] > 0
    assert mf.current_gen(idx) == 1

    main(_args(["query", "--query", "w000000 w000123", "--k", "5"], idx))
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines and lines[0]["rank"] == 1
    assert all(l["score"] >= lines[-1]["score"] for l in lines)

    main(_args(["build", "--pages", corpus, "--incremental"], idx))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["generation"] == 2 and out["docs_added"] == 0  # same corpus: no-op delta

    main(_args(["compact"], idx))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["generation"] == 3
    # the later generations keep the full build's layout
    assert [mf.read_manifest(idx, g)["config"] for g in (1, 2, 3)] == [LAYOUT] * 3
    main(_args(["query", "--query", "w000000 w000123", "--k", "5"], idx))
    assert [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()] == lines
    main(_args(["clean"], idx))
    removed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["removed"]
    assert sorted(removed) == [1, 2]


def test_cli_query_jobs(spark, corpus, tmp_path, capsys, monkeypatch):
    """``query`` on a single-generation index runs no job: the query frame
    is a local relation, so the vocabulary probe runs none, and below the
    driver scoring budget the batch is scored and ranked on the driver.
    Above it (the budget forced to -1) it runs no job beyond
    ``bm25_topk_wand``'s scoring plan (at most four)."""
    from mee_spark import query_wand

    idx = str(tmp_path / "idxq")
    main(_args(["build", "--pages", corpus, "--gen", "1"], idx))
    capsys.readouterr()

    def query_jobs() -> list:
        _, jobs = _jobs(spark, lambda: main(_args(
            ["query", "--query", "w000000 w000123 w000007", "--k", "5"], idx)))
        lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert lines and [l["rank"] for l in lines] == list(range(1, len(lines) + 1))
        return jobs

    assert query_jobs() == []
    monkeypatch.setattr(query_wand, "DRIVER_MAX_SCORE_POSTINGS", -1)
    jobs = query_jobs()
    assert 0 < len(jobs) <= 4, jobs


def test_cli_rebuild_writes_the_next_generation(spark, tmp_path, capsys):
    """A second ``build`` without ``--gen`` writes and publishes the next
    generation. Rebuilding the published one in place would overwrite
    the docmap under its readers and keep the old corpus's checkpointed
    segments, so a term only the new corpus has would not be found."""
    idx = str(tmp_path / "idx6")
    for name, text in (("a", "alphaonly common"), ("b", "bravoonly common")):
        pages = str(tmp_path / name)
        spark.createDataFrame(
            [(f"https://{name}.example/{i}", f"{text} t{i}") for i in range(20)],
            "url string, text string").write.parquet(pages)
        main(_args(["build", "--pages", pages, "--text-only"], idx))
    capsys.readouterr()
    assert mf.current_gen(idx) == 2
    for term, hits in (("bravoonly", 10), ("alphaonly", 0)):
        main(_args(["query", "--query", term], idx))
        assert len(capsys.readouterr().out.strip().splitlines()) == hits, term


def test_cli_lock_guard(spark, corpus, tmp_path, capsys):
    idx = str(tmp_path / "idx2")
    os.makedirs(idx)  # an index in the making: only a build creates one
    with mf.writer_lock(idx):
        with pytest.raises(SystemExit, match="another writer holds"):
            main(_args(["build", "--pages", corpus, "--gen", "1"], idx))
        with pytest.raises(mf.LockHeld):
            with mf.writer_lock(idx):
                pass
    with mf.writer_lock(idx):  # released on exit, even after a refusal
        pass


def test_cli_package(tmp_path, capsys):
    out = str(tmp_path / "pkg.zip")
    main(["package", "--out", out])
    names = zipfile.ZipFile(out).namelist()
    assert "mee_spark/wand.py" in names and "mee_spark/cli.py" in names


def test_cli_build_reads_pages_through_sources(spark, corpus, tmp_path,
                                               capsys, monkeypatch):
    """``build --pages <parquet path>`` reads the corpus through
    ``sources.read_pages``, the one reader for Parquet and Iceberg."""
    from mee_spark import sources

    seen = []
    real = sources.read_pages

    def spy(spark_, source, **kw):
        seen.append((source, kw))
        return real(spark_, source, **kw)

    monkeypatch.setattr(sources, "read_pages", spy)
    idx = str(tmp_path / "idx3")
    main(_args(["build", "--pages", corpus, "--gen", "1"], idx))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["generation"] == 1
    assert seen == [(corpus, {"snapshot_id": None, "start_snapshot_id": None})]
    assert mf.read_manifest(idx, 1)["n_docs_live"] == spark.read.parquet(corpus).count()


@pytest.mark.parametrize("opt", ["--snapshot-id", "--start-snapshot-id"])
def test_cli_build_rejects_snapshot_options_for_parquet(spark, corpus, tmp_path, opt):
    """Snapshot options need an Iceberg table; a Parquet path refuses
    them before the index lock is taken or anything is written."""
    idx = str(tmp_path / "idx4")
    with pytest.raises(ValueError, match="Iceberg"):
        main(_args(["build", "--pages", corpus, opt, "7"], idx))
    assert not os.path.exists(idx)  # nor the index started


def test_cli_compact_refuses_a_missing_index(spark, tmp_path):
    """``compact`` on a path with no index exits with "no index at" and
    leaves no directory behind."""
    idx = str(tmp_path / "typo")
    with pytest.raises(SystemExit, match="no index at"):
        main(_args(["compact"], idx))
    assert not os.path.exists(idx)


def test_cli_append_range_is_an_upsert_batch(spark, corpus, tmp_path,
                                             capsys, monkeypatch):
    """``--incremental --start-snapshot-id`` reads only the appends after
    a snapshot, so urls missing from them must not be tombstoned. The
    Iceberg read is stood in for by a reader returning a slice of the
    corpus."""
    from mee_spark import sources
    from mee_spark.build import live_docmap

    idx = str(tmp_path / "idx5")
    main(_args(["build", "--pages", corpus, "--gen", "1"], idx))
    capsys.readouterr()
    pages = spark.read.parquet(corpus)
    appended = pages.orderBy("url").limit(10)
    monkeypatch.setattr(sources, "read_pages", lambda *a, **kw: appended)
    main(_args(["build", "--pages", "db.pages", "--incremental",
                "--start-snapshot-id", "3"], idx))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["generation"] == 2 and out["docs_deleted"] == 0
    assert live_docmap(spark, idx, [1, 2]).count() == pages.count()
