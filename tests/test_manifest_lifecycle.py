"""Generation lifecycle on the manifests alone (no Spark): ``reset`` and
``clean`` never touch the published chain or a locked index, and leave
no manifest behind for a generation they remove."""

from __future__ import annotations

import json
import os

import pytest

from mee_spark import manifest as mf
from mee_spark.cli import main


def _gen(d: str, gen: int, parent: int | None) -> None:
    os.makedirs(mf.segments_dir(d, gen))
    mf.write_manifest(d, gen, parent=parent, n_docs_live=1, sum_dl_live=1,
                      metrics={}, lineage={})


def test_reset_refuses_every_generation_of_the_published_chain(tmp_path):
    d = str(tmp_path / "ix")
    _gen(d, 1, None)
    _gen(d, 2, 1)
    mf.publish(d, 2)
    for gen in (1, 2):
        with pytest.raises(ValueError, match="published"):
            mf.reset_incomplete(d, gen)
        assert os.path.isdir(mf.gen_dir(d, gen))
        assert os.path.exists(mf.manifest_path(d, gen))
    assert [m["generation"] for m in mf.manifest_chain(d)] == [1, 2]
    # an unpublished generation resets, manifest and all
    _gen(d, 3, 2)
    mf.reset_incomplete(d, 3)
    assert not os.path.exists(mf.gen_dir(d, 3))
    assert not os.path.exists(mf.manifest_path(d, 3))


def test_clean_removes_the_manifests_of_the_generations_it_removes(tmp_path):
    d = str(tmp_path / "ix")
    _gen(d, 1, None)
    _gen(d, 2, 1)
    _gen(d, 3, None)  # a compaction of 1 ← 2: a new root
    mf.publish(d, 3)
    assert sorted(mf.gc_orphans(d)) == [1, 2]
    assert sorted(os.listdir(os.path.join(d, "_manifests"))) == ["manifest-3.json"]
    assert [m["generation"] for m in mf.manifest_chain(d)] == [3]


@pytest.mark.parametrize("cmd", [["clean"], ["reset", "--gen", "2"]])
def test_cli_reset_and_clean_wait_for_no_writer(tmp_path, capsys, cmd):
    """A CLI build holds ``_LOCK`` while it writes an unpublished
    generation; ``clean`` (default ``--ttl 0``) and ``reset`` must not
    delete it from under the build."""
    d = str(tmp_path / "ix")
    _gen(d, 1, None)
    mf.publish(d, 1)
    _gen(d, 2, 1)  # the build in flight
    with mf.writer_lock(d):
        with pytest.raises(SystemExit, match="another writer holds"):
            main([cmd[0], "--index", d, *cmd[1:]])
    assert os.path.isdir(mf.gen_dir(d, 2))
    assert os.path.exists(mf.manifest_path(d, 2))
    # the lock released, the command runs and releases it in turn
    main([cmd[0], "--index", d, *cmd[1:]])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == ({"removed": [2]} if cmd[0] == "clean" else {"reset": 2})
    assert not os.path.exists(mf.gen_dir(d, 2))
    assert not os.path.exists(os.path.join(d, "_LOCK"))


@pytest.mark.parametrize("cmd", [["clean"], ["reset", "--gen", "2"]])
def test_locked_commands_refuse_a_missing_index(tmp_path, cmd):
    """A locked command on a path with no index exits with "no index at"
    and leaves no directory behind; only a build starts an index."""
    d = str(tmp_path / "typo")
    with pytest.raises(SystemExit, match="no index at"):
        main([cmd[0], "--index", d, *cmd[1:]])
    assert not os.path.exists(d)
    with pytest.raises(mf.NoIndex):
        with mf.writer_lock(d):
            pass
    assert not os.path.exists(d)
