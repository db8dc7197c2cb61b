"""Index lifecycle: generations, atomic publish, checkpoints, GC.

mee's lifecycle state machine re-expressed filesystem-native:

| mee (reference)                                        | here |
|---|---|
| new ES index per rebuild + alias swap on success (`services/updateservice.py:252-310`) | `gen=<n>/` dir + atomic `_CURRENT` pointer swap (os.replace) |
| Redis status/config hashes (`modules/status.py:20-195`) | `_manifests/manifest-<n>.json` |
| binlog position file (`services/listenservice.py:160-182`) | `lineage` block in the manifest (snapshot id / source path) |
| `reset` restores old alias, `clean` deletes orphan indices 24h later (`updateservice.py:82-114,346-366`) | `reset_incomplete` + `gc_orphans` |
| Redlock single-writer (`utils/redisclient.py:19-41`) | `_LOCK` file with O_EXCL atomic create |

Readers never see a partial index: `_CURRENT` is written only after every
segment checkpoint of the generation exists (snapshot isolation, mee T3).
On a real cluster ``index_dir`` lives on a DFS (HDFS/S3A); the same
rename-based protocol applies (S3A users: manifests are tiny, use a
consistent store or conditional puts).
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import time

from mee_spark.config import IndexConfig


def _manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "_manifests")


def manifest_path(index_dir: str, gen: int) -> str:
    return os.path.join(_manifest_dir(index_dir), f"manifest-{gen}.json")


def gen_dir(index_dir: str, gen: int) -> str:
    return os.path.join(index_dir, f"gen={gen}")


def segments_dir(index_dir: str, gen: int) -> str:
    return os.path.join(gen_dir(index_dir, gen), "segments")


def checkpoints_dir(index_dir: str, gen: int) -> str:
    return os.path.join(gen_dir(index_dir, gen), "_checkpoints")


def checkpoint_name(bucket: int, range_id: int) -> str:
    return f"bucket_{bucket}_range_{range_id}.done"


def write_manifest(index_dir: str, gen: int, *, parent: int | None,
                   n_docs_live: int, sum_dl_live: int, metrics: dict,
                   lineage: dict, **extra) -> dict:
    m = {
        "generation": gen,
        "parent": parent,
        "n_docs_live": int(n_docs_live),
        "sum_dl_live": int(sum_dl_live),
        "avgdl": (sum_dl_live / n_docs_live) if n_docs_live else 0.0,
        "metrics": metrics,
        "lineage": lineage,
        **extra,
    }
    os.makedirs(_manifest_dir(index_dir), exist_ok=True)
    tmp = manifest_path(index_dir, gen) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2, sort_keys=True)
    os.replace(tmp, manifest_path(index_dir, gen))
    return m


def read_manifest(index_dir: str, gen: int) -> dict:
    with open(manifest_path(index_dir, gen)) as f:
        return json.load(f)


def publish(index_dir: str, gen: int) -> None:
    """Atomic alias swap (mee `_setESIndexAlias`, `updateservice.py:280-310`)."""
    tmp = os.path.join(index_dir, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(gen))
    os.replace(tmp, os.path.join(index_dir, "_CURRENT"))


def current_gen(index_dir: str) -> int | None:
    p = os.path.join(index_dir, "_CURRENT")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def manifest_chain(index_dir: str, gen: int | None = None) -> list[dict]:
    """Manifests root→gen following parent pointers (oldest first)."""
    if gen is None:
        gen = current_gen(index_dir)
    if gen is None:
        return []
    chain: list[dict] = []
    g: int | None = gen
    while g is not None:
        m = read_manifest(index_dir, g)
        chain.append(m)
        g = m["parent"]
    chain.reverse()
    return chain


def tombstone_count(chain: list[dict]) -> int:
    """Tombstones the chain's generations wrote. ``build_incremental``,
    their only writer, records each generation's deleted and changed docs
    (a changed doc is tombstoned and re-added); other generations record
    neither."""
    return sum(int(m.get("metrics", {}).get("docs_deleted", 0))
               + int(m.get("metrics", {}).get("docs_changed", 0))
               for m in chain)


def docmap_rows(chain: list[dict]) -> int:
    """Docmap rows the chain's generations wrote: its root's, one per
    live doc (a full build or a compaction), plus each later generation's
    added and changed docs."""
    return sum(int(m["n_docs_live"]) if m["parent"] is None else
               int(m.get("metrics", {}).get("docs_added", 0))
               + int(m.get("metrics", {}).get("docs_changed", 0))
               for m in chain)


def open_chain(index_dir: str, cfg: IndexConfig) -> tuple[list[dict], IndexConfig]:
    """-> (the published generation's manifests, root first, ``cfg`` with
    the chain root's recorded layout). After the first full build the chain
    is the one source of the layout: tombstones mask
    ``doc_id // doc_range_size`` ranges and terms live in
    ``hash % num_term_buckets`` directories."""
    chain = manifest_chain(index_dir)
    if not chain:
        raise ValueError(f"no published index at {index_dir}")
    return chain, dataclasses.replace(cfg, **chain[0]["config"])


class LockHeld(RuntimeError):
    """Another writer holds the index's ``_LOCK``."""


class NoIndex(FileNotFoundError):
    """A writer named an index directory that does not exist."""


@contextlib.contextmanager
def writer_lock(index_dir: str):
    """Single-writer guard for the block (mee's Redlock,
    `utils/redisclient.py:19-41`): an O_EXCL-created ``_LOCK`` file.
    Raises ``LockHeld`` at once, without waiting, if it exists, and
    ``NoIndex`` if ``index_dir`` does not: only a first build starts an
    index, and it creates the directory itself."""
    if not os.path.isdir(index_dir):
        raise NoIndex(f"no index at {index_dir}")
    lock = os.path.join(index_dir, "_LOCK")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise LockHeld("another writer holds the index lock (_LOCK)") from None
    os.write(fd, str(os.getpid()).encode())
    os.close(fd)
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock)


def completed_checkpoints(index_dir: str, gen: int) -> set[tuple[int, int]]:
    """(bucket, range_id) pairs already durably written in this gen."""
    d = checkpoints_dir(index_dir, gen)
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.endswith(".done"):
            parts = name[: -len(".done")].split("_")
            out.add((int(parts[1]), int(parts[3])))
    return out


def reset_incomplete(index_dir: str, gen: int) -> None:
    """mee `reset` (`updateservice.py:82-98`): drop an unpublished gen;
    `_CURRENT` (the old alias) is untouched. Every generation of the
    published chain is refused: readers resolve the tip through its
    parents' manifests and read their segments."""
    if gen in {m["generation"] for m in manifest_chain(index_dir)}:
        raise ValueError(f"gen {gen} is in the published chain; "
                         "refusing to reset it")
    _remove_gen(index_dir, gen)


def _remove_gen(index_dir: str, gen: int) -> None:
    shutil.rmtree(gen_dir(index_dir, gen), ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.remove(manifest_path(index_dir, gen))


def gc_orphans(index_dir: str, ttl_sec: float = 0.0) -> list[int]:
    """mee `clean` (`updateservice.py:100-114,346-366`): delete gen dirs not
    reachable from `_CURRENT`'s parent chain and older than ttl, each with
    its manifest."""
    live = {m["generation"] for m in manifest_chain(index_dir)}
    removed = []
    now = time.time()
    for name in os.listdir(index_dir):
        if not name.startswith("gen="):
            continue
        g = int(name.split("=")[1])
        if g in live:
            continue
        path = os.path.join(index_dir, name)
        if now - os.path.getmtime(path) >= ttl_sec:
            _remove_gen(index_dir, g)
            removed.append(g)
    return removed
