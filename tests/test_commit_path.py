"""Every generation commits through one function (no Spark).

Full build, incremental build and compaction all end in
``build.write_generation``: the generation guard, the docmap ∥ segments
write, one manifest and the publish. A writer that called
``manifest.write_manifest`` or ``manifest.publish`` itself could skip the
guard, the layout record or the ``next_doc_id`` watermark."""

from __future__ import annotations

import ast
import pathlib

import mee_spark

PKG = pathlib.Path(mee_spark.__file__).parent


def _callers(name: str) -> set[str]:
    """The package functions ('module.function') whose body calls ``name``,
    as ``mf.name(...)`` or ``name(...)``; a call in a nested function
    counts for it and for every function around it."""
    out = set()
    for path in PKG.glob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
                    isinstance(n, ast.Call) and name in (
                        getattr(n.func, "attr", None), getattr(n.func, "id", None))
                    for n in ast.walk(fn)):
                out.add(f"{path.stem}.{fn.name}")
    return out


def test_one_function_writes_manifests_and_publishes():
    for name in ("write_manifest", "publish"):
        assert _callers(name) == {"build.write_generation"}, name


def test_every_writer_goes_through_the_commit_path():
    assert _callers("write_generation") == {
        "build.build_full_index", "build.build_incremental", "merge.compact"}
