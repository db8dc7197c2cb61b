"""Every ``IndexConfig`` setting is read by the package (no Spark).

A field nothing reads is a setting that silently does nothing: a caller
who sets it changes no behaviour. The package reads a field as
``cfg.<field>`` (any attribute chain ending in ``cfg``) or through
``config.LAYOUT_FIELDS``."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import mee_spark
from mee_spark.config import LAYOUT_FIELDS, IndexConfig

PKG = pathlib.Path(mee_spark.__file__).parent


def _cfg_reads() -> set[str]:
    read = set(LAYOUT_FIELDS)
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Attribute)
                    and isinstance(node.ctx, ast.Load)):
                continue
            owner = node.value
            name = (owner.id if isinstance(owner, ast.Name)
                    else owner.attr if isinstance(owner, ast.Attribute) else None)
            if name == "cfg":
                read.add(node.attr)
    return read


def test_every_index_config_field_is_read():
    fields = {f.name for f in dataclasses.fields(IndexConfig)}
    assert sorted(fields - _cfg_reads()) == []
