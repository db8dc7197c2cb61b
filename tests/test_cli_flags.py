"""Every CLI flag is read by its subcommand (no Spark).

A flag nothing reads is a setting that silently does nothing: a caller
who passes it changes no behaviour. A subcommand reads ``--flag`` as
``args.<dest>`` (or ``getattr(args, "<dest>", ...)``) in its command
function, or in a ``cli`` function that the command hands ``args`` to."""

from __future__ import annotations

import argparse
import ast
import inspect

from mee_spark import cli


def _args_reads(fn, seen: set) -> set[str]:
    read = set()
    for node in ast.walk(ast.parse(inspect.getsource(fn))):
        if (isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, ast.Name) and node.value.id == "args"):
            read.add(node.attr)
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and any(isinstance(a, ast.Name) and a.id == "args"
                        for a in node.args)):
            continue
        if node.func.id == "getattr" and isinstance(node.args[1], ast.Constant):
            read.add(node.args[1].value)
        helper = getattr(cli, node.func.id, None)
        if inspect.isfunction(helper) and helper not in seen:
            seen.add(helper)
            read |= _args_reads(helper, seen)
    return read


def test_every_cli_flag_is_read():
    (sub,) = [a for a in cli.build_parser()._actions
              if isinstance(a, argparse._SubParsersAction)]
    unread = {}
    for name, sp in sub.choices.items():
        flags = {a.dest for a in sp._actions
                 if a.option_strings and a.dest != "help"}
        fn = sp.get_default("fn")
        missing = flags - _args_reads(fn, {fn})
        if missing:
            unread[name] = sorted(missing)
    assert unread == {}
