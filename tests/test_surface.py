"""Option ratchet: every defaulted parameter of the program is set somewhere.

A parameter with a default that no call site in the repository ever sets
(by keyword or by position, tests included) is a constant dressed up as
an option.  This test AST-scans the program (``modernsearchengines_spark/``
and ``__spark_entry__.py``) for defaulted parameters, scans every ``.py``
file in the repository for calls, and names each parameter no call sets.

Calls are matched by the called name only (``mod.f(...)`` and ``f(...)``
both match ``def f``; a class name matches its ``__init__``), so a name
shared by two functions can hide an offender but never invent one.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ("modernsearchengines_spark", "__spark_entry__.py")


def _py_files(root: str):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(
            d for d in dirnames
            if not d.startswith(".") and d not in ("__pycache__", "dist")
        )
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _parse(path: str) -> ast.AST:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _is_program(path: str) -> bool:
    rel = os.path.relpath(path, REPO)
    return rel == PROGRAM[1] or rel.split(os.sep)[0] == PROGRAM[0]


def _defaulted_params(tree: ast.AST, rel: str) -> list:
    """``(call_name, where, param, position)`` per defaulted parameter.

    ``position`` is the argument's index in a call (``None`` for
    keyword-only parameters); a method's ``self``/``cls`` is not counted.
    """

    def visit(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                positional = a.posonlyargs + a.args
                skip = 1 if cls is not None and positional else 0
                name = cls if child.name == "__init__" and cls else child.name
                where = f"{rel}:{child.lineno} {child.name}"
                first = len(positional) - len(a.defaults)
                for i in range(first, len(positional)):
                    out.append((name, where, positional[i].arg, i - skip))
                for arg, dflt in zip(a.kwonlyargs, a.kw_defaults):
                    if dflt is not None:
                        out.append((name, where, arg.arg, None))
                visit(child, None)
            else:
                visit(child, cls)

    out: list = []
    visit(tree, None)
    return out


def _call_name(func: ast.AST):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(trees):
    """``name -> [(n_positional, keywords, star_args, star_kwargs)]``."""
    calls = defaultdict(list)
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _call_name(node.func)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in node.args)
            n_pos = sum(1 for a in node.args if not isinstance(a, ast.Starred))
            kws = {k.arg for k in node.keywords if k.arg is not None}
            star_kw = any(k.arg is None for k in node.keywords)
            calls[name].append((n_pos, kws, star, star_kw))
    return calls


def scan():
    """Return ``(all defaulted params, the ones no call site sets)``."""
    trees, params = [], []
    for path in _py_files(REPO):
        tree = _parse(path)
        trees.append(tree)
        if _is_program(path):
            params += _defaulted_params(tree, os.path.relpath(path, REPO))
    calls = _calls(trees)

    def is_set(name, param, pos):
        for n_pos, kws, star, star_kw in calls.get(name, ()):
            if param in kws or star_kw:
                return True
            if pos is not None and (n_pos > pos or star):
                return True
        return False

    unset = [
        (where, param)
        for name, where, param, pos in params
        if not is_set(name, param, pos)
    ]
    return params, unset


def test_every_defaulted_parameter_is_set_by_some_call():
    params, unset = scan()
    assert params, "the scan found no defaulted parameters at all"
    assert not unset, (
        f"{len(unset)} of {len(params)} defaulted parameters are set by no call "
        "site; make each a constant or give it a caller:\n"
        + "\n".join(f"  {where}: {param}" for where, param in unset)
    )


if __name__ == "__main__":
    all_params, offenders = scan()
    print(f"{len(all_params)} defaulted parameters, {len(offenders)} set by no call")
    for where, param in offenders:
        print(f"  {where}: {param}")
