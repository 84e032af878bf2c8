"""The library names that the benchmark (``perfbench/``, ``bench.py``), the
query entry point (``__spark_entry__.py``) and ``tools/`` use still exist, and
still take the keywords those callers pass.

Those files import from ``loongcollector_spark`` at module level and inside
functions, so a library change that drops a name or a keyword they use would
otherwise fail only when the benchmark or those queries run. Checked statically:
the callers are parsed with ``ast``, only the library is imported, and no
Spark session starts.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "loongcollector_spark"
CALLERS = [
    *sorted(ROOT.glob("perfbench/*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted(ROOT.glob("tools/*.py")),
]


def _is_lib(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def _lookup(module: str, attrs: list[str]):
    """``module.attrs[0].attrs[1]...``, importing submodules on the way."""
    obj = importlib.import_module(module)
    for a in attrs:
        if hasattr(obj, "__path__") and not hasattr(obj, a):  # a package
            obj = importlib.import_module(f"{obj.__name__}.{a}")
        else:
            obj = getattr(obj, a)
    return obj


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _own_nodes(scope: ast.AST) -> list[ast.AST]:
    """The nodes of one scope; a nested function is listed but not entered."""
    out, todo = [], list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        out.append(node)
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))
    return out


def _scoped(scope: ast.AST, inherited: dict):
    """``(node, aliases)`` for every node of ``scope`` and of the functions
    in it, ``aliases`` mapping each local name bound to the library to
    ``(module, attribute path)``: imports at module level and inside
    functions, minus names a function rebinds to something else."""
    nodes = _own_nodes(scope)
    aliases = dict(inherited)
    for node in nodes:
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            aliases.pop(node.id, None)
        elif isinstance(node, ast.arg):
            aliases.pop(node.arg, None)
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _is_lib(node.module):
            for a in node.names:
                aliases[a.asname or a.name] = (node.module, [a.name])
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_lib(a.name):  # ``import pkg.mod`` binds ``pkg``
                    aliases[a.asname or PKG] = (a.name if a.asname else PKG, [])
    for node in nodes:
        yield node, aliases
        if isinstance(node, _SCOPES):
            yield from _scoped(node, aliases)


def _chain(node: ast.AST, aliases: dict) -> tuple[str, list[str]] | None:
    """The library path a ``Name``/``Attribute`` expression refers to."""
    attrs = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name) and node.id in aliases:
        module, path = aliases[node.id]
        return module, path + attrs[::-1]
    return None


def _call_problem(obj, call: ast.Call) -> str | None:
    """Why ``call`` no longer fits ``obj``'s signature, or None."""
    try:
        sig = inspect.signature(obj)
    except (TypeError, ValueError):
        return None
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    kws = [k.arg for k in call.keywords if k.arg is not None]
    if not starred and len(kws) == len(call.keywords):
        try:
            sig.bind(*[None] * len(call.args), **dict.fromkeys(kws))
        except TypeError as e:
            return str(e)
        return None
    if any(p.kind is p.VAR_KEYWORD for p in sig.parameters.values()):
        return None
    missing = [k for k in kws if k not in sig.parameters]
    return f"unknown keywords {missing}" if missing else None


def test_callers_use_existing_names_and_keywords():
    problems, n_refs, n_calls = [], 0, 0
    for path in CALLERS:
        where = path.relative_to(ROOT)
        for node, aliases in _scoped(ast.parse(path.read_text(), str(path)), {}):
            if isinstance(node, ast.ImportFrom) and node.level == 0 and _is_lib(node.module):
                refs = [(node.module, [a.name]) for a in node.names]
            elif isinstance(node, (ast.Name, ast.Attribute)):
                refs = [r for r in [_chain(node, aliases)] if r]
            else:
                refs = []
            for module, attrs in refs:
                n_refs += 1
                try:
                    _lookup(module, attrs)
                except (ImportError, AttributeError) as e:
                    problems.append(f"{where}:{node.lineno}: {'.'.join([module, *attrs])}: {e}")
            ref = _chain(node.func, aliases) if isinstance(node, ast.Call) else None
            if ref is None:
                continue
            try:
                obj = _lookup(*ref)
            except (ImportError, AttributeError):
                continue  # reported above
            n_calls += 1
            why = _call_problem(obj, node)
            if why:
                problems.append(f"{where}:{node.lineno}: {'.'.join([ref[0], *ref[1]])}(...): {why}")
    assert n_refs > 100 and n_calls > 50, (n_refs, n_calls)  # the scan found the callers' uses
    assert not problems, "\n".join(problems)
