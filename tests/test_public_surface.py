"""The library names that the benchmark (``perfbench/``, ``bench.py``), the
query entry point (``__spark_entry__.py``) and ``tools/`` use still exist, and
still take the keywords those callers pass; and every option of the library (a
parameter with a default) is set by some call.

Those files import from ``loongcollector_spark`` at module level and inside
functions, so a library change that drops a name or a keyword they use would
otherwise fail only when the benchmark or those queries run. An option that
no call sets is a configuration nothing runs: its other values take branches
no test covers. Checked statically: the callers are parsed with ``ast``, only
the library is imported, and no Spark session starts.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
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
LIBRARY = sorted((ROOT / PKG).rglob("*.py"))
TESTS = sorted(ROOT.glob("tests/*.py"))


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


def _module_of(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _from_module(node: ast.ImportFrom, package: str | None) -> str | None:
    """The absolute module an ``import from`` names (relative ones resolved
    against ``package``)."""
    if node.level == 0:
        return node.module
    if package is None:
        return None
    return importlib.util.resolve_name("." * node.level + (node.module or ""), package)


def _scoped(scope: ast.AST, inherited: dict, package: str | None = None):
    """``(node, aliases, scope)`` for every node of ``scope`` and of the
    functions in it, ``aliases`` mapping each local name bound to the library
    to ``(module, attribute path)``: imports at module level and inside
    functions (relative ones too, given the file's ``package``), minus names a
    function rebinds to something else."""
    nodes = _own_nodes(scope)
    aliases = dict(inherited)
    for node in nodes:
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            aliases.pop(node.id, None)
        elif isinstance(node, ast.arg):
            aliases.pop(node.arg, None)
    for node in nodes:
        module = _from_module(node, package) if isinstance(node, ast.ImportFrom) else None
        if _is_lib(module):
            for a in node.names:
                aliases[a.asname or a.name] = (module, [a.name])
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_lib(a.name):  # ``import pkg.mod`` binds ``pkg``
                    aliases[a.asname or PKG] = (a.name if a.asname else PKG, [])
    for node in nodes:
        yield node, aliases, scope
        if isinstance(node, _SCOPES):
            yield from _scoped(node, aliases, package)


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
        for node, aliases, _ in _scoped(ast.parse(path.read_text(), str(path)), {}):
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


CONFIG_CLASSES = ["ParserSpec", "RouteRule", "SinkCondition", "ParserOptions"]

# The pure-Python reference the tests compare the operators against: its
# options mirror the reference plugins', not this library's calls.
REFERENCE = f"{PKG}.oracle"

# Options a deployment sets (table format, cache location); no code here does.
DEPLOYMENT = {
    f"{PKG}.sources.io.read_sequences(fmt=)": "Iceberg in production, parquet here",
    f"{PKG}.synth.default_sequences_path(base_dir=)": "the synth cache's directory",
    f"{PKG}.synth.ensure_sequences(base_dir=)": "the synth cache's directory",
}

# Options set by a call the scan cannot resolve, and the line that sets each.
SET_OUT_OF_SIGHT = {
    f"{PKG}.plans.job.run_job(default_sink=)": "tests/test_checkpoint.py:313",  # **kw of a parametrize
}


def _library_functions() -> dict:
    """``{callable: (qualified name, parameters with a default)}`` for every
    public function, public method and config dataclass defined in the
    library (but the reference); a dataclass is called by its class name."""
    found = {}
    for path in LIBRARY:
        if _module_of(path) == REFERENCE:
            continue
        mod = importlib.import_module(_module_of(path))
        members = [(n, o) for n, o in vars(mod).items() if not n.startswith("_")]
        for name, obj in members:
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            fns = [(name, obj)] if inspect.isfunction(obj) or name in CONFIG_CLASSES else []
            if inspect.isclass(obj):
                fns += [(f"{name}.{m}", f) for m, f in vars(obj).items()
                        if inspect.isfunction(f) and not m.startswith("_")]
            for qual, fn in fns:
                opts = [p.name for p in inspect.signature(fn).parameters.values()
                        if p.default is not p.empty]
                if opts:
                    found[fn] = (f"{mod.__name__}.{qual}", opts)
    return found


def _passed(sig: inspect.Signature, call: ast.Call) -> list[tuple[str, ast.AST]]:
    """``(parameter, value)`` for each value ``call`` passes, by position or
    by keyword."""
    positional = [p.name for p in sig.parameters.values()
                  if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]
    passed = []
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            break
        if i < len(positional):
            passed.append((positional[i], a))
    return passed + [(k.arg, k.value) for k in call.keywords if k.arg is not None]


def test_every_option_is_set_by_some_call():
    """A parameter with a default stays only while some call in the
    benchmark, the entry points, ``tools/``, the tests or the library itself
    passes it a value. With one value in use, the option is a constant, and
    the branch another value would take runs nowhere. A library function that
    only forwards its own parameter of the same name sets it only if its own
    parameter is set. An option a deployment sets, or one set by a call the
    scan cannot resolve, is listed above with its reason or its line."""
    functions = _library_functions()
    used: set[tuple] = set()
    forwards: list[tuple[tuple, tuple]] = []  # (caller, name) → (callee, name)
    n_calls = 0
    for path in [*CALLERS, *TESTS, *LIBRARY]:
        tree = ast.parse(path.read_text(), str(path))
        package, inherited, mod = None, {}, None
        if path in LIBRARY:
            module = _module_of(path)
            mod = importlib.import_module(module)
            package = module if path.name == "__init__.py" else module.rpartition(".")[0]
            inherited = {n.name: (module, [n.name]) for n in tree.body
                         if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
        for node, aliases, scope in _scoped(tree, inherited, package):
            ref = _chain(node.func, aliases) if isinstance(node, ast.Call) else None
            if ref is None:
                continue
            try:
                fn = _lookup(*ref)
                sig = inspect.signature(fn)
            except (ImportError, AttributeError, TypeError, ValueError):
                continue
            n_calls += 1
            own = set()
            if mod is not None and scope in tree.body and isinstance(scope, ast.FunctionDef):
                own = {a.arg for a in ast.walk(scope.args) if isinstance(a, ast.arg)}
            for name, value in _passed(sig, node):
                if isinstance(value, ast.Name) and value.id == name and name in own:
                    forwards.append(((vars(mod)[scope.name], name), (fn, name)))
                else:
                    used.add((fn, name))
    options = {f"{qual}({p}=)": (fn, p) for fn, (qual, opts) in functions.items() for p in opts}
    seen = {o for o, key in options.items() if key in used}
    stale = sorted(seen & {*DEPLOYMENT, *SET_OUT_OF_SIGHT})
    assert not stale, f"exempt, but a call the scan sees sets it: {stale}"
    for option, where in SET_OUT_OF_SIGHT.items():
        path, line = where.split(":")
        name = option.rpartition("(")[2][:-2]
        assert name in (ROOT / path).read_text().splitlines()[int(line) - 1], (option, where)
        used.add(options[option])
    while True:
        more = {dst for src, dst in forwards if src in used and dst not in used}
        if not more:
            break
        used |= more
    unset = sorted(o for o, key in options.items() if key not in used and o not in DEPLOYMENT)
    assert n_calls > 100, n_calls  # the scan found the calls
    assert not unset, f"{len(unset)} options no call sets:\n" + "\n".join(unset)
