"""No parameter that no caller passes.

A pure-AST scan (no Spark): every defaulted parameter of a module-level
``def`` in ``osm_wayback_spark/`` must be set by some call site, by
position, by keyword or through ``functools.partial``, anywhere in the
package, ``__spark_entry__.py``, ``bench.py``, ``perfbench/``, ``tools/``
or ``tests/``. Calls resolve by the called name (``f(...)`` and
``mod.f(...)`` alike, import aliases and ``g = mod.f`` followed), so a
name shared by two definitions counts for both; ``*args`` sets every
later positional parameter and ``**kwargs`` sets them all.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "osm_wayback_spark"
CALLERS = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py",
           ROOT / "perfbench", ROOT / "tools", ROOT / "tests"]


def _files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], list[str]]:
    """(positional parameter names, names of the defaulted ones)."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
    dflt += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return pos, dflt


def _callee(node: ast.expr, aliases: dict[str, str]) -> str | None:
    if isinstance(node, ast.Name):
        return aliases.get(node.id, node.id)
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def unset_parameters() -> list[str]:
    defs: dict[str, list[tuple[str, list[str], list[str]]]] = {}
    for f in _files(PACKAGE):
        mod = f.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                pos, dflt = _defaulted(node)
                if dflt:
                    defs.setdefault(node.name, []).append((mod, pos, dflt))

    trees = [ast.parse(f.read_text()) for p in CALLERS for f in _files(p)]
    aliases = {a.asname: a.name for t in trees for n in ast.walk(t)
               if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
    # ``real = sinks.to_topojson_history``: calls through the local name
    aliases.update(
        (n.targets[0].id, _callee(n.value, aliases))
        for t in trees for n in ast.walk(t)
        if isinstance(n, ast.Assign) and len(n.targets) == 1
        and isinstance(n.targets[0], ast.Name)
        and _callee(n.value, aliases) in defs
    )
    set_by: dict[str, set[str]] = {name: set() for name in defs}
    for tree in trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name, args = _callee(call.func, aliases), call.args
            if name == "partial" and args:
                name, args = _callee(args[0], aliases), args[1:]
            if name not in defs:
                continue
            for _, pos, _ in defs[name]:
                for i, arg in enumerate(args):
                    if isinstance(arg, ast.Starred):
                        set_by[name].update(pos[i:])
                        break
                    if i < len(pos):
                        set_by[name].add(pos[i])
            for kw in call.keywords:
                if kw.arg is None:
                    set_by[name].update(p for *_, d in defs[name] for p in d)
                else:
                    set_by[name].add(kw.arg)

    return sorted(f"{mod}:{name}({p})" for name, entries in defs.items()
                  for mod, _, dflt in entries for p in dflt
                  if p not in set_by[name])


def test_every_defaulted_parameter_has_a_caller():
    unset = unset_parameters()
    assert not unset, (f"{len(unset)} defaulted parameters that no call site "
                       "sets:\n" + "\n".join(unset))
