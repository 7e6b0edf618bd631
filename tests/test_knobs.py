"""Every option has a caller.

An on/off switch that no caller flips is an inert path: it doubles the
configurations the tests must cover and runs nowhere. This file reads
the source with `ast` (no Spark) and fails on

- a parameter of a function in `webloghunter_spark/` whose default is
  True or False, that no call outside `tests/` sets to anything else;
- a module-level `NAME = True` / `NAME = False` in `webloghunter_spark/`.

Calls are matched to functions by name (a call `x.f(...)` counts for
every function named `f`), positional arguments by each definition's
parameter order, and `_on(table, op, *args, **kwargs)` registry rows as
calls of `op(table, *args, **kwargs)`. A parameter of the enclosing
function passed on by name (`g(flag=flag)`) sets the inner parameter
only if something sets the outer one.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "webloghunter_spark"
CALLER_ROOTS = [PACKAGE, ROOT / "tools", ROOT / "perfbench"]
CALLER_FILES = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# "function.parameter" -> why the switch stays with no caller flipping it.
ALLOWED = {
    "with_utc_timestamp.fail_on_unparsed": (
        "validates outside input: a caller that wants unparsed timestamps "
        "to raise instead of going null turns it on"
    ),
}

_UNSET = object()


def _sources(roots, files):
    out = []
    for root in roots:
        out.extend(sorted(p for p in root.rglob("*.py") if p.is_file()))
    out.extend(p for p in files if p.is_file())
    return [(p, ast.parse(p.read_text(), filename=str(p))) for p in out]


def _params(fn: ast.FunctionDef) -> list[tuple[str, object]]:
    """(name, default) of the positional-or-keyword and keyword-only
    parameters, default `_UNSET` where there is none."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [_UNSET] * (len(pos) - len(a.defaults)) + list(a.defaults)
    out = list(zip((p.arg for p in pos), defaults))
    out += [(p.arg, d if d is not None else _UNSET)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return out


def _is_bool(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, bool)


def _switches(trees):
    """{(function name, parameter): (default, positional index or None,
    "path:line")} for every bool-defaulted parameter."""
    out = {}
    for path, tree in trees:
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            n_pos = len(fn.args.posonlyargs + fn.args.args)
            for i, (name, default) in enumerate(_params(fn)):
                if default is not _UNSET and _is_bool(default):
                    where = f"{path.relative_to(ROOT)}:{fn.lineno}"
                    out.setdefault((fn.name, name), []).append(
                        (default.value, i if i < n_pos else None, where)
                    )
    return out


def _calls(trees):
    """(callee name, [positional arg nodes], {keyword: node}, enclosing
    function parameter names) for every call."""
    out = []

    def visit(node, enclosing: frozenset):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            enclosing = enclosing | {name for name, _ in _params(node)}
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            args = list(node.args)
            kws = {k.arg: k.value for k in node.keywords if k.arg}
            if name == "_on" and len(args) >= 2 and isinstance(args[1], ast.Name):
                # registry row: op(table, *args, **kwargs)
                out.append((args[1].id, [args[0]] + args[2:], kws, enclosing))
            if name:
                out.append((name, args, kws, enclosing))
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    for _, tree in trees:
        visit(tree, frozenset())
    return out


def unflipped_switches() -> list[str]:
    """Bool-defaulted parameters no call outside the tests sets to a
    non-default value, as "function.parameter (path:line)"."""
    switches = _switches(_sources([PACKAGE], []))
    calls = _calls(_sources(CALLER_ROOTS, CALLER_FILES))
    # (function, parameter) -> {parameter names forwarded into it}
    forwarded: dict[tuple[str, str], set[str]] = {}
    flipped: set[tuple[str, str]] = set()
    for name, args, kws, enclosing in calls:
        for (fn, param), defs in switches.items():
            if fn != name:
                continue
            for default, index, _ in defs:
                value = kws.get(param)
                if value is None and index is not None and index < len(args):
                    value = args[index]
                if value is None or isinstance(value, ast.Starred):
                    continue
                if _is_bool(value) and value.value == default:
                    continue
                if isinstance(value, ast.Name) and value.id in enclosing:
                    forwarded.setdefault((fn, param), set()).add(value.id)
                else:
                    flipped.add((fn, param))
    # A forwarded parameter is flipped when the one it comes from is a
    # real input (not a switch) or is itself flipped.
    switch_params = {param for _, param in switches}
    changed = True
    while changed:
        flipped_params = {param for _, param in flipped}
        new = {key for key, sources in forwarded.items()
               if any(s not in switch_params or s in flipped_params for s in sources)}
        changed = not new <= flipped
        flipped |= new
    return sorted(
        f"{fn}.{param} ({defs[0][2]})"
        for (fn, param), defs in switches.items()
        if (fn, param) not in flipped and f"{fn}.{param}" not in ALLOWED
    )


def module_bool_constants() -> list[str]:
    """Module-level `NAME = True/False` assignments in the package."""
    found = []
    for path, tree in _sources([PACKAGE], []):
        for node in tree.body:
            if isinstance(node, ast.Try):  # guarded imports set flags too
                body = node.body + [h for hs in node.handlers for h in hs.body]
            else:
                body = [node]
            for stmt in body:
                if isinstance(stmt, ast.Assign) and _is_bool(stmt.value):
                    targets = stmt.targets
                elif isinstance(stmt, ast.AnnAssign) and _is_bool(stmt.value):
                    targets = [stmt.target]
                else:
                    continue
                for t in targets:
                    if isinstance(t, ast.Name):
                        found.append(f"{t.id} ({path.relative_to(ROOT)}:{stmt.lineno})")
    return sorted(set(found))


def test_every_bool_parameter_has_a_caller_that_flips_it():
    assert unflipped_switches() == []


def test_no_module_level_bool_switches():
    assert module_bool_constants() == []


def test_allow_list_names_live_parameters():
    switches = _switches(_sources([PACKAGE], []))
    assert {f"{fn}.{p}" for fn, p in switches} >= set(ALLOWED)
