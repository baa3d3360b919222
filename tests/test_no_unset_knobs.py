"""Every defaulted package parameter has a shipped caller that sets it.

Static check, no Spark session.  A parameter with a default that no shipped
caller — the package itself, ``__main__``, ``__spark_entry__.py``,
``bench.py``, ``bench_extra.py``, ``scripts/`` and ``perfbench/`` — ever
sets is a configuration nobody runs: every caller gets the default, so the
parameter is a constant with extra steps, and any branch only a non-default
value reaches is dead code the tests must still cover.  Delete it and use
the constant, or list it in ``ALLOWED`` with the reason it stays.

A call sets a parameter when it names the function (a class name for
``__init__``, the method name for a method) and passes the parameter by
keyword or by position; a ``*args`` or ``**kwargs`` splat sets every
parameter it could reach.  A call that only forwards an unset parameter of
its own enclosing function (``f(x=x)``) sets nothing, so the scan repeats
until the set of unset parameters stops growing.

The same holds for a default no shipped call reaches: when every shipped
call passes a parameter, and all pass one and the same literal that differs
from the default, the default selects a branch only tests run.  Delete the
parameter and keep the value the callers pass, or list it in
``ALLOWED_DEAD_DEFAULTS`` with the reason it stays.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from functools import cache
from pathlib import Path

from tests.test_no_orphan_modules import PKG, _roots

# "module:function(param)" -> why the parameter stays although no shipped
# caller sets it.
ALLOWED = {
    "session:get_spark(shuffle_partitions)":
        "test sessions size their shuffle to the test data",
    "operators.decontam:decontaminate(prefilter_bits)":
        "prefilter_bits=0 is the unpruned reference plan the bitmap "
        "prefilter's plan-shape test compares against",
    "functions.langid:FastTextLangID.__init__(conf_floor)":
        "FastTextLangID is the kept production langid swap-in; "
        "conf_floor is its model-specific confidence cut",
    "functions.perplexity:BigramLM.__init__(corpora)":
        "the seed-string constructor the Spark-trained LM is pinned equal "
        "to on an arbitrary document",
    "functions.perplexity:KenLMModel.__init__(fallback_lang)":
        "KenLMModel is the kept production LM swap-in; fallback_lang "
        "picks the model for languages it has none for",
}

# "module:function(param)" -> why the default stays although every shipped
# caller passes the same other literal.
ALLOWED_DEAD_DEFAULTS: dict[str, str] = {}


@cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _module_name(path: Path) -> str:
    rel = path.relative_to(PKG).with_suffix("")
    parts = [p for p in rel.parts if p != "__init__"]
    return ".".join(parts) or "__init__"


def _defs() -> dict[str, list[tuple[ast.AST, list[tuple]]]]:
    """Call name -> [(def node, defaulted parameters)] over every package
    function, method and class ``__init__``; a parameter is (key, name,
    positional index or None)."""
    out: dict[str, list] = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        mod = _module_name(path)
        scopes = [(_parse(path), None)]
        while scopes:
            scope, cls = scopes.pop()
            for node in ast.iter_child_nodes(scope):
                if isinstance(node, ast.ClassDef):
                    scopes.append((node, node.name))
                    continue
                if not isinstance(node, (ast.FunctionDef,
                                         ast.AsyncFunctionDef)):
                    continue
                scopes.append((node, None))
                qual = f"{cls}.{node.name}" if cls else node.name
                a = node.args
                positional = [*a.posonlyargs, *a.args]
                # bound methods take self/cls implicitly
                skip = int(bool(cls and positional
                                and positional[0].arg in ("self", "cls")))
                first_default = len(positional) - len(a.defaults)
                params = [(f"{mod}:{qual}({arg.arg})", arg.arg, i - skip)
                          for i, arg in enumerate(positional)
                          if i >= max(skip, first_default)]
                params += [(f"{mod}:{qual}({arg.arg})", arg.arg, None)
                           for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                           if d is not None]
                name = cls if cls and node.name == "__init__" else node.name
                out[name].append((node, params))
    return out


def _shipped_calls() -> list[tuple[ast.Call, ast.AST | None]]:
    """Every call in a shipped file, with its enclosing function."""
    out = []
    for path in sorted(PKG.rglob("*.py")) + _roots():
        todo = [(_parse(path), None)]
        while todo:
            node, fn = todo.pop()
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.Call):
                    out.append((child, fn))
                todo.append((child, child if isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn))
    return out


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _set_by(call: ast.Call, name: str, index: int | None):
    """The expression ``call`` passes for a parameter, True when a splat
    may pass it, None when it is left at its default."""
    for k in call.keywords:
        if k.arg == name:
            return k.value
    positional = call.args
    if index is not None and index < len(positional):
        starred = any(isinstance(a, ast.Starred)
                      for a in positional[:index + 1])
        return True if starred else positional[index]
    splat = any(k.arg is None for k in call.keywords) or (
        index is not None and any(isinstance(a, ast.Starred)
                                  for a in positional))
    return True if splat else None


def unset_knobs() -> list[str]:
    """Keys of the defaulted package parameters no shipped caller sets."""
    defs = _defs()
    calls = [(c, fn, _call_name(c)) for c, fn in _shipped_calls()]
    calls = [(c, fn, n) for c, fn, n in calls if n in defs]
    owner = {key: (node, name) for entries in defs.values()
             for node, params in entries for key, name, _ in params}
    unset: set[str] = set()
    while True:
        # a call forwarding an unset parameter of its own function
        # (``f(x=x)``) passes nothing but the default
        forwarded = {(owner[k][0], owner[k][1]) for k in unset}
        set_keys = set()
        for call, fn, name in calls:
            for _, params in defs[name]:
                for key, pname, index in params:
                    value = _set_by(call, pname, index)
                    if value is None or (isinstance(value, ast.Name)
                                         and (fn, value.id) in forwarded):
                        continue
                    set_keys.add(key)
        now = set(owner) - set_keys
        if now == unset:
            return sorted(unset)
        unset = now


_NOT_LITERAL = object()


def _literal(node) -> object:
    """``repr`` of a literal expression's value, else ``_NOT_LITERAL``."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return _NOT_LITERAL


def _defaults(node) -> dict[str, ast.AST]:
    """Parameter name -> default expression of a function definition."""
    a = node.args
    positional = [*a.posonlyargs, *a.args]
    out = dict(zip([p.arg for p in positional[len(positional)
                                              - len(a.defaults):]],
                   a.defaults))
    out.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
               if d is not None)
    return out


def dead_defaults() -> list[str]:
    """Keys of the defaulted package parameters that every shipped call
    passes, all as one literal that differs from the default."""
    defs = _defs()
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    for call, _ in _shipped_calls():
        name = _call_name(call)
        if name in defs:
            calls[name].append(call)
    dead = []
    for name, entries in defs.items():
        for node, params in entries:
            defaults = _defaults(node)
            for key, pname, index in params:
                passed = {_literal(v) if isinstance(v, ast.AST)
                          else _NOT_LITERAL
                          for v in (_set_by(c, pname, index)
                                    for c in calls[name])}
                default = _literal(defaults[pname])
                if len(passed) == 1 and _NOT_LITERAL not in passed \
                        and default is not _NOT_LITERAL \
                        and passed != {default}:
                    dead.append(key)
    return sorted(dead)


def test_every_defaulted_parameter_has_a_shipped_caller():
    unset = unset_knobs()
    stale = sorted(set(ALLOWED) - set(unset))
    bad = [k for k in unset if k not in ALLOWED]
    assert not bad, f"defaulted parameters no shipped caller sets: {bad}"
    assert not stale, f"allowlisted but set by a shipped caller, or gone: " \
                      f"{stale}"


def test_no_default_is_dead_in_every_shipped_call():
    dead = dead_defaults()
    stale = sorted(set(ALLOWED_DEAD_DEFAULTS) - set(dead))
    bad = [k for k in dead if k not in ALLOWED_DEAD_DEFAULTS]
    assert not bad, f"defaults no shipped call reaches: {bad}"
    assert not stale, f"allowlisted but reached by a shipped call, or " \
                      f"gone: {stale}"


if __name__ == "__main__":
    # the defaulted-parameter count and the unset ones, allowlisted or not
    unset = unset_knobs()
    print(sum(len(p) for e in _defs().values() for _, p in e), len(unset))
    print("\n".join(unset))
    print("dead defaults:", dead_defaults())
