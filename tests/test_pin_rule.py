"""The package pins a frame one way: ``localCheckpoint``.

Static check, no Spark session: walk every package module's AST.  A
``.persist(`` or ``.cache(`` call brings back a second pin mechanism, one
that ``session.release`` does not free and whose lazy form serializes
AQE's concurrent fan-out on the cache-population lock.  A parameter named
``checkpoint`` brings back an on/off pin switch that only tests flip.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "cfht2caom2_spark"


def _violations() -> list[str]:
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")):
                out.append(f"{rel}:{node.lineno} .{node.func.attr}(")
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.Lambda)):
                a = node.args
                for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs]:
                    if arg.arg == "checkpoint":
                        out.append(f"{rel}:{node.lineno} checkpoint=")
    return out


def test_localcheckpoint_is_the_only_pin():
    bad = _violations()
    assert not bad, f"second pin mechanism or pin switch: {bad}"
