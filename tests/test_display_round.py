"""The cross-engine 6-dp display rounding lives in one place
(``functions/stats.py``: ``from_micro`` and ``round6``); no other
package module spells ``F.round(F.round(m).cast("bigint") / 1e6, 6)``
by hand."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
_OWNER = "oasysdb_spark/functions/stats.py"


def _is_round(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "round"
    )


def _is_1e6(node) -> bool:
    if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "lit":
        return any(_is_1e6(a) for a in node.args)
    return isinstance(node, ast.Constant) and node.value == 1e6


def _micro_displays(src: str):
    """Line numbers of ``round(round(m).cast("bigint") / 1e6, 6)``."""
    for node in ast.walk(ast.parse(src)):
        if not (_is_round(node) and len(node.args) == 2):
            continue
        div, scale = node.args
        if not (
            isinstance(scale, ast.Constant)
            and scale.value == 6
            and isinstance(div, ast.BinOp)
            and isinstance(div.op, ast.Div)
            and _is_1e6(div.right)
        ):
            continue
        cast = div.left
        if (
            isinstance(cast, ast.Call)
            and getattr(cast.func, "attr", None) == "cast"
            and [getattr(a, "value", None) for a in cast.args] == ["bigint"]
            and _is_round(cast.func.value)
        ):
            yield node.lineno


def test_guard_detects_spelled_out_display_rounds():
    src = (
        'a = F.round(F.round(x * 1e6).cast("bigint") / F.lit(1e6), 6)\n'
        'b = F.round(\n    F.round(m).cast("bigint") / 1e6,\n    6,\n)\n'
        "c = F.round(F.max('em') / 1e6, 6)\n"
        'd = F.round(F.round(x * 1e6).cast("bigint") / F.lit(1e6), 2)\n'
        "e = round6(x)\n"
    )
    assert list(_micro_displays(src)) == [1, 2]


def test_display_round_is_spelled_only_in_stats():
    found = {
        (str(f.relative_to(REPO)), line)
        for f in sorted(REPO.glob("oasysdb_spark/**/*.py"))
        if str(f.relative_to(REPO)) != _OWNER
        for line in _micro_displays(f.read_text())
    }
    assert found == set()
    assert list(_micro_displays((REPO / _OWNER).read_text())), (
        "from_micro must still spell the rule the guard looks for"
    )
