"""Executed-plan helpers shared by the plan tests."""

from __future__ import annotations

_PY_MAPS = ("MapInArrow", "MapInPandas")


def final_plan(df) -> list[str]:
    """The lines of ``df``'s final adaptive executed plan; run an action
    on ``df`` itself (``collect``) first."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    return final.splitlines()


def python_maps(lines: list[str]) -> list[int]:
    """Indices of the Python map nodes (``mapInArrow`` / ``mapInPandas``)."""
    return [i for i, line in enumerate(lines) if any(m in line for m in _PY_MAPS)]


def ancestors(lines: list[str], i: int) -> list[str]:
    """The nodes above plan line ``i``: each earlier line indented less
    than the last."""
    def depth(line):
        return len(line) - len(line.lstrip(" +-:"))

    d, out = depth(lines[i]), []
    for line in reversed(lines[:i]):
        if depth(line) < d:
            out.append(line)
            d = depth(line)
    return out


def joins_above_python_maps(lines: list[str]) -> list[str]:
    """Every ``Join`` node that has a Python map node below it."""
    return [a for i in python_maps(lines) for a in ancestors(lines, i) if "Join" in a]
