"""Physical-plan observability: count the expensive structural nodes
of a DataFrame's planned execution WITHOUT running it.

Why this exists: the two costliest regressions this repo has had were
plan-shape regressions, not logic bugs — Catalyst inlining a
tokenization UDF under an explode re-evaluated it per shingle (15x on
the decontamination arm, round 5), and a repeated driver-side
listing+footer read taxed every entry's build (round 6). Both were
invisible to value-correctness tests and found only by timing. The
counts below turn plan shape into a REGRESSION GATE: each registry
entry's shuffle/broadcast/Python-stage counts are recorded in
`tests/plan_budgets.json` and `tests/test_plan_budget.py` fails any
entry whose counts GROW — the moment a rewrite or an optimizer change
adds an exchange or duplicates a Python stage, the suite says so,
at plan time, in seconds.

At 100 TB the same counts are the cost model: every shuffle exchange
is a full re-materialization of the stream on the cluster network,
every extra Python stage is an Arrow boundary crossing, and a
broadcast that silently becomes a shuffle join is the difference
between seconds and hours. A plan budget is how that intent survives
refactoring.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: shuffle exchanges — "Exchange hashpartitioning(...)" etc., but NOT
#: BroadcastExchange (different cost class) or ReusedExchange (free).
_SHUFFLE = re.compile(r"(?<!Broadcast)(?<!Reused)\bExchange\b")
_BROADCAST = re.compile(r"\bBroadcastExchange\b")
#: Arrow/Python boundary stages — each is a JVM<->Python round trip.
_PYTHON = re.compile(
    r"\b(ArrowEvalPythonUDTF|BatchEvalPythonUDTF|ArrowEvalPython"
    r"|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas"
    r"|FlatMapGroupsInPandasWithState|AggregateInPandas)\b"
)
_SORT = re.compile(r"\bSort\b")


def _initial_plan(plan: str) -> str:
    """``plan`` without its AQE ``== Final Plan ==`` sections. Once a
    frame has run, each ``AdaptiveSparkPlan`` prints its final plan
    above its initial one; a section ends at the ``== Initial Plan ==``
    marker in the same column, so nested adaptive plans are cut the
    same way."""
    out, skip_col = [], None
    for line in plan.splitlines():
        if skip_col is not None:
            if line.find("== Initial Plan ==") != skip_col:
                continue
            skip_col = None
        col = line.find("== Final Plan ==")
        if col >= 0:
            skip_col = col
            continue
        out.append(line)
    return "\n".join(out)


def plan_counts(df: DataFrame) -> dict[str, int]:
    """Structural node counts of the physical plan (AQE initial plan —
    deterministic for a fixed session config and input layout; nothing
    executes, and a frame that has already run counts the same).
    Keys: ``shuffles``, ``broadcasts``, ``python_stages``, ``sorts``."""
    s = _initial_plan(df._jdf.queryExecution().executedPlan().toString())
    return {
        "shuffles": len(_SHUFFLE.findall(s)),
        "broadcasts": len(_BROADCAST.findall(s)),
        "python_stages": len(_PYTHON.findall(s)),
        "sorts": len(_SORT.findall(s)),
    }
