"""Plan-shape helpers shared by the plan checks.

A physical plan is reduced to the count of each exchange and Python
exec node it contains; two plans are compared node kind by node kind.
"""

from __future__ import annotations

import json
import re
from collections import Counter

#: Spark's shuffle and broadcast exchanges, as named in a plan tree
EXCHANGES = ("Exchange", "BroadcastExchange", "ReusedExchange")
#: exec nodes that run Python workers
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
)
_NODE = re.compile(r"\b(" + "|".join(sorted(EXCHANGES + PYTHON_NODES, key=len, reverse=True)) + r")\b")


def plan_tree(qe) -> str:
    """The physical plan tree of a JVM QueryExecution, as a string."""
    return qe.executedPlan().toString()


def node_counts(tree: str) -> Counter:
    """Exchange and Python node counts of a plan tree string.

    Only the node name opening each tree line counts, so an expression
    that mentions a node name cannot be mistaken for one.
    """
    out: Counter = Counter()
    for line in tree.splitlines():
        body = line.lstrip(" :+-*()0123456789")
        m = _NODE.match(body)
        if m:
            out[m.group(1)] += 1
    return out


def dropped(own: Counter, other: Counter) -> dict[str, int]:
    """Node kinds ``other`` has fewer of than ``own``, with the shortfall."""
    return {k: n - other.get(k, 0) for k, n in own.items() if other.get(k, 0) < n}


def physical_section(description: str) -> str:
    """The '== Physical Plan ==' tree of an extended explain string."""
    _, _, rest = description.partition("== Physical Plan ==\n")
    return rest


def write_plans(event_log: str, prefix: str) -> dict[str, str]:
    """Initial physical plans of SQL executions whose description starts
    with ``prefix``, keyed by the rest of the description.

    Reads SparkListenerSQLExecutionStart events, whose plan description
    is taken before adaptive execution rewrites the plan.
    """
    out: dict[str, str] = {}
    with open(event_log) as f:
        for line in f:
            if "SQLExecutionStart" not in line:
                continue
            ev = json.loads(line)
            desc = ev.get("description") or ""
            if ev["Event"].endswith("SparkListenerSQLExecutionStart") and desc.startswith(prefix):
                out.setdefault(desc[len(prefix):], physical_section(ev["physicalPlanDescription"]))
    return out
