"""Count physical-plan nodes in Spark's formatted plan description.

The event log records each SQL execution's plan in Spark's ``formatted``
explain mode: an operator tree whose nodes end in ``(id)``, followed by one
detail block per node id. Under adaptive execution the tree holds a
``== Final Plan ==`` section and an ``== Initial Plan ==`` section; only the
final one ran, so only it is counted.
"""

from __future__ import annotations

import re

_NODE = re.compile(r"^[\s:|+\-*]*([A-Za-z]\w*)[^()]*?\((\d+)\)")
_DETAIL = re.compile(r"^\((\d+)\) ", re.M)


def final_tree(plan: str) -> list[tuple[str, int]]:
    """``(operator, node id)`` for every node of the plan that ran."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = []
    for line in tree.splitlines():
        if line.startswith("== Physical Plan =="):
            continue
        m = _NODE.match(line)
        if m:
            nodes.append((m.group(1), int(m.group(2))))
    return nodes


def details(plan: str) -> dict[int, str]:
    """Node id -> its detail block (output, location, filters...)."""
    body = plan.split("\n\n", 1)[1] if "\n\n" in plan else ""
    starts = [(m.start(), int(m.group(1))) for m in _DETAIL.finditer(body)]
    out = {}
    for i, (pos, node_id) in enumerate(starts):
        end = starts[i + 1][0] if i + 1 < len(starts) else len(body)
        out.setdefault(node_id, body[pos:end])
    return out


def count(plan: str, scan_path: str) -> dict[str, int]:
    """Exact node counts of the plan that ran: file scans of the table at
    ``scan_path``, shuffle exchanges, broadcast exchanges and ``MapInPandas``
    (Arrow kernel) nodes."""
    nodes = final_tree(plan)
    info = details(plan)
    location = re.compile(re.escape(scan_path.rstrip("/")) + r"[\]/,]")
    return {
        "docs_scans": sum(1 for op, i in nodes
                          if op == "Scan" and location.search(info.get(i, ""))),
        "exchanges": sum(1 for op, _ in nodes if op == "Exchange"),
        "broadcast_exchanges": sum(1 for op, _ in nodes if op == "BroadcastExchange"),
        "python_maps": sum(1 for op, _ in nodes if op == "MapInPandas"),
    }
