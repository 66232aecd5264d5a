"""Executed-plan walking for plan-shape assertions in tests."""


def plan_nodes(df) -> list[str]:
    """One-line strings of every node in ``df``'s executed physical plan
    (collect ``df`` first so adaptive plans are final).  Descends through
    adaptive plans, query stages and reused exchanges; does not descend into
    cached relations, whose build plans are not part of the query."""
    out: list[str] = []

    def walk(node, depth):
        out.append("  " * depth + str(node.simpleString(100)))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), depth + 1)
        elif cls.endswith("QueryStageExec"):
            walk(node.plan(), depth + 1)
        elif cls == "ReusedExchangeExec":
            walk(node.child(), depth + 1)
        else:
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out


def subtree(nodes: list[str], i: int) -> list[str]:
    """Node ``i`` of a ``plan_nodes`` list and every node below it."""
    depth = len(nodes[i]) - len(nodes[i].lstrip())
    out = [nodes[i]]
    for line in nodes[i + 1:]:
        if len(line) - len(line.lstrip()) <= depth:
            break
        out.append(line)
    return out
