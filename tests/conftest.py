from collections import Counter

import pytest


@pytest.fixture(scope="session")
def spark():
    from osm_wayback_spark.session import get_spark

    s = get_spark(app_name="osm-wayback-spark-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def plan_nodes():
    """df → the node names of its physical plan, read from the plan
    tree (under AQE: the current plan, before any query stage runs)."""

    def names(df) -> list[str]:
        out, todo = [], [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            if node.nodeName() == "AdaptiveSparkPlan":
                node = node.executedPlan()
            out.append(node.nodeName())
            kids = node.children()
            todo += [kids.apply(i) for i in range(kids.size())]
        return out

    return names


@pytest.fixture(scope="session")
def optimized_exprs():
    """df → a Counter of the expression classes (``Tan``,
    ``JsonToStructs``, …) in its optimized plan, read from the
    expression trees of every plan node."""

    def names(df) -> Counter:
        nodes, exprs, out = [df._jdf.queryExecution().optimizedPlan()], [], Counter()
        while nodes:
            node = nodes.pop()
            for seq, todo in ((node.expressions(), exprs), (node.children(), nodes)):
                todo += [seq.apply(i) for i in range(seq.size())]
        while exprs:
            expr = exprs.pop()
            out[expr.getClass().getSimpleName()] += 1
            kids = expr.children()
            exprs += [kids.apply(i) for i in range(kids.size())]
        return out

    return names
