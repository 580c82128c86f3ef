"""Typed walk over an executed physical plan (the JVM SparkPlan tree).

Plan asserts match node classes and partitioning objects instead of
substrings of the plan's text, so a renamed operator or an extra word in
a node's description cannot turn a check vacuous.
"""


def _kids(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":  # a leaf that wraps the real plan
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def walk(node):
    """Pre-order nodes of ``node``'s subtree, through AQE wrappers."""
    yield node
    for c in _kids(node):
        yield from walk(c)


def of(node, cls: str) -> list:
    """Nodes of the subtree whose JVM class simple name is ``cls``."""
    return [n for n in walk(node) if n.getClass().getSimpleName() == cls]


def executed(df):
    return df._jdf.queryExecution().executedPlan()


def range_keys(exchange) -> list[str]:
    """Column names a RangePartitioning exchange sorts on, in order."""
    part = exchange.outputPartitioning()
    assert part.getClass().getSimpleName() == "RangePartitioning", part.toString()
    order = part.ordering()
    return [order.apply(i).child().name() for i in range(order.size())]


def exchanges(node) -> list:
    """Shuffle and broadcast exchanges of the subtree."""
    return [n for n in walk(node)
            if n.getClass().getSimpleName().endswith("ExchangeExec")]


def assert_tier_rows_never_shuffle(df) -> None:
    """The fused gap-fill plan: exactly one Exchange, a range split of the
    sequence rows on (source, doc_id), and it sits below the topmost
    MapInPandas (the tier kernel), so no tier row ever moves."""
    root = executed(df)
    ex = exchanges(root)
    assert len(ex) == 1, [n.nodeName() for n in ex]
    assert ex[0].getClass().getSimpleName() == "ShuffleExchangeExec"
    assert range_keys(ex[0]) == ["source", "doc_id"]
    kernel = of(root, "MapInPandasExec")[0]  # pre-order: the topmost one
    assert len(exchanges(kernel)) == 1  # nothing above the kernel shuffles
