"""Plan-shape audits: detect scale hazards Catalyst will happily plan.

Two detectors back the registry-wide scale gates in
``tests/test_plans.py``:

- the TEXTUAL gate (there) flags an ``Exchange SinglePartition``
  feeding a Sort/Window whose subtree reaches a raw scan before any
  aggregate — input-grain rows through one task.
- :func:`continuous_key_global_windows` (here) closes that gate's
  blind spot (r7 verdict ask #4): an aggregate keyed on a CONTINUOUS
  column (float/double) satisfies the textual gate's "grain collapsed"
  heuristic while reducing nothing — |distinct(double)| ~ n on real
  score columns, so the "aggregated" relation the global window sorts
  in one task is still input-sized. This detector walks the OPTIMIZED
  LOGICAL plan (types are only reliable there): for every
  globally-ordered Sort / unpartitioned Window, follow each input path
  to its first cardinality reducer; if that reducer is an Aggregate
  with any float/double grouping expression, report it. Integer, date,
  string and decimal keys stay exempt — those are the legitimate
  vocabulary-sized disciplines (weekly grids, bucket ids, day grids).

The fix for a flagged plan is the
``operators.prefix_sum.distributed_prev_counts_multi`` decomposition (see
``auc_score`` / ``quantile_normalize``): bucket by broadcast quantile
bounds, rank within buckets, offset by the bounded bucket totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_CONTINUOUS = ("double", "float")

# nodes that genuinely collapse (or bound) cardinality before a global
# sort: further descent is unnecessary on that path
_REDUCERS = ("Aggregate", "Range", "GlobalLimit", "LocalLimit",
             "Deduplicate", "ReturnAnswer")


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _node_name(node) -> str:
    return node.getClass().getSimpleName()


def _grouping_types(agg) -> list[str]:
    seq = agg.groupingExpressions()
    return [seq.apply(i).dataType().typeName()
            for i in range(seq.size())]


def _is_global_ordered(node) -> bool:
    name = _node_name(node)
    if name == "Sort":
        # `global` is a Python keyword; py4j still exposes the method
        return bool(getattr(node, "global")())
    if name == "Window":
        return node.partitionSpec().size() == 0 \
            and node.orderSpec().size() > 0
    if name == "WindowGroupLimit":
        return node.partitionSpec().size() == 0
    return False


def _first_reducers(node) -> list:
    """The first reducer node on every input path below ``node``
    (paths that reach a leaf without one yield nothing here — the
    textual raw-grain gate owns that case)."""
    out = []
    stack = _children(node)
    while stack:
        n = stack.pop()
        if _node_name(n) in _REDUCERS:
            out.append(n)
            continue
        stack.extend(_children(n))
    return out


def _seq(exprs) -> list:
    return [exprs.apply(i) for i in range(exprs.size())]


def _semantically_in(expr, exprs) -> bool:
    for e in exprs:
        try:
            if expr.semanticEquals(e):
                return True
        except Exception:
            if expr.toString() == e.toString():
                return True
    return False


def grouped_continuous_window_funnels(df: DataFrame) -> list[str]:
    """Offending sites in ``df``'s optimized logical plan: PARTITIONED
    ordered Windows whose first upstream Aggregate groups on the
    window's partition keys PLUS a continuous (float/double) key that
    is NOT in the partition spec (r8 verdict ask #4 — the shape
    :func:`continuous_key_global_windows` is blind to because the
    window has a partitionSpec).

    Why this is a funnel: the aggregate's grain within one window
    partition is per-distinct-continuous-value — input-sized on real
    score columns — so one partition's rows all sort in ONE task, and
    partition keys like language/source are fixed vocabularies that
    do not grow with the corpus (per-task work grows linearly with
    input: pre-r9 ``auc_score_by``). The grouped
    ``operators.prefix_sum.distributed_prev_counts_multi`` decomposition
    passes this gate structurally: its cumulative window partitions by
    (group, bucket) where the bucket column is INJECTED (not a
    grouping key of the upstream aggregate), so the
    every-partition-key-is-a-grouping-key premise fails.

    Not flagged (by construction): windows whose partition spec
    CONTAINS the continuous key (the per-tie-key shapes — the
    continuous key then spreads partitions rather than filling one);
    windows over non-aggregate inputs (the textual raw-grain gate owns
    those); aggregates whose non-partition keys are all discrete
    (vocabulary grids).
    """
    findings = []
    root = df._jdf.queryExecution().optimizedPlan()
    stack = [root]
    while stack:
        node = stack.pop()
        stack.extend(_children(node))
        if _node_name(node) != "Window":
            continue
        if node.partitionSpec().size() == 0 \
                or node.orderSpec().size() == 0:
            continue  # unpartitioned windows: continuous_key gate
        part = _seq(node.partitionSpec())
        for red in _first_reducers(node):
            if _node_name(red) != "Aggregate":
                continue
            grouping = _seq(red.groupingExpressions())
            if not all(_semantically_in(p, grouping) for p in part):
                continue  # injected partition key (bucketed prefix-sum)
            hidden = [g for g in grouping
                      if g.dataType().typeName() in _CONTINUOUS
                      and not _semantically_in(g, part)]
            if hidden:
                findings.append(
                    "partitioned Window over Aggregate with "
                    f"non-partition {'/'.join(g.dataType().typeName() for g in hidden)} "
                    "grouping key(s) — per-partition grain is "
                    "per-distinct-continuous-value")
    return findings


def continuous_key_global_windows(df: DataFrame) -> list[str]:
    """Offending sites in ``df``'s optimized logical plan: each is a
    one-line description of a globally-ordered Sort/Window whose first
    upstream Aggregate groups on a float/double expression. Empty
    list = no non-reducing-aggregate-before-global-sort hazard."""
    findings = []
    root = df._jdf.queryExecution().optimizedPlan()
    stack = [root]
    while stack:
        node = stack.pop()
        stack.extend(_children(node))
        if not _is_global_ordered(node):
            continue
        for red in _first_reducers(node):
            if _node_name(red) != "Aggregate":
                continue
            bad = [t for t in _grouping_types(red) if t in _CONTINUOUS]
            if bad:
                findings.append(
                    f"{_node_name(node)} over Aggregate grouped on "
                    f"{'/'.join(bad)} key(s)")
    return findings
