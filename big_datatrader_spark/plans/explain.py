"""Physical-plan inspection helpers: the 100 TB design rules as
assertable properties (SURVEY.md §4).

Rules encoded here and enforced by tests/test_plans.py:
- filters on scans must be PUSHED (row-group skipping at scale);
- scans must read only referenced columns (ReadSchema pruning);
- dim joins must be broadcast (no shuffle of the fact side for them);
- ordered limits must compile to TakeOrderedAndProject (distributed
  top-k, never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Full formatted physical plan (executedPlan().toString() truncates
    long field lists, which breaks ReadSchema parsing)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def scan_read_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of every ReadSchema in the plan (one per scan)."""
    import re
    plan = physical_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",")
                if c.strip()]
        out.append(cols)
    return out


def count_op(df: DataFrame, op: str) -> int:
    return physical_plan(df).count(op)


def uses_broadcast_join(df: DataFrame) -> bool:
    return count_op(df, "BroadcastHashJoin") > 0


def uses_top_k(df: DataFrame) -> bool:
    return count_op(df, "TakeOrderedAndProject") > 0


def num_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (not broadcast exchanges).
    Counts the '(N) Exchange' operator headers of the formatted plan."""
    import re
    plan = physical_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\s*$", plan, re.M))


def single_partition_sort_or_window(df: DataFrame) -> list[str]:
    """Structural scale-killer detector: Sort/Window operators whose
    direct child is a SinglePartition exchange — the shape a
    partition-less ``row_number()/ntile() OVER (ORDER BY ...)``
    compiles to, which funnels the whole relation through ONE task.
    (Global scalar aggregates also exchange SinglePartition but feed an
    Aggregate, not a Sort/Window — those are fine: the exchanged rows
    are per-partition partials.) Returns the offending operator names.
    """
    import re
    plan = physical_plan(df)
    # ids of SinglePartition exchanges, from the detail sections: walk
    # section by section ('(n) Op' headers) rather than regex-bridging
    # the lines between header and Arguments — a detail line containing
    # '(' (e.g. an unaliased count(1)#12L in the Input list) must not
    # abort the match and hide the exchange
    sp_ids = set()
    cur_exchange = None
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) (\w+)", line)
        if m:
            cur_exchange = m.group(1) if m.group(2) == "Exchange" else None
        elif (cur_exchange and line.startswith("Arguments:")
              and "SinglePartition" in line):
            sp_ids.add(cur_exchange)
    if not sp_ids:
        return []
    # tree section: indented "OpName (id)" lines; parent of an exchange
    # is the nearest preceding line with a shallower indent
    tree = []
    for line in plan.splitlines():
        m = re.match(r"^([:+\-| ]*)(?:\* )?([A-Za-z]\w*) \((\d+)\)", line)
        if m:
            tree.append((len(m.group(1)), m.group(2), m.group(3)))
    bad = []
    for i, (ind, op, op_id) in enumerate(tree):
        if op != "Exchange" or op_id not in sp_ids:
            continue
        for pind, pop, pid in reversed(tree[:i]):
            if pind < ind:
                if pop in ("Sort", "Window", "WindowGroupLimit"):
                    bad.append(f"{pop}({pid})<-SinglePartition")
                break
    return bad


def executed_scale_killer_bounds(df: DataFrame) -> dict[str, list[int]]:
    """RUNTIME row counts behind the static allowlists in
    tests/test_plans.py (VERDICT r11 ask #6): the bnlj_ok /
    sp_window_ok entries are hand-annotated claims ("1-row scalar",
    "#buckets rows") the sweep never checked — a wrong future
    annotation would ride the list. This executes ``df`` to
    completion, walks the FINAL adaptive physical plan through query
    stages / reused exchanges / cached subplans, and harvests:

    - ``bnlj_build_rows``: each BroadcastNestedLoopJoin's broadcast
      (build) side row count — per-probe-row work is O(build side),
      so this IS the claim "tiny broadcast scalar";
    - ``single_partition_rows``: each SinglePartition shuffle's
      records written — the rows funneled through ONE task.

    Metrics come from the SQLMetrics of the executed plan
    (BroadcastExchange.numOutputRows, Exchange.shuffleRecordsWritten),
    so the numbers are what actually moved, not what the static plan
    implies."""
    df.collect()
    node = df._jdf.queryExecution().executedPlan()

    def kids(n):
        out = []
        c = n.children()
        for i in range(c.size()):
            out.append(c.apply(i))
        nm = n.nodeName()
        if nm == "AdaptiveSparkPlan":
            out.append(n.finalPhysicalPlan())
        elif nm.endswith("QueryStage"):
            out.append(n.plan())
        elif nm == "ReusedExchange":
            out.append(n.child())
        elif nm == "InMemoryTableScan":
            out.append(n.relation().cachedPlan())
        return out

    def walk(n):
        yield n
        for k in kids(n):
            yield from walk(k)

    def metric(n, key) -> int:
        return int(n.metrics().apply(key).value())

    out: dict[str, list[int]] = {"bnlj_build_rows": [],
                                 "single_partition_rows": []}
    seen: set[str] = set()  # reused subtrees report once
    for n in walk(node):
        nm = n.nodeName()
        node_id = str(n.id())
        if nm == "BroadcastNestedLoopJoin" and node_id not in seen:
            seen.add(node_id)
            build_idx = (1 if n.buildSide().toString() == "BuildRight"
                         else 0)
            build = n.children().apply(build_idx)
            exchanges = [m for m in walk(build)
                         if m.nodeName() == "BroadcastExchange"]
            if not exchanges:
                raise AssertionError(
                    "no BroadcastExchange under the BNLJ build side — "
                    "traversal gap, refuse to under-report")
            out["bnlj_build_rows"].append(
                metric(exchanges[0], "numOutputRows"))
        elif (nm == "Exchange" and node_id not in seen
              and n.outputPartitioning().toString() == "SinglePartition"):
            seen.add(node_id)
            out["single_partition_rows"].append(
                metric(n, "shuffleRecordsWritten"))
    return out
