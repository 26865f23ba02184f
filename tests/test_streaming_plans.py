"""Drain-time plan audit for the streaming surface (VERDICT r4 ask #5).

The registry-wide scale-killer gate (test_plans.py) walks lazy batch
plans, which a streaming query doesn't have — its physical plan only
exists once a micro-batch has executed. The drain helpers in
streaming/pipeline.py record each StreamingQuery's executed plan into
``DRAIN_PLANS``; this test drains every ``streaming_*`` registry query
and asserts over what actually ran:

- no CartesianProduct, no row-at-a-time Python UDF (BatchEvalPython);
- no single-partition exchange — state stores are partitioned by group
  key (``hashpartitioning(key, N)``), never collapsed to one task, so
  streaming state scales out exactly like a batch shuffle would;
- the exchange count the query declares (``@query(exchanges=N)``),
  read from the same executed plans, so a new shuffle in a streaming
  plan fails loudly here.
"""

from __future__ import annotations

import re

import pytest

from big_datatrader_spark.queries import load_registry
from big_datatrader_spark.streaming import pipeline as P

REG = load_registry()


@pytest.mark.parametrize(
    "name", sorted(n for n in REG if n.startswith("streaming_")))
def test_streaming_drain_plan_is_scale_safe(spark, sf001, name):
    P.DRAIN_PLANS.clear()
    REG[name].spark_fn(spark, sf001).collect()
    declared = REG[name].exchanges
    if declared == 0 and not P.DRAIN_PLANS:
        return  # plan capture requires an executed batch; sink-only
    assert P.DRAIN_PLANS, f"{name}: no executed plan captured"
    for plan in P.DRAIN_PLANS:
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "Exchange SinglePartition" not in plan, (
            f"{name}: single-partition exchange at drain — streaming "
            "state collapsed to one task")
        assert not re.search(r"hashpartitioning\([^)]*?, 1\)", plan), (
            f"{name}: state store hashed to a single partition")
        n_ex = plan.count("Exchange ")
        assert n_ex == declared, (
            f"{name}: {n_ex} exchanges at drain, declared {declared}")

