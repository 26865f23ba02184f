import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_datatrader_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
AB_SPECS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "ab_specs")


def load_ab_spec(name: str):
    """Import tools/ab_specs/<name>.py (not a package) as a module."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        f"ab_specs.{name}", os.path.join(AB_SPECS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bdt-tests")
    yield s


@contextmanager
def session_width(spark, monkeypatch, width: int):
    """Run the body at session width ``width``: SPARK_GRAFT_CPUS, which
    ensure_confs re-derives spark.sql.shuffle.partitions from inside
    every query (setting the conf alone is reverted at the query's
    first table() call). The variable and the conf return to their
    prior values on exit, so no later test runs at this width."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with monkeypatch.context() as mp:
        mp.setenv("SPARK_GRAFT_CPUS", str(width))
        try:
            yield
        finally:
            spark.conf.set(key, prev)


@pytest.fixture(scope="session")
def sf0001():
    return SF0001


@pytest.fixture(scope="session")
def sf001():
    return SF001


# --- registry-wide sweep parallelism (VERDICT r14 ask #1) -------------------
# The three registry-wide sweeps (every-query smoke, scale-killer
# plan audit, allowlist runtime bounds) dominated the suite's wall
# clock (448s + 296s + 115s of a 2,029s run) because they iterate
# 339 tiny sf0.001/sf0.01 jobs SERIALLY — each job is stage-latency
# bound, so the 32-core box idles between actions. Spark's scheduler
# runs concurrent jobs in one application (optimization guide §2.6:
# submit from a small thread pool and the next job's tasks back-fill
# the current job's tail); the sweeps now pool their per-query work
# and assert on the collected failure dict, which also reports EVERY
# offender instead of stopping at the first.
#
# Queries that touch session-global state in a way concurrency could
# make WRONG (not merely slower) stay on the serial path:
# - hits_hub_authority: flips AQE off session-wide around its
#   iteration loop — a concurrent query would plan under the wrong
#   optimizer;
# - zorder_incremental_recluster: sets partitionOverwriteMode, and a
#   concurrent overwrite-mode write would change semantics;
# - graph/text_family_scoped_audit: open the process-global
#   SharedScope (leases would capture concurrent family queries and
#   scope exit would unpersist under them);
# - bucketed_copartitioned_join: saveAsTable into the shared
#   spark-warehouse catalog.
# streaming_* queries stay IN the pool: their drains scope
# shuffle-partition confs (set/restore around start()), and two
# racing drains can only start a stream with the other's partition
# count — results are partition-invariant by design (the suite pins
# that separately) and ensure_confs() re-normalizes the session at
# the next table() call, so the race is performance-shaped, never
# value-shaped; sinks/checkpoints are uuid-unique per drain.
SERIAL_QUERIES = frozenset({
    "hits_hub_authority",
    "zorder_incremental_recluster",
    "graph_family_scoped_audit",
    "text_family_scoped_audit",
    "bucketed_copartitioned_join",
})


def pool_unsafe(name: str) -> bool:
    return name in SERIAL_QUERIES


def run_query_pool(items, fn, workers: int = 16) -> dict:
    """Run ``fn(item)`` over items in a thread pool; returns
    {label: repr(exception)} for failures (empty dict = all green).
    Items are (name, ...) tuples or plain names."""
    from concurrent.futures import ThreadPoolExecutor

    errors: dict[str, str] = {}

    def wrap(item):
        label = item[0] if isinstance(item, tuple) else item
        try:
            fn(item)
        except Exception as ex:  # noqa: BLE001
            errors[str(label)] = repr(ex)[:300]

    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(wrap, items))
    return errors
