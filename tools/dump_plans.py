"""Dump .explain("formatted") for queries to plans/r{N}/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <round> <tag> [--executed] [query ...]
       (no query names => every bench=True query)

For a @query(scoped=True) query the dumped plan is its builder under
the identity handle (queries.lazy_cache) — the same lazy
pre-checkpoint tree the plan tests assert on (plan_of). With
``--executed`` the builder runs under queries.persisting_cache
instead, so the dump shows the executed shape (multi-consumer /
pre-sort subtrees as InMemoryRelation) — cache-mechanism replans are
invisible in the identity dump (VERDICT r14 what's-wrong #5: the
edit1 persist could not be seen in plans/r14). The session cache is
cleared between queries so dumps stay independent.

Mostly planning, not wholly: a staged builder (the format round-trips
and pre-flights) writes its layout for real before its re-read is
planned, and a query that collects on the driver (the _OPAQUE set in
tests/test_plans.py: hits, sssp, k-core, ...) runs in full and dumps
only its result scan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_datatrader_spark.queries import (  # noqa: E402
    load_registry, persisting_cache, plan_of)
from big_datatrader_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    executed = "--executed" in names
    if executed:
        names = [n for n in names if n != "--executed"]
    reg = load_registry()
    if not names:
        names = sorted(n for n, q in reg.items() if q.bench)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    cache = persisting_cache if executed else None
    for n in names:
        q = reg[n]
        try:
            df = plan_of(q, spark, SF_DIR, cache=cache)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:  # noqa: BLE001
            txt = f"explain failed: {ex!r}\n"
        finally:
            if executed:
                spark.catalog.clearCache()
        path = os.path.join(out_dir, f"{n}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {n} @ {SF_DIR} ({tag})\n")
            fh.write(txt)
        print(path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
