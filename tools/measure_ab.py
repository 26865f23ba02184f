"""Interleaved same-session A/B plan measurement (VERDICT r14 ask #8).

The only trustworthy perf evidence on these sandboxes is old-vs-new
run INTERLEAVED in one session (A,B,A,B,...), min-of-N, because
identical plans swing +/-20-40% between samples (OPTIMIZATION_r14.md
"box noise"); suite-total diffs and cross-session absolutes are not
attributable. This tool makes that method a citable artifact instead
of prose.

Usage:
    python tools/measure_ab.py SPEC.py|QUERY [-n 3] [--sf DIR ...]
        [--out F.json] [--check]

SPEC.py must define ``VARIANTS``: an ordered dict/list of
``(name, fn)`` with ``fn(spark, sf_dir) -> DataFrame``. A registered
query name may stand in for the spec: its ``spark_fn`` is the one
variant, so ``measure_ab.py hits_hub_authority --sf A --sf B`` is that
query's scale ratio B/A. Rounds run in variant order (A,B,...,A,B,...),
each sample timed over the noop sink (guide §1.4 — computes every
column, discards the write), with the session cache cleared after
every sample so no variant warms another. A warm-up pass at sf0.001
runs first so JVM/codegen startup never lands in round 1 (still
visible in the spreads if it does).

``--sf`` may be repeated: each round then interleaves variants x sf
dirs (A@1, B@1, A@2, B@2, ...) and the record keys are
``variant@<sf basename>``; with one ``--sf`` they are the plain
variant names.

``--check`` additionally collects each variant's rows once (before
timing) and fails unless all variants return IDENTICAL sorted rows at
each sf dir — an A/B whose sides compute different things is not an
optimization measurement.

Output: one JSON line (and --out file) with per-key sorted samples,
min, and the min-ratio of every key vs the first.

Spec catalogue (tools/ab_specs/):
    hits.py                 hits_hub_authority edge cache and loop confs
    shared_scope.py         graph + text families: per-query vs one scope
    cache_race.py           multi-branch consumer: no / lazy / eager persist
    skew_rescue.py          hot-key join: AQE skew-join vs salting (synthetic)
    lph_build_variants.py   link_prediction_holdout_eval dated edge build
    presort_persist_six.py  persist-before-sort conversions, old vs new
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_datatrader_spark.session import get_spark  # noqa: E402

WARMUP_SF = "/root/testdata/sf0.001"


def _load_variants(target: str):
    if not os.path.exists(target):
        from big_datatrader_spark.queries import load_registry
        reg = load_registry()
        if target not in reg:
            raise SystemExit(f"{target}: neither a spec file nor a "
                             f"registered query")
        return [(target, reg[target].spark_fn)]
    spec = importlib.util.spec_from_file_location("ab_spec", target)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    variants = mod.VARIANTS
    if isinstance(variants, dict):
        variants = list(variants.items())
    return list(variants)


def main() -> int:
    args = sys.argv[1:]
    target, n, sf_dirs, out_path, check = None, 3, [], None, False
    i = 0
    while i < len(args):
        a = args[i]
        if a == "-n":
            n = int(args[i + 1]); i += 2
        elif a == "--sf":
            sf_dirs.append(args[i + 1]); i += 2
        elif a == "--out":
            out_path = args[i + 1]; i += 2
        elif a == "--check":
            check = True; i += 1
        else:
            target = a; i += 1
    if target is None:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dirs = sf_dirs or [os.environ.get("SPARK_GRAFT_SF_DIR",
                                         "/root/testdata/sf0.1")]
    variants = _load_variants(target)
    # (key, fn, sf_dir) in interleave order: variants within each sf
    runs = [(name if len(sf_dirs) == 1 else
             f"{name}@{os.path.basename(os.path.normpath(sf))}", fn, sf)
            for sf in sf_dirs for name, fn in variants]
    spark = get_spark("measure-ab")
    load0 = round(os.getloadavg()[0], 2)

    # warm-up: every variant once at the smallest sf
    for name, fn in variants:
        fn(spark, WARMUP_SF).write.format("noop").mode(
            "overwrite").save()
        spark.catalog.clearCache()

    if check:
        first_rows = {}
        for key, fn, sf in runs:
            rows = sorted(map(tuple, fn(spark, sf).collect()))
            spark.catalog.clearCache()
            rows0 = first_rows.setdefault(sf, rows)
            if rows != rows0:
                print(json.dumps({"error": "variant results differ",
                                  "variant": key,
                                  "n_rows": [len(rows0), len(rows)]}))
                return 1

    samples: dict[str, list[float]] = {key: [] for key, _, _ in runs}
    for _ in range(n):
        for key, fn, sf in runs:
            spark.sparkContext.setJobDescription(f"ab:{key}")
            t0 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            samples[key].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()

    base = runs[0][0]
    rec = {
        "spec": os.path.basename(target),
        "sf_dir": sf_dirs[0] if len(sf_dirs) == 1 else sf_dirs,
        "n": n,
        "interleaved": True,
        "checked_identical": check,
        "loadavg_1m_at_start": load0,
        "loadavg_1m_at_end": round(os.getloadavg()[0], 2),
        "samples": {k: sorted(v) for k, v in samples.items()},
        "min": {k: min(v) for k, v in samples.items()},
        "min_ratio_vs_first": {
            k: round(min(v) / min(samples[base]), 3)
            for k, v in samples.items()},
    }
    line = json.dumps(rec)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
