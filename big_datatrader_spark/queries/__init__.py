"""Query registry: every operator from SURVEY.md §2 (plus the LLM-data
extensions) is exposed as a named query with (a) a Spark callable
``(spark, sf_dir) -> DataFrame`` and (b) an equivalent ANSI-SQL oracle
string DuckDB can run over the same parquet tables — the driver's
correctness gate (`__spark_entry__.py` contract).

Conventions (SURVEY.md §7.4):
- every computed column is aliased identically in Spark and SQL;
- floating-point aggregates are rounded on BOTH sides (fp noise from
  differing summation order must not flip the value hash);
- any LIMIT sits under an explicit deterministic ORDER BY;
- session time zone is UTC.
"""

from __future__ import annotations

import atexit
import json
import re
import shutil
import tempfile
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    """A registered query: spark_fn is what __spark_entry__.py runs, oracle its
    DuckDB twin. plan_fn is set only for a @query(scoped=True) query: it
    is the builder spark_fn runs through run_scoped, and the plan audits
    run it under an audit handle (plan_of) to see the lazy
    pre-checkpoint plan instead of the result's Scan ExistingRDD.

    ``exchanges`` is the query's declared shuffle count,
    ``plans.explain.num_exchanges`` over the plan the query runs: for a
    batch query ``plan_of(q, ..., cache=persisting_cache)`` at sf0.01 on
    a fresh session from a clean cache; for a ``streaming_*`` query the
    drained StreamingQuery's executed plan (``streaming.pipeline.
    DRAIN_PLANS``). None only for the queries whose audited plan is
    driver state (``_OPAQUE`` in tests/test_plans.py). Tests compare it
    with ``==``; nothing at runtime reads it."""
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver runs the weaker rows-only check
    doc: str = ""
    bench: bool = False  # included in bench.py headline suite
    tags: tuple = field(default_factory=tuple)
    plan_fn: Callable[..., DataFrame] | None = None  # (spark, sf_dir, cache)
    exchanges: int | None = None


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None, *, doc: str = "",
          bench: bool = False, tags: tuple = (), scoped: bool = False,
          exchanges: int | None = None):
    """Register the decorated function as query ``name``.

    Plain: the function is the spark_fn ``(spark, sf_dir) -> DataFrame``.
    ``scoped=True``: the function is a builder ``(spark, sf_dir, cache)``
    that returns the query's lazy plan, holding what it reads twice
    through ``cache(df)`` and writing any sink into ``cache.stage(..)``.
    The registry derives spark_fn = run_scoped over the builder (result
    checkpointed, every hold released) and plan_fn = the builder, so a
    materializing query is registered once and audited as the plan it
    runs. ``exchanges`` declares the query's shuffle count (see Query).
    The decorator returns the function unchanged."""
    def wrap(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        q = Query(name, fn, oracle, doc=doc, bench=bench, tags=tags,
                  exchanges=exchanges)
        if scoped:
            def spark_fn(spark, sf_dir):
                return run_scoped(spark, sf_dir, fn)
            spark_fn.__name__ = spark_fn.__qualname__ = name
            q.spark_fn, q.plan_fn = spark_fn, fn
        REGISTRY[name] = q
        return fn
    return wrap


def plan_of(q: Query, spark: SparkSession, sf_dir: str,
            cache=None) -> DataFrame:
    """The lazy plan to audit for a query: a scoped query's builder run
    under an audit handle, else the registered fn's own return (which
    runs the query in full when it collects on the driver — the
    `_OPAQUE` set in tests/test_plans.py names those).

    ``cache`` picks the audit handle for scoped builders:
    - None/lazy_cache (default): identity — the FULL unpersisted tree,
      every subtree visible (the scale-killer sweep needs to see
      inside what the runtime would cache);
    - persisting_cache (exchange budgets, tools/dump_plans.py
      --executed): the executed shape, multi-consumer subtrees
      collapsed to InMemoryRelation as run_scoped runs them — budgets
      stay calibrated to real shuffle work, not static duplication.
      The caller owns cleanup (spark.catalog.clearCache()).
    Either handle writes a staged builder's sink for real and keeps it
    until the interpreter exits, so the returned plan stays readable."""
    if q.plan_fn is None:
        return q.spark_fn(spark, sf_dir)
    return q.plan_fn(spark, sf_dir, cache or lazy_cache)


class Hold:
    """The ``cache`` handle a scoped builder receives.

    ``hold(df, eager=False)`` holds a relation that several branches
    (or the driver) read; ``hold.stage(prefix)`` returns a fresh temp
    dir for a sink the builder writes and re-reads. run_scoped's handle
    persists at MEMORY_AND_DISK (``eager=True`` also counts the
    relation at once) and its release() unpersists every hold and
    deletes every staged dir. The two audit handles below never
    materialize a hold, and keep their staged dirs until the
    interpreter exits, because the plan they return still reads them."""

    def __init__(self, level: StorageLevel | None = None, *,
                 scoped: bool = False):
        self._level, self._scoped = level, scoped
        self._held: list[DataFrame] = []
        self._staged: list[str] = []

    def __call__(self, df: DataFrame, eager: bool = False) -> DataFrame:
        if self._level is None:
            return df
        df = df.persist(self._level)
        if self._scoped:
            self._held.append(df)
            if eager:
                df.count()
        return df

    def stage(self, prefix: str) -> str:
        path = tempfile.mkdtemp(prefix=prefix)
        if self._scoped:
            self._staged.append(path)
        else:
            atexit.register(shutil.rmtree, path, ignore_errors=True)
        return path

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        for path in self._staged:
            shutil.rmtree(path, ignore_errors=True)


def run_scoped(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Scoped-cache query execution (VERDICT r9 ask #3, generalizing
    the golden_record_survivorship pattern): ``build(spark, sf_dir,
    cache)`` constructs the lazy plan with a fresh scoped Hold as
    ``cache``, routing every relation that multiple branches consume
    through ``cache(df, eager=False)`` and every sink through
    ``cache.stage(prefix)``. The result is materialized eagerly
    (localCheckpoint — bounded rows by query design), then EVERY hold
    is released and every staged dir deleted in finally, so no
    registered query leaves persisted relations or files behind in a
    long-lived session (tests/test_cache_lifecycle.py asserts both).
    Every hold persists at MEMORY_AND_DISK (serialized), the level
    SharedScope leases use, so a relation is held the same way with or
    without a scope open.

    ``eager=True`` additionally materializes the hold with a count()
    before any consumer runs, making its content, partitioning and cost
    DETERMINISTIC — one build under its own AQE context instead of
    interleaved with the consumers' stages and memory pressure.
    (tests/test_cache_lifecycle.py counts the lineage runs: a no-cache
    multi-branch plan pays one full lineage run PER BRANCH, while lazy
    and eager persists both run it once on Spark 4.1/AQE;
    tools/ab_specs/cache_race.py times the three. Eager's win over
    lazy is determinism, and it is what took
    link_prediction_holdout_eval from 34.2s to ~16s at sf1 while
    costing ~2s at sf0.1.)

    @query(scoped=True) registers a builder once: this function is its
    spark_fn, and the builder itself is its plan_fn (see plan_of)."""
    hold = Hold(StorageLevel.MEMORY_AND_DISK, scoped=True)
    try:
        return build(spark, sf_dir, hold).localCheckpoint(eager=True)
    finally:
        hold.release()


# cache= handles for plan audits (plan_of): identity (no persist, no
# materialization) for the full tree, and a persist that is never
# materialized for the executed shape.
lazy_cache = Hold()
persisting_cache = Hold(StorageLevel.MEMORY_AND_DISK_DESER)


# ---------------------------------------------------------------------------
# Cross-query shared-relation scope (VERDICT r10 ask #7, the design
# spike): six graph queries build the IDENTICAL directed co-purchase
# edge list, and per-query cache lifecycle — correct as a
# no-leftover invariant — means a suite that runs the family pays the
# edge build six times. A SharedScope is a HARNESS-owned resource
# region: the harness (bench suite, driver session, notebook) opens
# the scope, queries inside it lease shared relations by key (first
# lease builds + persists eagerly, later leases reuse), and the scope
# releases everything at exit. The no-leftover-cache invariant is
# preserved at the scope boundary instead of the query boundary —
# which is exactly where a shared 100 TB session wants it: the
# operator that owns a cache is the one that knows when ALL its
# consumers are done. With no scope active every query behaves
# exactly as before (its own cache, its own release;
# tests/test_scope.py pins both properties).

_ACTIVE_SCOPE: "SharedScope | None" = None


class SharedScope:
    """Context manager owning persists that outlive single queries.

    Keys should embed the dataset (e.g. f"copurchase_edges:{sf_dir}")
    so one scope can serve suites spanning scale factors. Relations
    are persisted SERIALIZED (MEMORY_AND_DISK — the hits ablation's
    winner for many-scan caches, tools/ab_specs/hits.py) and
    materialized eagerly on first lease so the build runs once under
    the leasing query's session confs, deterministically.

    Concurrency: a per-scope lock covers the miss-build-memoize
    critical section, so a harness running family queries in threads
    cannot double-build (and leak) a relation on a racing key miss
    (ADVICE r11 #4). Builds of DIFFERENT keys serialize under the
    same lock — acceptable: each build runs once per scope, and the
    cached fast path stays contention-free after materialization."""

    def __init__(self):
        self._cached: dict[str, DataFrame] = {}
        import threading
        self._lock = threading.Lock()

    def get(self, key: str, df: DataFrame) -> DataFrame:
        with self._lock:
            if key not in self._cached:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    df.count()
                except BaseException:
                    # A failed materialization (executor OOM, bad
                    # data) must not leak a session-lifetime persist
                    # that __exit__ can never see (ADVICE r11 #1).
                    df.unpersist()
                    raise
                self._cached[key] = df
            return self._cached[key]

    def __enter__(self) -> "SharedScope":
        global _ACTIVE_SCOPE
        if _ACTIVE_SCOPE is not None:
            # ValueError, not assert: nesting would silently rebind
            # the outer scope's leases under python -O if this were
            # stripped (ADVICE r11 #2).
            raise ValueError("SharedScope does not nest")
        _ACTIVE_SCOPE = self
        return self

    def __exit__(self, *exc) -> None:
        global _ACTIVE_SCOPE
        _ACTIVE_SCOPE = None
        for df in self._cached.values():
            df.unpersist()
        self._cached.clear()


def active_scope() -> "SharedScope | None":
    return _ACTIVE_SCOPE


def copurchase_edges_key(sf_dir: str) -> str:
    """SharedScope lease key for the directed co-purchase edge list —
    one definition so every consumer and the ordered derivation below
    can never key different relations for the same dataset."""
    return f"copurchase_edges_directed:{sf_dir}"


def copurchase_edges_dated_key(sf_dir: str) -> str:
    """SharedScope lease key for the DATED directed co-purchase edge
    list (src, dst, d = earliest co-order day) — the attribute-
    carrying relation the directed lease cannot serve
    (link_prediction_holdout_eval and temporal_reachability_copurchase
    both read it)."""
    return f"copurchase_edges_dated:{sf_dir}"


def leased_copurchase_edges(cache, sf_dir: str, li: DataFrame,
                            a_name: str, b_name: str, *,
                            ordered: bool = False,
                            attrs: DataFrame | None = None) -> DataFrame:
    """The one way a query gets the co-purchase edge list
    (functions/graph.copurchase_pairs over ``li``), as columns
    (a_name, b_name[, the ``attrs`` attribute]).

    With a SharedScope open it is the scope's lease: the directed
    relation, the dated one (``attrs``), and the ordered set (a < b) as
    its own lease derived from the cached directed one — the heavy
    ordered consumers scan it several times, and re-filtering the
    2x-rows directed cache measured slower than the unscoped direct
    build (22.1s vs 16.4s for triangles at sf0.1). With no scope open
    it is ``cache(direct build, eager=True)``: run_scoped's cache
    materializes it once under the session confs, and lazy_cache hands
    the lazy build to consumers that read it once per branch (LCC,
    modularity, k-core)."""
    from pyspark.sql import functions as F

    from ..functions import graph as GR

    scope = _ACTIVE_SCOPE
    if scope is None:
        return cache(GR.copurchase_pairs(li, a_name, b_name,
                                         ordered=ordered, attrs=attrs),
                     eager=True)
    a_lt_b = F.col("src") < F.col("dst")
    if attrs is not None:
        rel = scope.get(copurchase_edges_dated_key(sf_dir),
                        GR.copurchase_pairs(li, "src", "dst",
                                            attrs=attrs))
        rel = rel.filter(a_lt_b) if ordered else rel
    else:
        rel = scope.get(copurchase_edges_key(sf_dir),
                        GR.copurchase_pairs(li, "src", "dst"))
        if ordered:
            rel = scope.get(f"copurchase_edges_ordered:{sf_dir}",
                            rel.filter(a_lt_b))
    return rel.select(F.col("src").alias(a_name),
                      F.col("dst").alias(b_name), *rel.columns[2:])


def doc_tokens_key(sf_dir: str) -> str:
    """SharedScope lease key for the tokenized documents relation —
    (doc_id, n_chars, t) where t is the shared whitespace-lowercase
    token array (functions/text.py convention). The text family
    re-derives this relation from documents.text per query
    (VERDICT r12 ask #3); under a scope it tokenizes once."""
    return f"doc_tokens:{sf_dir}"


def leased_doc_tokens(spark, sf_dir: str) -> "DataFrame | None":
    """The (doc_id, n_chars, t) token relation from the active
    SharedScope, or None when no scope is open.

    Unlike the edge leases (which return the direct build unscoped),
    this returns None so callers keep their INLINE tokenization with
    no scope open: routing the unscoped path through a (doc_id, t)
    projection changes the optimized plan — Spark's
    InferFiltersFromGenerate fires on a Generate over a plain
    attribute (it skips expensive inline children) and inserts a
    size(tokens(text))>0 pre-filter that re-evaluates the regex split
    per row. Returning None keeps unscoped plans bit-identical to the
    pre-lease form; the scoped path pays the projection once into the
    persisted lease, where the extra filter is irrelevant (the cache
    is already materialized)."""
    scope = _ACTIVE_SCOPE
    if scope is None:
        return None
    from pyspark.sql import functions as F

    from ..functions import text as TX
    from ..session import scan_floor
    from ..sources.parquet_source import table
    # r15: the lease build is the one tokenize pass the whole scoped
    # text family shares — scan_floor keeps it off a single core when
    # the scan layout starves the session
    docs = scan_floor(table(spark, sf_dir, "documents"), "doc_id")
    rel = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        TX.tokens(F.col("text")).alias("t"))
    return scope.get(doc_tokens_key(sf_dir), rel)


# ---------------------------------------------------------------------------
# Driver-window rotation. The driver's correctness gate checks only the
# first _WINDOW registry entries each round, so the order is the evidence
# pipeline: queries changed since the latest record lead, then the
# never-evidenced backlog, then rows-only queries (oracle=None) whose last
# clean run is >= 2 rounds old together with their hash-exact companions,
# then greens oldest-evidence-first. load_registry derives the evidence from
# the committed driver records CORRECTNESS_r<N>.json beside the package;
# the current round is the latest record plus one. `python
# tools/evidence_report.py` prints the resulting window arithmetic.

_WINDOW = 50
_RECORDS_DIR = Path(__file__).resolve().parents[2]
_ROWS_ONLY_FROM = 4  # r2's no-oracle rows predate the rows-only policy
Evidence = dict[int, tuple[frozenset, frozenset]]  # round: (green, rows-only)


def classify(row: dict) -> str | None:
    """One driver record row -> "rows_only", "green", or None (red: no
    evidence). A no-oracle row counts only when the query produced rows
    (a positive int; True is not a count), so a silently empty rows-only
    query is never rotated out as evidenced."""
    rows = row.get("spark_rows")
    if (row.get("err") == "no_oracle" and isinstance(rows, int)
            and not isinstance(rows, bool) and rows > 0):
        return "rows_only"
    if (row.get("rows_match") and row.get("schema_match")
            and row.get("hash_match")):
        return "green"
    return None


def load_evidence(records_dir: Path = _RECORDS_DIR) -> Evidence:
    """Classify every CORRECTNESS_r<N>.json in ``records_dir``. Raises
    when there is no record or the rounds are not 1..N without a gap."""
    paths = {}
    for p in records_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            paths[int(m[1])] = p
    if not paths:
        raise FileNotFoundError(f"no CORRECTNESS_r*.json in {records_dir}")
    if sorted(paths) != list(range(1, len(paths) + 1)):
        raise ValueError(f"driver records must be rounds 1..N without a "
                         f"gap, found {sorted(paths)} in {records_dir}")
    evidence = {}
    for rnd in sorted(paths):
        kinds = {n: classify(row)
                 for n, row in json.loads(paths[rnd].read_text()).items()}
        evidence[rnd] = (
            frozenset(n for n, k in kinds.items() if k == "green"),
            frozenset(n for n, k in kinds.items()
                      if k == "rows_only" and rnd >= _ROWS_ONLY_FROM))
    return evidence


def current_round(evidence: Evidence) -> int:
    return max(evidence) + 1


def last_round(evidence: Evidence, name: str) -> int:
    """Latest round with green or rows-only evidence; 0 = never."""
    return max((rnd for rnd, (green, rows_only) in evidence.items()
                if name in green or name in rows_only), default=0)


def _last_rows_only(evidence: Evidence, reg) -> dict[str, int]:
    # Only queries still registered with oracle=None run on the rows-only
    # cadence (multimodal_feature_extract gained an oracle after r4).
    return {n: rnd for rnd, (_, rows_only) in sorted(evidence.items())
            for n in rows_only if n in reg and reg[n].oracle is None}


def rows_only_due(evidence: Evidence, reg) -> frozenset:
    """Rows-only queries whose last clean run is >= 2 rounds before the
    current round: their re-evidence cadence."""
    current = current_round(evidence)
    return frozenset(n for n, rnd in _last_rows_only(evidence, reg).items()
                     if rnd <= current - 2)


# Queries whose code, oracle or plan changed since the latest record: they
# need fresh driver evidence regardless of prior greens, so they lead the
# window. Every name must be registered (_window_order hard-fails).
_CHANGED: tuple[str, ...] = (
    "graph_family_scoped_audit", "hits_hub_authority",
    "text_family_scoped_audit",
    # operators/exact.py + ranking.prefix_sums: the queries whose
    # plan moved (rounding, DIV or running-sum expressions)
    "atr_breakout_signals", "brier_logloss_calibration", "equidepth_histogram",
    "exact_global_quantiles", "gini_spend_concentration",
    "global_shuffle_rank", "js_divergence_lang_tokens", "kmv_distinct_sketch",
    "kruskal_wallis_h", "ks_two_sample_test", "local_clustering_coefficient",
    "mann_whitney_u", "ntile_deciles", "quantile_normalization",
    "rfm_segmentation", "roc_auc_exact", "seasonal_decompose_additive",
    "sorted_neighborhood_pairs", "spearman_value_k_corr",
    "target_encoding_oof", "theil_sen_slope", "twap_per_user",
    "user_spend_rank_distribution", "vwap_per_part",
    "wasserstein_distance_drift",
    # functions/graph.superstep: the loops whose plan or lifecycle moved
    # (k-core: the one-scan ordered edge build behind its checkpoint)
    "gnn_feature_propagation", "k_core_membership",
    "label_propagation_communities", "pagerank_copurchase",
    "personalized_pagerank", "sssp_copurchase",
    "temporal_reachability_copurchase",
    # @query(scoped=True): the staged and k-means run paths that moved
    # most (the window keeps 8 slots for due rows-only pairs, so the
    # other seven staged queries rotate in by staleness)
    "compacted_scan_equivalence", "kmeans_lloyd_refinement",
    "orc_roundtrip_revenue", "scan_pruning_preflight",
    "streaming_cdc_upsert", "streaming_watermark_late_drop",
    "zorder_incremental_recluster")

# Each rows-only-by-design query (oracle=None — results DuckDB cannot
# reproduce bit-for-bit) is paired with a hash-exact companion proving the
# same machinery; when the member is due, _window_order pulls its
# companion into the same window so both rows land in one record.
_ROWS_ONLY_COMPANIONS = {
    'ann_lsh_topk': 'lsh_vs_exact_eval',
    'ann_ivf_topk': 'ivf_vs_exact_eval',
    'approx_aggregates': 'approx_aggregates_error_audit',
    'hll_partial_merge': 'hll_exact_register_sketch',
    'bpe_learn_merges': 'bpe_pair_counts_round1',
}


def _window_order(reg, evidence: Evidence, changed: tuple) -> list[str]:
    """The registry names in rotation order (header comment above),
    alphabetical within a tier. Evidence and the changed tuple are
    arguments so a test can replay any prefix of the records."""
    # A changed entry that is not registered would silently waste its
    # window slot (VERDICT r6 shipped exactly that). Fail loudly.
    ghosts = [n for n in changed if n not in reg]
    if ghosts:
        raise ValueError(f"_CHANGED names unregistered queries: {ghosts}")
    # Every rows-only member must declare a companion; a companion must
    # itself be registered — a misspelling would silently break pairing.
    unpaired = sorted(_last_rows_only(evidence, reg).keys()
                      - _ROWS_ONLY_COMPANIONS.keys())
    if unpaired:
        raise ValueError(
            f"rows-only queries missing a _ROWS_ONLY_COMPANIONS entry: "
            f"{unpaired}")
    ghost_companions = sorted(set(_ROWS_ONLY_COMPANIONS.values()) - set(reg))
    if ghost_companions:
        raise ValueError(
            f"_ROWS_ONLY_COMPANIONS names unregistered queries: "
            f"{ghost_companions}")
    due = rows_only_due(evidence, reg)
    due |= {_ROWS_ONLY_COMPANIONS[n] for n in due}
    order = {n: i for i, n in enumerate(changed)}

    def tier(n):
        last = last_round(evidence, n)
        if last == 0:
            return 0                    # backlog: never evidenced
        if n in due:
            return 1                    # rows-only re-evidence due,
                                        # plus its hash-exact companion
        return 1 + last                 # greens, stalest first

    return sorted(reg, key=lambda n: (order.get(n, len(changed)),
                                      tier(n), n))


def load_registry() -> dict[str, Query]:
    """Import all query modules (registration happens at import), then
    order the registry so the driver's 50-query prefix window sees the
    rotation head computed by _window_order."""
    from . import tpch_extra  # noqa: F401
    from . import scalar_surface  # noqa: F401
    from . import llm_text  # noqa: F401
    from . import llm_dedup  # noqa: F401
    from . import llm_similarity  # noqa: F401
    from . import multimodal_ops  # noqa: F401
    from . import streaming_ops  # noqa: F401
    from . import analytics  # noqa: F401
    from . import pipeline_ops  # noqa: F401
    from . import reference_ops  # noqa: F401
    from . import training_ops  # noqa: F401
    from . import corpus_ops  # noqa: F401
    from . import vector_ops  # noqa: F401
    from . import retrieval_ops  # noqa: F401
    from . import scale_ops  # noqa: F401
    from . import format_ops  # noqa: F401
    # LAST: composes other modules' registered oracles (scoped audit)
    from . import scoped_ops  # noqa: F401
    ordered = {n: REGISTRY[n]
               for n in _window_order(REGISTRY, load_evidence(), _CHANGED)}
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
