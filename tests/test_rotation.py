"""Self-checks for the driver-window rotation (queries/__init__.py).

The driver evidences only the first 50 registry entries per round, so
the rotation IS the evidence pipeline. These tests pin its invariants
against an INDEPENDENT reimplementation of the tier policy (changed ->
backlog -> rows-only-due -> stalest greens) computed from the per-round
evidence the package derives from the committed CORRECTNESS_r*.json
records — so a phantom name in the changed set, a misclassified record
row, or an edit to _window_order cannot silently waste window slots.
A golden replay of the r01-r14 records pins the derived order to the
one the hand-kept evidence sets produced before they were derived.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import subprocess
import sys
from pathlib import Path

import pytest

from big_datatrader_spark import queries as Q

REG = Q.load_registry()
EVIDENCE = Q.load_evidence()
CURRENT = Q.current_round(EVIDENCE)
ROOT = Path(__file__).resolve().parents[1]


def _last_green_round(n):
    rounds = [rnd for rnd, (green, rows_only) in EVIDENCE.items()
              if n in green | rows_only]
    return max(rounds) if rounds else 0  # 0 = never driver-evidenced


def _rows_only_rounds():
    """{round: rows-only queries} for queries still registered
    rows-only-by-design (oracle=None)."""
    return {rnd: {n for n in rows_only if REG[n].oracle is None}
            for rnd, (_, rows_only) in EVIDENCE.items()}


def _rows_only_due():
    last = {}
    for rnd, s in _rows_only_rounds().items():
        for n in s:
            last[n] = max(rnd, last.get(n, 0))
    return frozenset(n for n, rnd in last.items()
                     if rnd <= CURRENT - 2)


def _expected_order():
    """Independent restatement of the rotation policy, computed only
    from the recorded evidence sets (never by calling _window_order)."""
    changed = {n: i for i, n in enumerate(Q._CHANGED)}
    due = _rows_only_due()
    companions = {Q._ROWS_ONLY_COMPANIONS[n] for n in due}

    def tier(n):
        last = _last_green_round(n)
        if last == 0:
            return 0                    # backlog: never evidenced
        if n in due or n in companions:
            return 1                    # rows-only re-evidence due,
                                        # plus its hash-exact companion
        return 1 + last                 # greens, stalest first

    return sorted(REG, key=lambda n: (changed.get(n, len(Q._CHANGED)),
                                      tier(n), n))


def test_no_ghost_names_anywhere():
    """Every name in every per-round evidence set AND in the changed
    set must exist in the registry — a ghost in a green set silently
    re-queues an evidenced query; a ghost in the changed set silently
    wastes the head slot (round 6 shipped exactly that)."""
    for rnd, (green, rows_only) in EVIDENCE.items():
        ghosts = {n for n in green if n not in REG}
        assert not ghosts, f"round-{rnd} green set has ghosts: {ghosts}"
        ghosts = {n for n in rows_only if n not in REG}
        assert not ghosts, (
            f"rows-only round-{rnd} set has ghosts: {ghosts}")
    ghosts = {n for n in Q._CHANGED if n not in REG}
    assert not ghosts, f"_CHANGED has ghosts: {ghosts}"


def test_registry_order_matches_tier_policy():
    """The full registry order (not just the head) must equal the
    independently-computed tier order: changed queries first in their
    declared order, then never-evidenced backlog, then rows-only
    queries due on the 2-round cadence, then greens stalest-round
    first, alphabetical within each tier."""
    assert list(REG) == _expected_order()


def test_window_head_spends_slots_by_staleness():
    """No window slot may go to a query strictly fresher than one left
    outside: the max evidence round inside the head (changed and due
    rows-only excluded — they outrank greens by policy) must not
    exceed the min evidence round outside it."""
    names = list(REG)
    head, tail = names[:Q._WINDOW], names[Q._WINDOW:]
    due = _rows_only_due()
    special = (set(Q._CHANGED) | due
               | {Q._ROWS_ONLY_COMPANIONS[n] for n in due})
    head_rounds = [_last_green_round(n) for n in head
                   if n not in special]
    tail_rounds = [_last_green_round(n) for n in tail
                   if n not in special]
    # backlog (round 0) must never be stranded in the tail
    assert 0 not in tail_rounds, "never-evidenced query outside window"
    if head_rounds and tail_rounds:
        assert max(head_rounds) <= min(tail_rounds)


def test_changed_and_due_rows_only_lead_the_window():
    """Changed queries occupy the first slots in declared order;
    every rows-only query whose last clean run is >= 2 rounds old
    must be inside the window (its re-evidence cadence)."""
    names = list(REG)
    head = names[:Q._WINDOW]
    assert tuple(head[:len(Q._CHANGED)]) == Q._CHANGED
    for n in _rows_only_due():
        assert n in head, f"rows-only due {n} missed the window"


def test_rows_only_companions_are_structural():
    """VERDICT r12 ask #2: every rows-only-by-design query must declare
    a hash-exact companion (a registered full-oracle query proving the
    same machinery), and whenever the rows-only member is due for its
    2-round re-evidence, its companion must ride the same window — so
    the pairing guarantee is enforced by the rotation, not incidental
    scheduling."""
    rows_only = set()
    for s in _rows_only_rounds().values():
        rows_only |= s
    missing = rows_only - Q._ROWS_ONLY_COMPANIONS.keys()
    assert not missing, f"rows-only queries without a companion: {missing}"
    for member, companion in Q._ROWS_ONLY_COMPANIONS.items():
        assert member in REG, f"companion map names ghost member {member}"
        assert companion in REG, (
            f"companion {companion} of {member} is not registered")
        # the companion itself must be full-oracle (hash-exact capable)
        assert REG[companion].oracle is not None, (
            f"companion {companion} has no oracle — it cannot provide "
            f"hash-exact evidence for {member}")
        # and the member must genuinely be rows-only-by-design
        assert REG[member].oracle is None, (
            f"{member} has a full oracle; it does not need a companion")
    head = set(list(REG)[:Q._WINDOW])
    for member in _rows_only_due():
        companion = Q._ROWS_ONLY_COMPANIONS[member]
        assert companion in head, (
            f"{member} is due for rows-only re-evidence but its "
            f"companion {companion} missed the window")


def test_current_round_covers_recorded_evidence():
    """The loader found every committed record, rounds 1-15 with no
    gap, and the current round is the latest record plus one —
    committing round N's record moves the due cadence by itself."""
    assert sorted(EVIDENCE) == list(range(1, 16))
    assert CURRENT == 16


def test_rotation_is_deterministic():
    assert (Q._window_order(REG, EVIDENCE, Q._CHANGED)
            == Q._window_order(REG, EVIDENCE, Q._CHANGED))


# The changed tuple the r15 window was built with, before the evidence
# was derived from the records.
_R15_WINDOW_CHANGED = (
    'multimodal_feature_extract', 'multimodal_frame_sample',
    'multimodal_ppm_decode', 'multimodal_wav_decode',
    'link_prediction_holdout_eval', 'hits_hub_authority',
    'pagerank_copurchase', 'personalized_pagerank',
    'label_propagation_communities', 'modularity_brand_partition',
    'local_clustering_coefficient', 'link_prediction_common_neighbors',
    'gnn_feature_propagation', 'triangle_count_copurchase',
    'sssp_copurchase', 'temporal_reachability_copurchase',
    'graph_family_scoped_audit', 'text_token_stats',
    'text_family_scoped_audit', 'hybrid_rrf_retrieval',
    'bm25_more_like_this', 'hard_negative_mining',
)


def test_golden_replay_of_r01_to_r14_reproduces_the_r15_order():
    """Replaying records r01-r14 at round 15 with the r15 changed tuple
    reproduces, name for name, the 339-query order the hand-pasted
    per-round evidence sets produced."""
    evidence = {rnd: e for rnd, e in EVIDENCE.items() if rnd <= 14}
    order = Q._window_order(REG, evidence, _R15_WINDOW_CHANGED)
    assert len(order) == 339
    assert hashlib.sha256("\n".join(order).encode()).hexdigest() == (
        "51ea314dca00f6631601c0d24a6b24a16ecc2b51451d3e4dd1187551a5f2284d")


def _row(**kw):
    base = {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None}
    base.update(kw)
    return base


def _load_as_rounds_1_to_4(tmp_path, record):
    for rnd in range(1, 5):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(record))
    return Q.load_evidence(tmp_path)


def test_classify_green_and_clean_rows_only(tmp_path):
    green = _row(rows_match=True, schema_match=True, hash_match=True,
                 spark_rows=10, oracle_rows=10)
    rows_only = _row(spark_rows=8, err="no_oracle")
    assert Q.classify(green) == "green"
    assert Q.classify(rows_only) == "rows_only"
    ev = _load_as_rounds_1_to_4(tmp_path, {"g": green, "ro": rows_only})
    # rows-only counts as evidence only from round 4 on
    assert ev[3] == (frozenset({"g"}), frozenset())
    assert ev[4] == (frozenset({"g"}), frozenset({"ro"}))


@pytest.mark.parametrize("row", [
    # a silently empty rows-only query must not rotate out as evidenced
    _row(spark_rows=0, err="no_oracle"),
    # the query died before counting
    _row(spark_rows=None, err="no_oracle"),
    _row(spark_rows=12, err="spark: boom"),
], ids=["zero_row_no_oracle", "none_row_no_oracle", "other_error"])
def test_classify_red_is_no_evidence(row, tmp_path):
    assert Q.classify(row) is None
    ev = _load_as_rounds_1_to_4(tmp_path, {"red": row})
    assert ev[4] == (frozenset(), frozenset())


def test_load_evidence_rejects_unusable_records(tmp_path):
    with pytest.raises(FileNotFoundError):
        Q.load_evidence(tmp_path)
    for rnd in (1, 3):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text("{}")
    with pytest.raises(ValueError, match="gap"):
        Q.load_evidence(tmp_path)


def test_evidence_report_runs():
    r = subprocess.run([sys.executable, str(ROOT / "tools" /
                                            "evidence_report.py")],
                       capture_output=True, text=True, cwd=ROOT)
    assert r.returncode == 0, r.stdout + r.stderr
    assert f"round: {CURRENT}" in r.stdout


def test_registered_fn_is_the_query_it_claims_to_be():
    """Decorator misbinding guard (round-12 incident: a helper def
    landed between a @query block and its query fn, so the decorator
    registered the HELPER — spark_fn then received (spark, sf_dir)
    and threw at gate time). Every registered spark_fn must be the
    function named after the query (the `_q` suffix is the one
    sanctioned alias, used where a module exposes both a query
    wrapper and a library fn of the same name). A scoped query's
    spark_fn is derived by the registry, so its check is on the
    builder instead: it must take (spark, sf_dir, cache)."""
    bad = {n: q.spark_fn.__name__ for n, q in REG.items()
           if q.spark_fn.__name__ not in (n, n + "_q")}
    bad.update({n: q.plan_fn.__name__ for n, q in REG.items()
                if q.plan_fn is not None
                and list(inspect.signature(q.plan_fn).parameters)
                != ["spark", "sf_dir", "cache"]})
    assert not bad, f"decorator registered the wrong function: {bad}"
