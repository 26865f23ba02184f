"""Rotation evidence report — the per-round bookkeeping ritual's eyes.

Prints, from the per-round green/rows-only sets that
big_datatrader_spark.queries derives from the committed driver
records (CORRECTNESS_r*.json):

- the staleness histogram (latest driver evidence round per query),
- the current window head (what the driver will check this round),
  broken down by tier (changed / never-evidenced / rows-only due /
  stale greens), and
- the post-round projection: what the histogram looks like if every
  window query goes green this round — i.e. whether the staleness
  tail actually drains.

Usage: python tools/evidence_report.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_datatrader_spark import queries as Q  # noqa: E402


def main() -> int:
    reg = Q.load_registry()
    names = list(reg)
    head = names[:Q._WINDOW]
    ev = Q.load_evidence()
    rnd = Q.current_round(ev)
    hist = Counter(Q.last_round(ev, n) for n in names)
    print(f"registry: {len(names)} queries; window: {Q._WINDOW}; "
          f"round: {rnd}")
    print("staleness histogram (0 = never evidenced):",
          dict(sorted(hist.items())))
    changed, due = set(Q._CHANGED), Q.rows_only_due(ev, reg)
    companions = {Q._ROWS_ONLY_COMPANIONS[n] for n in due}
    tiers = Counter()
    for n in head:
        if n in changed:
            tiers["changed"] += 1
        elif Q.last_round(ev, n) == 0:
            tiers["backlog"] += 1
        elif n in due:
            tiers["rows_only_due"] += 1
        elif n in companions:
            tiers["companion_due"] += 1
        else:
            tiers[f"green_r{Q.last_round(ev, n)}"] += 1
    print("window head tiers:", dict(tiers))
    post = Counter()
    head_set = set(head)
    for n in names:
        post[rnd if n in head_set else Q.last_round(ev, n)] += 1
    print("post-round projection (if the window goes green):",
          dict(sorted(post.items())))
    oldest = min(r for r in post if post[r])
    print(f"oldest evidence after this round: r{oldest}"
          + (" (backlog remains!)" if oldest == 0 else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
