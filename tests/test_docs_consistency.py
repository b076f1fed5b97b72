"""Record-integrity gates (round 9): the stale-count defect class has
now appeared twice (round-8 ADVICE tier comment, round-9 review's
COVERAGE window arithmetic), so the load-bearing counts are machine
-checked instead of hand-maintained."""

from __future__ import annotations

import os
import re

from rpa_etl_spark import registry

registry.load_all_plans()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_headline_query_count_matches_registry():
    """The NEWEST round note (first in the file) must state the actual
    registry size — checked against the first match so each round's
    rebuild can't leave a stale headline."""
    src = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(r"\*\*Round (\d+):\*\* (\d+) declared queries", src)
    assert m, "COVERAGE.md round headline missing"
    assert int(m.group(2)) == len(registry.QUERIES), (
        f"COVERAGE.md round-{m.group(1)} headline says {m.group(2)} "
        f"queries; registry has {len(registry.QUERIES)}"
    )


def test_registry_tier_comments_match_list_structure():
    """The tier-size comments in PRIORITY_ORDER drive rotation
    bookkeeping; they must equal the actual counts, and the sampled
    window must be exactly the declared 50."""
    src = open(os.path.join(REPO, "rpa_etl_spark", "registry.py")).read()
    below = src.index("below the sampled window")
    # count entries above the below-window marker
    names_above = re.findall(r'^    "(q_\w+)",', src[:below], re.M)
    assert len(names_above) == 50, f"window holds {len(names_above)}"
    for m in re.finditer(r"tier ([A-E]'?) \((\d+)\)", src):
        tier, n = m.group(1), int(m.group(2))
        # slice the list between this tier comment and the next tier
        # marker (or the below-window marker)
        at = m.end()
        nxt = [x.start() for x in re.finditer(r"== tier |below the sampled", src)
               if x.start() > at]
        seg = src[at : nxt[0] if nxt else below]
        got = len(re.findall(r'^    "(q_\w+)",', seg, re.M))
        assert got == n, f"tier {tier} comment says {n}, list has {got}"


def test_every_declared_query_has_an_oracle():
    assert set(registry.QUERIES) == set(registry.ORACLES)
