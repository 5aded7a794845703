"""Docs can't drift from the registry (VERDICT r1 #8): the plan counts
written in README.md and SCALE_AUDIT.md must equal len(plans.QUERIES),
and every oracle-less plan must be a documented rows-only exception.
"""

from __future__ import annotations

import os
import re

from comperhensive_bigdata_analysis__spark import plans

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
README = os.path.join(_REPO, "README.md")
SCALE_AUDIT = os.path.join(_REPO, "SCALE_AUDIT.md")

#: Plans intentionally registered WITHOUT a DuckDB oracle (sketch /
#: approximate results get rows-only + tolerance tests instead):
#: approx_distinct_users, approx_percentile_prices,
#: hll_mergeable_distinct, approx_percentile_calibration.
ROWS_ONLY_OK = 4


def test_readme_plan_count_matches_registry():
    m = re.search(r"(\d+) named plans", open(README).read())
    assert m, "README.md no longer states the catalog size"
    assert int(m.group(1)) == len(plans.QUERIES)


def test_scale_audit_totals_match_registry():
    m = re.search(r"Catalog totals: (\d+) plans", open(SCALE_AUDIT).read())
    assert m, "SCALE_AUDIT.md missing its totals line (rerun tools/scale_audit.py)"
    assert int(m.group(1)) == len(plans.QUERIES)


def test_oracle_coverage_is_total_minus_documented_exceptions():
    assert len(plans.ORACLES) == len(plans.QUERIES) - ROWS_ONLY_OK
    missing = set(plans.QUERIES) - set(plans.ORACLES)
    assert len(missing) == ROWS_ONLY_OK, sorted(missing)


def test_scan_reuse_executed_rows_not_stale():
    """VERDICT r8 ask #7: SCAN_REUSE.md's executed-plan claims describe
    specific plan shapes. The audit stamps each executed plan's
    transitive src hash into the doc; this gate recomputes them at HEAD
    and fails when a listed plan (or any package-local helper in its
    call closure) changed after the audit ran — the same staleness
    contract test_artifact_rows_not_stale enforces for
    CORRECTNESS_FULL.json. Fix = rerun tools/scan_audit_wide.py."""
    import json
    import sys

    sys.path.insert(0, os.path.join(_REPO, "tools"))
    from correctness_sweep import plan_src_hash

    text = open(os.path.join(_REPO, "SCAN_REUSE.md")).read()
    m = re.search(r"<!-- src_hashes: (\{.*\}) -->", text)
    assert m, "SCAN_REUSE.md is missing its src_hashes staleness stamp"
    stamped = json.loads(m.group(1))
    assert stamped, "stamp must cover the executed rows"
    stale = {
        n
        for n, h in stamped.items()
        if n in plans.QUERIES and h != plan_src_hash(n, plans)
    }
    assert not stale, (
        f"SCAN_REUSE.md executed rows are pre-change for {sorted(stale)}; "
        f"rerun tools/scan_audit_wide.py"
    )
    # every stamped name must still exist (a renamed/dropped plan makes
    # the row meaningless)
    assert set(stamped) <= set(plans.QUERIES), set(stamped) - set(plans.QUERIES)
