"""Pre-commit doc/artifact sync — the durable fix for VERDICT r7 #1.

Twice in a row the shipped tree read red at judging time because a plan
landed via the end-of-round snapshot commit without the artifact
regeneration checklist (tools/refresh_artifacts.py).  This script runs
from .git/hooks/pre-commit on EVERY commit and auto-fixes the cheap
drift in place:

  1. README.md "N named plans"   -> regex bump (instant)
  2. SCALE_AUDIT.md totals line  -> rerun tools/scale_audit.py if the
     plan count drifted (one local[8] Spark session, ~40 s; the same
     pass rewrites PLANS.md, which is staged with it)
  3. CORRECTNESS_FULL.json       -> targeted tools/correctness_sweep.py
     merge for up to MAX_SWEEP missing plans (sf0.01 gate); more than
     that, or extra/stale rows, prints a loud warning instead.

Anything it rewrites is `git add`-ed so the fix rides the same commit.
It NEVER exits non-zero: a broken sync must not wedge the driver's
end-of-round snapshot — pytest's doc-count guards remain the hard gate.

Opt-out (ADVICE r8): ``SKIP_PLAN_SYNC=1 git commit ...`` skips the sync
entirely — the Spark work (scale_audit ~40 s, each targeted sweep
~30-90 s) is a surprising side effect for a doc-only commit, so the
hook now prints what it is about to run and its expected duration
before launching anything.

Install (idempotent; .git/ persists across rounds):

    cp tools/hooks/pre-commit .git/hooks/pre-commit
    chmod +x .git/hooks/pre-commit
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MAX_SWEEP = 5  #: targeted-sweep budget; beyond this, warn and move on


def _git_add(path: str) -> None:
    subprocess.run(["git", "add", path], cwd=REPO, check=False)


def _run(cmd: list[str]) -> bool:
    print("+", " ".join(cmd), flush=True)
    return subprocess.run(cmd, cwd=REPO).returncode == 0


def main() -> None:
    from comperhensive_bigdata_analysis__spark import plans

    n = len(plans.QUERIES)

    readme = os.path.join(REPO, "README.md")
    text = open(readme).read()
    fixed = re.sub(r"\d+ named plans", f"{n} named plans", text)
    if fixed != text:
        open(readme, "w").write(fixed)
        _git_add("README.md")
        print(f"precommit_sync: README.md plan count -> {n}")

    audit = os.path.join(REPO, "SCALE_AUDIT.md")
    m = re.search(r"Catalog totals: (\d+) plans", open(audit).read())
    if not m or int(m.group(1)) != n:
        print("precommit_sync: SCALE_AUDIT.md plan count stale — rerunning "
              "tools/scale_audit.py (one local Spark session, ~40 s; "
              "SKIP_PLAN_SYNC=1 to skip)", flush=True)
        if _run([sys.executable, "tools/scale_audit.py"]):
            _git_add("SCALE_AUDIT.md")
            _git_add("PLANS.md")
        else:
            print("precommit_sync: WARNING — scale_audit.py failed; "
                  "SCALE_AUDIT.md still stale")

    full = os.path.join(REPO, "CORRECTNESS_FULL.json")
    try:
        rows = json.load(open(full))
    except (OSError, ValueError):
        rows = {}
    missing = sorted(set(plans.QUERIES) - set(rows))
    extra = sorted(set(rows) - set(plans.QUERIES))
    # Staleness (review r8): a row whose src_hash no longer matches the
    # plan's current source+oracle is pre-change evidence — re-sweep it
    # rather than shipping it as green. Legacy rows without a hash are
    # skipped (they gain one at their next sweep).
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from correctness_sweep import plan_src_hash

    stale = sorted(
        n
        for n, r in rows.items()
        if n in plans.QUERIES
        and isinstance(r, dict)
        and r.get("src_hash")
        and r["src_hash"] != plan_src_hash(n, plans)
    )
    to_sweep = sorted(set(missing) | set(stale))
    if to_sweep and len(to_sweep) <= MAX_SWEEP and not extra:
        print(f"precommit_sync: {len(to_sweep)} missing/stale artifact "
              f"row(s) {to_sweep} — running targeted correctness sweep "
              f"(~30-90 s per plan at sf0.01; SKIP_PLAN_SYNC=1 to skip)",
              flush=True)
        if _run([sys.executable, "tools/correctness_sweep.py", *to_sweep]):
            _git_add("CORRECTNESS_FULL.json")
        else:
            print("precommit_sync: WARNING — targeted sweep failed for "
                  f"{to_sweep}; CORRECTNESS_FULL.json incomplete/stale")
    elif to_sweep or extra:
        print(f"precommit_sync: WARNING — CORRECTNESS_FULL drift too large "
              f"to auto-fix (missing={missing[:8]} stale={stale[:8]} "
              f"extra={extra[:8]}); run tools/refresh_artifacts.py")


if __name__ == "__main__":
    if os.environ.get("SKIP_PLAN_SYNC") == "1":
        print("precommit_sync: skipped (SKIP_PLAN_SYNC=1)")
    else:
        try:
            main()
        except Exception as e:  # noqa: BLE001 — never block a commit
            print(f"precommit_sync: WARNING — sync skipped ({e})")
