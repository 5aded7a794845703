"""One-command artifact refresh — run after adding/changing plans so the
committed artifacts can't drift from the registry:

    python tools/refresh_artifacts.py                # full sweep (all plans)
    python tools/refresh_artifacts.py plan1 plan2    # merge named plans only

Steps:
  1. tools/correctness_sweep.py  -> CORRECTNESS_FULL.json (sf0.01 gate)
  2. tools/scale_audit.py        -> SCALE_AUDIT.md physical ledger + PLANS.md
  3. README.md "N named plans" line updated to len(plans.QUERIES)
  4. pytest tests/test_docs_counts.py tests/test_correctness_full.py

Exits non-zero if any step fails, so it can gate a commit.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run(cmd: list[str]) -> None:
    print("+", " ".join(cmd), flush=True)
    subprocess.run(cmd, cwd=REPO, check=True)


def main() -> None:
    named = sys.argv[1:]
    run([sys.executable, "tools/correctness_sweep.py", *named])
    run([sys.executable, "tools/scale_audit.py"])

    from comperhensive_bigdata_analysis__spark import plans

    readme = os.path.join(REPO, "README.md")
    text = open(readme).read()
    new_text = re.sub(
        r"\d+ named plans", f"{len(plans.QUERIES)} named plans", text
    )
    if new_text != text:
        open(readme, "w").write(new_text)
        print(f"README.md: plan count -> {len(plans.QUERIES)}")

    run(
        [
            sys.executable,
            "-m",
            "pytest",
            "tests/test_docs_counts.py",
            "tests/test_correctness_full.py",
            "-q",
        ]
    )
    print("artifacts refreshed and verified")


if __name__ == "__main__":
    main()
