"""Scan audit: static vs executed parquet scans per plan, in one
static pass and one executed pass. Writes SCAN_REUSE.md and prints
per-table executed scan counts for every plan whose STATIC scan count
is >= MIN_STATIC.

Static `explain` counts scans in the declarative tree, but AQE dedups
identical exchange subtrees at runtime (ReuseExchange), so a plan that
LOOKS like it scans a table three times may execute one scan (e.g.
copurchase_triangles: 30 static scans, 1 executed). The reverse is the
smell this audit exists to catch: a plan whose RUNTIME scan count per
referenced table stays high re-tokenizes/re-reads data it could reuse —
that's how dsir_importance_weights' original three-pass shape was found
and fused in round 7.

The static pass explains every plan. The executed pass runs each
candidate at sf0.001, reads the FINAL adaptive plan, and attributes
every parquet scan to its source table. The divergent-filter re-scan
disease (a corpus tokenized once per leg because pushed predicates or
per-leg column pruning make the subtrees non-ReuseExchange-identical)
hides well below the highest static counts — r13 found it at static
4-8 in bm25_top_docs (4 executed documents scans), corpus_report_card
(3), churn_hazard_table (3) and seasonal_forecast_mape (3) — so the
printout flags plans where a data-scaling table is executed 3+ times.

SCAN_REUSE.md lists every plan's static scan count, plus executed
scans + ReusedExchange count for the RUNTIME_TOP_N highest static
counts, and stamps each of those plans' plan_src_hash so
tests/test_docs_counts.py can tell when its rows went stale.

A flag is a LEAD, not a verdict: multi-pass can be the algorithm
(grouped_exact_median's histogram refinement, zorder's scale->max->
rollup cascade, the ANN recall evals' per-method legs) or a
column-pruning win (integrity_audit's checks each scan different
columns). Adjudicate per plan; fix only where one pass can serve the
legs without changing values (r13 verdicts: OPTIMIZATION_r13.md).

Caveat: a plan that lazily persists an intermediate (cache.py) renders
the cached relation's own scan once per InMemoryTableScan reference in
the explain text, so its count OVERSTATES executed work — check for
InMemoryTableScan before believing a flagged count.

Run: python tools/scan_audit_wide.py   (~1 min at sf0.001)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
MIN_STATIC = 4
RUNTIME_TOP_N = 12
SCALING = {
    "lineitem",
    "orders",
    "customer",
    "documents",
    "events",
    "embeddings",
    "part",
}


def main() -> None:
    from comperhensive_bigdata_analysis__spark import plans
    from comperhensive_bigdata_analysis__spark.cache import release_plan_caches
    from comperhensive_bigdata_analysis__spark.session import get_spark
    from correctness_sweep import plan_src_hash
    from scale_audit import explain_text, scans_by_table

    spark = get_spark(
        "scan-audit-wide", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    static_rows = []
    for name, fn in plans.QUERIES.items():
        try:
            tree = explain_text(fn(spark, SF_DIR), "formatted").split("\n\n")[0]
            static_rows.append((tree.count("Scan parquet"), name))
        except Exception as ex:  # pragma: no cover - audit robustness
            print(f"{name:34s} SKIPPED ({type(ex).__name__})")
            static_rows.append((-1, f"{name} [ERR {type(ex).__name__}]"))
        finally:
            # always release: a failing plan must not leak its
            # registered caches into later iterations (ADVICE r13)
            release_plan_caches()
    static_rows.sort(key=lambda r: (-r[0], r[1]))
    static = {name: n for n, name in static_rows}
    candidates = [name for n, name in static_rows if n >= MIN_STATIC]
    top = [name for _, name in static_rows[:RUNTIME_TOP_N] if name in plans.QUERIES]

    executed = {}  # name -> (executed scans, reused exchanges)
    n_flags = 0
    for name in sorted(set(candidates) | set(top)):
        try:
            df = plans.QUERIES[name](spark, SF_DIR)
            df.collect()
            final = explain_text(df, final=True)
            executed[name] = (
                final.count("Scan parquet"),
                final.count("ReusedExchange"),
            )
            per = scans_by_table(final)
            cached = final.count("InMemoryTableScan")
            hot = {t: c for t, c in per.items() if t in SCALING and c >= 3}
            flag = "  <<< FLAG" if hot and not cached else ""
            if flag:
                n_flags += 1
            note = f" (cached x{cached})" if cached else ""
            print(f"{name:34s} executed={sum(per.values()):2d} per={per}{note}{flag}")
        except Exception as ex:  # pragma: no cover
            executed[name] = (-1, -1)
            print(f"{name:34s} ERROR {type(ex).__name__}")
        release_plan_caches()

    out = [
        "# SCAN REUSE — static vs executed parquet scans per plan",
        "",
        "Generated by tools/scan_audit_wide.py at sf0.001 (see the tool",
        "docstring). Static counts come from the pre-AQE `explain` tree;",
        "the executed columns re-run the highest static counts and read",
        "the finalized adaptive plan, where ReuseExchange has collapsed",
        "identical subtrees. A plan is suspect when its EXECUTED scan",
        "count stays well above the number of distinct tables it reads.",
        "",
        f"## Executed-plan check (top {RUNTIME_TOP_N} static counts)",
        "",
        "| plan | static scans | executed scans | reused exchanges |",
        "|---|---|---|---|",
    ]
    for name in top:
        out.append(f"| {name} | {static[name]} | {executed[name][0]} | "
                   f"{executed[name][1]} |")
    out += [
        "",
        "## Static scan counts (all plans)",
        "",
        "| static scans | plan |",
        "|---|---|",
    ]
    for nstatic, name in static_rows:
        out.append(f"| {nstatic} | {name} |")
    # Staleness stamp (VERDICT r8 ask #7): the executed-row claims
    # above describe SPECIFIC plan shapes — if a listed plan's source
    # (or any package-local helper in its transitive call closure)
    # changes, the rows are pre-change evidence. Stamp each executed
    # plan's plan_src_hash; tests/test_docs_counts.py recomputes them
    # at HEAD and fails on drift, the same contract
    # test_artifact_rows_not_stale enforces for CORRECTNESS_FULL.
    hashes = {name: plan_src_hash(name, plans) for name in top}
    out += ["", f"<!-- src_hashes: {json.dumps(hashes, sort_keys=True)} -->"]
    with open(os.path.join(REPO, "SCAN_REUSE.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote SCAN_REUSE.md ({len(static_rows)} plans, {len(top)} executed)")
    print(f"\n{len(candidates)} candidates, {n_flags} flagged")
    spark.stop()


if __name__ == "__main__":
    main()
