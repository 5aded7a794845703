"""Interleaved-ratio adjudication of bench_compare FLAGs (VERDICT r11
ask #2 / "What's wrong #2").

The old adjudication protocol — re-measure the FLAGged plan at idle
and compare the absolute to the committed value — cannot distinguish
"the old round's committed median was favorable" from "the new round
regressed": both committed absolutes can be phase-contaminated in
opposite directions by this host's intermittent contention phases
(identical code measured 2-4x apart in back-to-back runs,
BENCH_NOTES r11). tools/crossover_matrix.py solved the same problem
with strict A/B interleaving; this tool applies that discipline to
FLAG adjudication:

- the FLAGged plan is timed interleaved with a stable ANCHOR plan in
  bench.interleave's ABBA order (plan, anchor / anchor, plan, ...)
  (default anchor q7_exact_dedup: one uniform-key shuffle, never
  FLAGged, committed 0.241-0.352s in 10 of 11 rounds — the one
  outlier, r9's 0.593, was the round-wide host event in which every
  row doubled, which a ratio cancels by construction) under the
  bench's own warm-median protocol (untimed warm-up passes, no cache
  clearing — the committed medians being adjudicated are warm
  numbers). For a plan whose cost is Python-worker-bound
  (mapInPandas decode, pandas UDFs), prefer a matched anchor:
  `--anchor q21_wav_stats_np` (committed 0.805-1.162s, same
  stability profile) moves with the Python-worker dimension the JVM
  count anchor cannot see;
- the statistic of record is the per-cycle RATIO plan/anchor (median
  + MAD across cycles): any host state wide enough to move the plan
  moves the adjacent anchor run the same way and divides out;
- the live ratio is then placed against the two COMMITTED ratios
  (plan/anchor within each committed artifact). Matching the OLD
  round's ratio exonerates the new committed absolute as environment;
  matching the NEW round's ratio confirms a real constant-factor
  change at HEAD; landing between is reported as such.

Verdict rule (stated so adjudications are mechanical): the live ratio
matches a committed ratio when it lies within RATIO_TOL (15%,
the FLAG threshold itself) of it; if it matches both (the committed
ratios are too close to separate), the FLAG was never a per-plan
signal and is exonerated outright. A regression verdict additionally
requires the live ABSOLUTE to exceed the old round's committed median
by more than RATIO_TOL: the anchor's own speed moves with JIT depth
within a session, and Python-worker-bound plans don't track it, so a
ratio-only match to the regressed round with an absolute at or below
the good round's median is an anchor-drift artifact, not a plan
regression (measured r12: the jpeg rows' live absolutes sat BELOW
r10's committed medians while their ratios matched r11, because the
anchor ran 0.24s in those cycles vs 0.30s earlier in the session).

Usage:
  python tools/adjudicate.py [--anchor q7_exact_dedup] [--cycles 7]
                             [--warmups 2] QUERY [QUERY ...]

QUERY names are bench rows (q24_dsir_weights, q1_pricing_summary@8x,
...). "@Nx" rows run on the bench's inflated corpus, like the bench.
Prints a human table plus one JSON line per query for BENCH_NOTES.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RATIO_TOL = 0.15  # live-vs-committed ratio match tolerance (= FLAG_PCT)


def _committed_ratios(plan: str, anchor: str) -> list[tuple[str, float | None]]:
    """(round-name, plan/anchor ratio) for the two newest committed
    BENCH artifacts — the same pair bench_compare adjudicates."""
    arts = sorted(
        (f for f in os.listdir(REPO) if re.fullmatch(r"BENCH_r\d+\.json", f)),
        key=lambda f: int(re.search(r"r(\d+)", f).group(1)),
    )[-2:]
    out = []
    for name in arts:
        art = json.load(open(os.path.join(REPO, name)))
        q = (art.get("parsed") or {}).get("queries", {})
        p, a = q.get(plan), q.get(anchor)
        out.append((name, (p / a) if p and a else None))
    return out


def _verdict(
    live_ratio: float,
    committed: list[tuple[str, float | None]],
    live_abs: float,
    old_abs: float | None,
) -> str:
    """The mechanical verdict rule (module docstring), pure so the
    protocol itself is testable. ``committed`` is [(old-art, ratio),
    (new-art, ratio)]; a ratio is matched within RATIO_TOL. Anchor-
    drift cross-check: the anchor's own speed moves with JIT depth
    within a session, and a plan whose cost lives in Python workers
    (mapInPandas decode, pandas UDFs) does not speed up proportionally
    with JVM scheduler paths — so a ratio can match the regressed
    round while the plan's ABSOLUTE sits at or below the good round's
    committed median. Ratio and absolute must agree before a
    regression verdict stands."""
    matches = [
        art
        for art, cr in committed
        if cr is not None and abs(live_ratio - cr) / cr <= RATIO_TOL
    ]
    old_art = committed[0][0]
    abs_ok = old_abs is not None and live_abs <= old_abs * (1 + RATIO_TOL)
    if len(matches) == 2:
        return (
            "committed ratios indistinguishable at this tolerance — the "
            "FLAG was never a per-plan signal; exonerated"
        )
    if len(matches) == 1 and matches[0] == old_art:
        return (
            f"live ratio matches {old_art} only: "
            "new committed absolute was environment — exonerated"
        )
    if len(matches) == 1:
        if old_abs is None:
            # the FLAGged row is absent from the old artifact: there is
            # no baseline absolute to corroborate a regression, so a
            # "REAL change at HEAD" verdict cannot stand (r12 ADVICE #2)
            return (
                f"live ratio matches {matches[0]} but {old_art} carries "
                f"no committed median for this plan — insufficient "
                f"baseline for a regression verdict; report the live "
                f"ratio ({live_ratio:.3f}) as the number of record"
            )
        if abs_ok:
            return (
                f"live ratio matches {matches[0]} but the live ABSOLUTE "
                f"({live_abs:.3f}s) is within tolerance of {old_art}'s "
                f"committed {old_abs}s — anchor-drift artifact, not a plan "
                f"regression; exonerated on absolutes"
            )
        return (
            f"live ratio matches {matches[0]} only and the live "
            f"absolute ({live_abs:.3f}s vs {old_art} {old_abs}s) "
            f"agrees: constant-factor change at HEAD is REAL — "
            f"profile it"
        )
    return (
        "live ratio matches neither committed ratio — both committed "
        "rows are suspect; report the live ratio as the number of record"
    )


def _resolve(name: str):
    """bench row name -> (callable, needs_scale_dir)."""
    import bench

    base, _, suffix = name.partition("@")
    if base not in bench.HEADLINE:
        raise SystemExit(f"unknown bench row {name!r} (not in bench.HEADLINE)")
    return bench.HEADLINE[base], bool(suffix)


def adjudicate(
    spark, plan_name: str, anchor_name: str, cycles: int, warmups: int
) -> dict:
    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plan_fn, plan_scaled = _resolve(plan_name)
    anchor_fn, anchor_scaled = _resolve(anchor_name)
    scale_dir = (
        bench._scale_dir(spark, sf_dir) if (plan_scaled or anchor_scaled) else None
    )
    plan_dir = scale_dir if plan_scaled else sf_dir
    anchor_dir = scale_dir if anchor_scaled else sf_dir

    # warm-ups (untimed: codegen + the JIT depth the bench's warm
    # medians assume), then ABBA cycles; ratio = plan / anchor
    r = bench.interleave(
        lambda: plan_fn(spark, plan_dir).collect(),
        lambda: anchor_fn(spark, anchor_dir).collect(),
        cycles,
        warmups,
    )
    med, mad = r["ratio_median"], r["ratio_mad"]
    plan_s, anchor_s = r["a"], r["b"]
    committed = _committed_ratios(plan_name, anchor_name)
    live_abs = statistics.median(plan_s)
    old_art = committed[0][0]
    old_abs = (
        json.load(open(os.path.join(REPO, old_art)))
        .get("parsed", {})
        .get("queries", {})
        .get(plan_name)
    )
    verdict = _verdict(med, committed, live_abs, old_abs)
    return {
        "plan": plan_name,
        "anchor": anchor_name,
        "cycles": cycles,
        "ratio_median": round(med, 4),
        "ratio_mad": round(mad, 4),
        "plan_median_s": round(statistics.median(plan_s), 3),
        "anchor_median_s": round(statistics.median(anchor_s), 3),
        "committed_ratios": {a: (round(r, 4) if r else None) for a, r in committed},
        "verdict": verdict,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--anchor", default="q7_exact_dedup")
    ap.add_argument("--cycles", type=int, default=7)
    ap.add_argument("--warmups", type=int, default=2)
    args = ap.parse_args()

    from comperhensive_bigdata_analysis__spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("cba-adjudicate", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    for q in args.queries:
        if q == args.anchor:
            raise SystemExit("a plan cannot adjudicate against itself")
        r = adjudicate(spark, q, args.anchor, args.cycles, args.warmups)
        print(json.dumps(r))
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
