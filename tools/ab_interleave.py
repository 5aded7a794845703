"""Interleaved same-session A/B harness (VERDICT r13 ask #7).

This host swings 2-3x on same-code cross-run absolutes (BENCH_NOTES
r11-r13), so the only instrument that adjudicated r13's keep/revert
decisions correctly was strict same-session interleaving: variant A
and variant B timed alternately in ONE Spark session, with the
per-pair RATIO as the statistic of record — host state wide enough to
move one side of a pair moves the adjacent run the same way and
divides out. r13 ran that protocol as ad-hoc REPL prose; this tool
makes it a citable artifact: one JSON line per comparison, quoted in
OPTIMIZATION_r14.md for every keep/revert.

Protocol:
  - both variants get ``--warmups`` untimed executions first (codegen
    + the JIT depth the bench's warm medians assume);
  - ``--pairs`` timed pairs follow, in ABBA order (pair 0: A then B,
    pair 1: B then A, ...) so linear host drift cancels within as well
    as across pairs;
  - statistic of record: median over pairs of t_A / t_B ("speedup",
    >1 means B is faster), with its MAD; medians of the absolutes ride
    along for context only.

Variants come from a SPEC FILE so that any comparison is expressible
(fan_out on/off, a conf toggled per-plan, two different formulations):
a Python file defining ``variant_a(spark, data_dir)`` (baseline) and
``variant_b(spark, data_dir)`` (candidate), each returning a
DataFrame. Optional module-level ``SCALE = True`` runs both on the
bench's inflated @Nx corpus instead of the 1x dir; optional
``TIMED = "noop"`` times ``df.write.format("noop")`` instead of the
bench's ``.collect()`` (guide §1.4 — use when isolating compute from
driver-side row pickling; the bench row itself stays collect-timed).

Usage:
  python tools/ab_interleave.py SPEC.py [--pairs 7] [--warmups 2]
                                        [--cpus $SPARK_GRAFT_CPUS]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _load_spec(path: str):
    spec = importlib.util.spec_from_file_location("ab_spec", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    for fn in ("variant_a", "variant_b"):
        if not callable(getattr(mod, fn, None)):
            raise SystemExit(f"spec {path} must define {fn}(spark, data_dir)")
    return mod


def _timer(mode: str):
    if mode == "noop":
        return lambda df: df.write.format("noop").mode("overwrite").save()
    return lambda df: df.collect()


def run_ab(spark, mod, data_dir: str, pairs: int, warmups: int) -> dict:
    import bench

    timed = _timer(getattr(mod, "TIMED", "collect"))
    r = bench.interleave(
        lambda: timed(mod.variant_a(spark, data_dir)),
        lambda: timed(mod.variant_b(spark, data_dir)),
        pairs,
        warmups,
    )
    return {
        "pairs": pairs,
        "warmups": warmups,
        "timed": getattr(mod, "TIMED", "collect"),
        "a_median_sec": round(statistics.median(r["a"]), 3),
        "b_median_sec": round(statistics.median(r["b"]), 3),
        "speedup_median": round(r["ratio_median"], 3),
        "speedup_mad": round(r["ratio_mad"], 3),
        "ratios": [round(x, 3) for x in r["ratios"]],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("spec")
    ap.add_argument("--pairs", type=int, default=7)
    ap.add_argument("--warmups", type=int, default=2)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    mod = _load_spec(args.spec)

    from comperhensive_bigdata_analysis__spark.session import get_spark

    spark = get_spark("cba-ab-interleave", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    data_dir = sf_dir
    if getattr(mod, "SCALE", False):
        import bench

        data_dir = bench._scale_dir(spark, sf_dir)

    out = run_ab(spark, mod, data_dir, args.pairs, args.warmups)
    out["spec"] = os.path.basename(args.spec)
    out["cpus"] = int(args.cpus)
    out["data_dir"] = data_dir
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
