"""Standing floor profiles for the two re-based bench rows (r12
adjudication, BENCH_NOTES '## Adjudication r10 vs r11').

q24_dsir_weights and q25_exact_substr carry re-based bands (q24 warm
1.8-2.6s / ratio 6.6±0.5 vs q7; q25 warm 0.70-1.05s / ratio ~2.9 —
both floors widened to cover measured favorable phases: q25 in
7eebd1f after the r12 end-bench 0.730, q24 in round 13 after the
committed r10 1.851 / r12 1.844)
whose enforcement clause is "outside that, profile again". This tool
IS that profile, committed so the re-check is one command instead of
an ephemeral script:

- q24: the r8 stage decomposition (tokenize+explode+hash count, the
  (doc,lang,bucket) map-side-combined partial, the full plan) against
  the documented floor 0.73 / 1.45 / 2.11s. A stage off its constant
  localizes the drift; all stages on-floor with a high bench median
  means phase contamination, not code.
- q25: the register_plan_cache wrapper A/B'd interleaved against a
  bare .persist() of the identical plan (warm + cold), plus the
  CacheManager dedup check (cached-RDD count must not grow across
  invocations; run-2 plan must read InMemoryTableScan). r12 baseline:
  warm 0.859 vs 0.808s, cold 1.573 vs 1.498s, deduped.

Run: python tools/floor_profiles.py [q24] [q25]   (default: both)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
import bench  # noqa: E402
from scale_audit import explain_text  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def profile_q24(spark) -> None:
    from comperhensive_bigdata_analysis__spark import plans
    from comperhensive_bigdata_analysis__spark.functions.text import tokens
    from comperhensive_bigdata_analysis__spark.operators.curation import (
        BIGRAMS_EXPR,
        dsir_bucket_col,
    )
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    def hashed():
        d = load_table(spark, SF, "documents")
        docs = d.filter(F.length(F.trim("text")) > 0).select(
            "doc_id", "lang", tokens(F.col("text")).alias("t")
        )
        feats = docs.select(
            "doc_id",
            "lang",
            F.explode(F.concat(F.col("t"), F.expr(BIGRAMS_EXPR))).alias("f"),
        )
        return feats.select(
            "doc_id", "lang", dsir_bucket_col("f").alias("bucket")
        ).filter(F.col("bucket").isNotNull())

    def tf3():
        return hashed().groupBy("doc_id", "lang", "bucket").agg(
            F.count(F.lit(1)).alias("tf")
        )

    full = plans.QUERIES["dsir_importance_weights"]
    full(spark, SF).collect()  # session warm-up
    s1 = bench._median_time(lambda: hashed().count(), 5)
    s2 = bench._median_time(lambda: tf3().count(), 5)
    s3 = bench._median_time(lambda: full(spark, SF).collect(), 5)
    print(
        f"q24 decomposition warm median-of-5: hashed.count {s1:.3f}s, "
        f"tf3.count {s2:.3f}s, full plan {s3:.3f}s "
        f"(r8 floor: 0.73 / 1.45 / 2.11; r12 re-check: 0.816/1.502/2.106)"
    )


def profile_q25(spark) -> None:
    from comperhensive_bigdata_analysis__spark import cache as cache_mod
    from comperhensive_bigdata_analysis__spark import plans

    q = plans.QUERIES["exact_substr_spans"]
    wrapper = cache_mod.register_plan_cache

    def bare(df):
        return df.persist()

    def run(variant):
        cache_mod.register_plan_cache = variant
        try:
            q(spark, SF).collect()
        finally:
            cache_mod.register_plan_cache = wrapper

    def reset():
        cache_mod.release_plan_caches()
        spark.catalog.clearCache()

    # CacheManager dedup check: repeated invocations of the plan must
    # share ONE cache entry, and the repeat run must read it.
    reset()
    run(wrapper)
    n1 = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    run(wrapper)
    n2 = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    plan_str = explain_text(q(spark, SF))
    print(
        f"q25 cached RDDs run1={n1} run2={n2} "
        f"({'deduped' if n2 == n1 else 'NOT deduped — plan drift!'}); "
        f"InMemoryTableScan in run-2 plan: {'InMemoryTableScan' in plan_str}"
    )

    # wrapper-vs-bare, warm (the bench protocol) then cold
    warm = bench.interleave(lambda: run(wrapper), lambda: run(bare), 7, 1)
    print(
        f"q25 warm interleaved median-of-7: wrapper "
        f"{statistics.median(warm['a']):.3f}s vs bare persist "
        f"{statistics.median(warm['b']):.3f}s (r12: 0.859 vs 0.808)"
    )
    cold = bench.interleave(
        lambda: run(wrapper), lambda: run(bare), 5, 0, before=reset
    )
    print(
        f"q25 cold interleaved median-of-5: wrapper "
        f"{statistics.median(cold['a']):.3f}s vs bare persist "
        f"{statistics.median(cold['b']):.3f}s (r12: 1.573 vs 1.498)"
    )
    reset()


def main() -> None:
    from comperhensive_bigdata_analysis__spark.session import get_spark

    which = set(sys.argv[1:]) or {"q24", "q25"}
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("cba-floor-profiles", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    if "q24" in which:
        profile_q24(spark)
    if "q25" in which:
        profile_q25(spark)
    spark.stop()


if __name__ == "__main__":
    main()
