"""Benchmark runner — times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line for the driver (BENCH_r{N}.json).

Vector/dedup headliners use the production fold-based tier
(operators/similarity.py), not the explode-based oracle tier — the
oracle tier exists for bit-exact DuckDB comparison, the fold tier is
what a cluster would run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark import plans
from comperhensive_bigdata_analysis__spark.operators.similarity import (
    brute_force_knn,
    cosine_pairs_above_np,
    ivf_knn_np,
    lsh_band_pairs_np,
)
from comperhensive_bigdata_analysis__spark.plans.ann import (
    BITS_PER_BAND,
    NCENTROIDS,
    NPROBE,
    _SIGNS,
)
from comperhensive_bigdata_analysis__spark.session import get_spark
from comperhensive_bigdata_analysis__spark.sources.tables import load_table


def _knn_fast(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # Single-query knn: the JVM fold tier beats the numpy tier (no
    # Python workers / broadcast needed for one query vector).
    return brute_force_knn(e, q, k=10)


def _near_dup_fast(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_above_np(e, threshold=0.35)


def _minhash_fast(spark, sf_dir):
    from comperhensive_bigdata_analysis__spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", n=3, min_est=0.25, hash_fn="xxhash64")


def _minhash_k64(spark, sf_dir):
    """Production-scale signature: K=64 / 16 bands of 4, xxhash64."""
    from comperhensive_bigdata_analysis__spark.operators.dedup import (
        MINHASH_BANDS_PROD,
        MINHASH_K_PROD,
        minhash_lsh_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        n=3,
        k=MINHASH_K_PROD,
        bands=MINHASH_BANDS_PROD,
        min_est=0.25,
        hash_fn="xxhash64",
    )


def _lsh_fast(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_band_pairs_np(e, _SIGNS, BITS_PER_BAND, threshold=0.35)


def _ivf_fast(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        (r["vec_id"], list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < NCENTROIDS).collect()
    ]
    qv = list(e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"])
    return ivf_knn_np(e, cents, qv, nprobe=NPROBE, k=10, exclude_id=0)


HEADLINE = {
    "q1_pricing_summary": plans.QUERIES["pricing_summary"],
    "q2_revenue_by_nation": plans.QUERIES["revenue_by_nation"],
    "q3_filter_project": plans.QUERIES["filter_project_arith"],
    "q4_window_top_orders": plans.QUERIES["window_top_orders"],
    "q5_daily_events": plans.QUERIES["daily_events"],
    "q6_doc_quality": plans.QUERIES["doc_quality"],
    "q7_exact_dedup": plans.QUERIES["exact_dedup_docs"],
    "q8_minhash_lsh": _minhash_fast,
    "q9_knn_bruteforce": _knn_fast,
    "q10_embedding_near_dup": _near_dup_fast,
    "q11_linear_forecast": plans.QUERIES["linear_forecast"],
    "q12_lsh_band_pairs": _lsh_fast,
    "q13_ivf_knn": _ivf_fast,
    "q14_corpus_pipeline": plans.QUERIES["corpus_clean_pipeline"],
    "q15_minhash_k64": _minhash_k64,
    # r3 additive entries (per-query continuity: q1-q15 unchanged):
    "q16_pq_adc_knn": None,  # bound below (numpy production tier)
    "q17_unigram_surprisal": plans.QUERIES["unigram_lm_surprisal"],
    # r5 additive entries (same policy: per-query rows + additions_sec,
    # never the headline total):
    "q18_hash_embed_topk": plans.QUERIES["hash_embed_topk"],
    "q19_zorder_skipping": plans.QUERIES["zorder_skipping_stats"],
    # r6 additive entries: the numpy media fast tiers next to their
    # Python correctness tiers, so the speedup is a measured row pair.
    # The JPEG pair runs on a 1-in-10 doc sample (sample_mod) — the
    # full-corpus pure-Python DCT costs minutes at sf0.1, which would
    # dominate the whole bench; the RATIO is the signal either way.
    "q20_wav_stats_py": plans.QUERIES["wav_audio_stats"],
    "q21_wav_stats_np": plans.QUERIES["wav_audio_stats_np"],
    "q22_jpeg_stats_py": lambda s, d: plans.QUERIES["jpeg_pixel_stats"](
        s, d, sample_mod=10
    ),
    "q23_jpeg_stats_np": lambda s, d: plans.QUERIES["jpeg_pixel_stats_np"](
        s, d, sample_mod=10
    ),
    # r7 additive entries: the two new training-data curation ops —
    # DSIR importance weighting (single tokenize pass, 64-bucket model)
    # and the ExactSubstr sliding-window repeated-span census.
    "q24_dsir_weights": plans.QUERIES["dsir_importance_weights"],
    "q25_exact_substr": plans.QUERIES["exact_substr_spans"],
}


def _pq_fast(spark, sf_dir):
    from comperhensive_bigdata_analysis__spark.operators.similarity import (
        pq_adc_knn_np,
    )
    from comperhensive_bigdata_analysis__spark.plans.ann import PQ_CENTROIDS, PQ_M

    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        (r["vec_id"], list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < PQ_CENTROIDS)
        .orderBy("vec_id")
        .collect()
    ]
    qv = list(e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"])
    return pq_adc_knn_np(e, cents, qv, n_sub=PQ_M, k=10, exclude_id=0)


HEADLINE["q16_pq_adc_knn"] = _pq_fast

#: Additive entries: reported per-query and in additions_sec, kept out
#: of the headline total so it stays comparable to BENCH_r01/r02.
_ADDITIONS = (
    "q16_pq_adc_knn",
    "q17_unigram_surprisal",
    "q18_hash_embed_topk",
    "q19_zorder_skipping",
    "q20_wav_stats_py",
    "q21_wav_stats_np",
    "q22_jpeg_stats_py",
    "q23_jpeg_stats_np",
    "q24_dsir_weights",
    "q25_exact_substr",
)

#: Large-scale tier (VERDICT r2 ask #8): the 3 slowest headliners re-run
#: on an 8x key-disjoint inflation of the sf dir, reported as
#: "<name>@8x". sf0.1 timings are ~1 s and startup-dominated; at 8x the
#: same plans run long enough that round-over-round ratios measure
#: compute, not JVM constant costs.
SCALE_COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "8"))
#: Aggregate-output queries only: the tier isolates distributed COMPUTE
#: scaling. q3 (150k-row projection) is excluded because at 8x its
#: timing is dominated by driver-side row collection (~1.2M rows
#: pickled), which measures the harness, not the plan. Note also the
#: 1x testdata parquet is one file + ONE row group per table, so 1x
#: scan stages run single-task; the 8x corpus is Spark-written
#: (multi-file) — part of why @8x entries can run FASTER than naive
#: 8x extrapolation. The @8x rows are the round-over-round compute
#: signal; the 1x rows keep continuity with BENCH_r01/r02.
SCALE_TIER = (
    "q15_minhash_k64",
    "q2_revenue_by_nation",
    "q1_pricing_summary",
    "q17_unigram_surprisal",  # token-pipeline compute signal
    # r7 addition: the JPEG np tier at 8x docs (still sample_mod=10 —
    # ~4800 decoded images) — the media-pipeline compute signal now
    # that the LUT entropy decode + matmul FDCT made it encode/IDCT
    # bound rather than bitstream bound.
    "q23_jpeg_stats_np",
)


#: Calibration protocol (VERDICT r10 ask #1): the r10 stamp's own pair
#: moved 2.4x WITHIN one run (env_start 0.152s vs env_end 0.062s),
#: which made the amended adjudication rule unusable the first time it
#: was needed. Measured r11: the start-vs-end gap is STRUCTURAL JIT
#: state, not host noise — repeating the calibration job alone
#: plateaus at ~75ms after ~90 runs, while after the full bench
#: workload the same job runs ~55ms (the diverse task volume compiles
#: scheduler paths the calibration job never triggers). No warm count
#: makes start agree with end, so the cross-round NORMALIZER is the
#: env_end stamp — post-workload, the one JVM state two runs of the
#: same bench share — taken as a median of CAL_RUNS with its MAD
#: recorded so tools/bench_compare.py can gate on the stamp's own
#: internal stability. env_start keeps the same protocol as the
#: at-start host-state datum (its absolute is NOT comparable to
#: env_end by design).
CAL_WARM = 12
CAL_RUNS = 9


def _env_stamp(spark, sf_dir: str) -> dict:
    """Host-state stamp (VERDICT r9 ask #4): two of the last three
    rounds moved ±40-80% on environment alone; recording load average,
    free memory, and one fixed trivial calibration row alongside the
    medians makes band-vs-real adjudication mechanical instead of
    essayistic. The calibration row is a full count of the tiny region
    parquet — a fixed job whose compute is ~zero, so its wall time is
    pure scheduler + host overhead."""
    stamp: dict = {}
    try:
        stamp["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        stamp["loadavg_1m"] = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    stamp["mem_available_gb"] = round(
                        int(line.split()[1]) / 1048576, 1
                    )
                    break
    except OSError:
        stamp["mem_available_gb"] = None
    reg = load_table(spark, sf_dir, "region")
    # CAL_WARM untimed counts saturate JVM/scheduler warm-up first
    med, mad = _median_mad(_samples(reg.count, CAL_RUNS, warmups=CAL_WARM))
    stamp["calibration_count_sec"] = round(med, 4)
    stamp["calibration_mad_sec"] = round(mad, 4)
    stamp["calibration_runs"] = CAL_RUNS
    return stamp


def _samples(act, runs: int, warmups: int = 1) -> list[float]:
    """Wall times of ``runs`` calls of ``act()``, after ``warmups``
    untimed calls (the first run of a plan pays codegen). The one
    warm-up-then-time loop behind every median the bench and the
    tools report."""
    for _ in range(warmups):
        act()
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        act()
        samples.append(time.perf_counter() - t0)
    return samples


def _median_time(act, runs: int) -> float:
    return statistics.median(_samples(act, runs))


def _median_mad(xs: list[float]) -> tuple[float, float]:
    med = statistics.median(xs)
    return med, statistics.median(abs(x - med) for x in xs)


def interleave(act_a, act_b, pairs: int, warmups: int, before=None) -> dict:
    """Same-session A/B timing in ABBA order. Both variants get
    ``warmups`` untimed calls (A then B); then ``pairs`` timed pairs
    run A,B / B,A / A,B ... so linear host drift cancels within as
    well as across pairs. ``before`` (e.g. a cache clear) runs untimed
    ahead of every timed call. Returns the per-variant samples and the
    per-pair ratios t_A / t_B with their median and MAD — the
    statistic of record, since host state wide enough to move one side
    of a pair moves the adjacent run the same way and divides out."""
    for _ in range(warmups):
        act_a()
        act_b()
    a_s, b_s = [], []
    for i in range(pairs):
        legs = ((act_a, a_s), (act_b, b_s))
        for act, out in legs if i % 2 == 0 else legs[::-1]:
            if before is not None:
                before()
            out += _samples(act, 1, warmups=0)
    ratios = [a / b for a, b in zip(a_s, b_s)]
    med, mad = _median_mad(ratios)
    return {"a": a_s, "b": b_s, "ratios": ratios, "ratio_median": med, "ratio_mad": mad}


def _build_once(out: str, key: str, build) -> str:
    """Run ``build()`` to fill ``out`` unless ``out/_MARKER`` already
    holds ``key`` (source + shape of the corpus), so re-runs reuse an
    identical corpus instead of rebuilding it. Returns ``out``."""
    marker = os.path.join(out, "_MARKER")
    if os.path.exists(marker) and open(marker).read() == key:
        return out
    build()
    with open(marker, "w") as f:
        f.write(key)
    return out


def _scale_dir(spark, sf_dir: str) -> str:
    """Build (or reuse) the inflated corpus under /tmp."""
    from comperhensive_bigdata_analysis__spark.sources.inflate import (
        PASSTHROUGH,
        inflate_corpus,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"/tmp/cba_bench_{tag}_x{SCALE_COPIES}"
    return _build_once(
        out,
        f"{sf_dir}|{SCALE_COPIES}",
        lambda: inflate_corpus(
            spark, sf_dir, out, SCALE_COPIES, passthrough=PASSTHROUGH
        ),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("cba-spark-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen path once, untimed.
    plans.QUERIES["pricing_summary"](spark, sf_dir).collect()

    env_start = _env_stamp(spark, sf_dir)

    # Variance protocol (VERDICT r6 ask #3): the 1x rows are sub-second
    # and best-of-2 produced phantom 12% round-over-round drift, so the
    # 1x tier reports the MEDIAN of RUNS_1X warm executions (first run
    # of each plan additionally pays codegen and is preceded by an
    # untimed warm-up); the @Nx tier — the real compute signal — uses
    # median-of-RUNS_SCALE. Both counts are stamped into the artifact
    # so BENCH_NOTES commentary can only quote what was measured.
    runs_1x = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    runs_scale = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_RUNS", "3"))

    def _collect(fn, data_dir: str):
        return lambda: fn(spark, data_dir).collect()

    timings: dict[str, float] = {}
    for name, fn in HEADLINE.items():
        timings[name] = round(_median_time(_collect(fn, sf_dir), runs_1x), 3)

    big = _scale_dir(spark, sf_dir)  # untimed corpus build (cached)
    for name in SCALE_TIER:
        timings[f"{name}@{SCALE_COPIES}x"] = round(
            _median_time(_collect(HEADLINE[name], big), runs_scale), 3
        )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                # Headline total = the q1-q15 COMMON SET ONLY, so it
                # stays comparable to BENCH_r01/r02; the r3 additive
                # entries (q16/q17) and the @Nx scale tier ride along
                # as per-query rows and in additions_sec.
                "value": round(
                    sum(
                        v
                        for k, v in timings.items()
                        if "@" not in k and k not in _ADDITIONS
                    ),
                    3,
                ),
                "additions_sec": round(
                    sum(timings.get(k, 0.0) for k in _ADDITIONS),
                    3,
                ),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "scale_tier_copies": SCALE_COPIES,
                "stat": "median",
                "runs_1x": runs_1x,
                "runs_scale": runs_scale,
                # Host-state stamps bracket the run (r9 ask #4); the
                # calibration row is the band-vs-real normalizer.
                "env_start": env_start,
                "env_end": _env_stamp(spark, sf_dir),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
