"""Window-vs-scan crossover matrices for ccnet and pack (VERDICT r10
ask #5).

Round 10 recorded the 1x/8x/64x cost matrix for the deepest
window->distributed_scan conversion (window_value_functions: bare
window 0.84/1.50/9.44s vs scan 1.45/—/10.31s) so the constants paid
for structural 100 TB safety stay visible against a baseline. This
tool produces the same honesty ledger for all three deep conversions
— ccnet_quality_buckets (per-lang NTILE terciles),
pack_context_windows (per-source prefix sum), and
window_value_functions itself (re-measured under this protocol, since
the r10 matrix was non-interleaved) — by writing key-shifted
replications of the consumed table at 1x/8x/64x
(key-CONSTANT growth: lang and source are untouched, so per-key mass
grows with the data — exactly the case the scan shapes exist for) and
timing the production scan shape against the bare-window shape it
replaced, INTERLEAVED median-of-5 cold (A/B runs in
bench.interleave's ABBA order — this host's intermittent contention phases moved identical
code 2-4x between back-to-back runs, so only interleaving keeps the
comparison valid; spark.catalog.clearCache() before every timed run,
so the production shapes' lazy persists are PAID, not reused — same
discipline as tools/scale_probe.py).

Run: python tools/crossover_matrix.py   (env: SPARK_GRAFT_SF_DIR)
Prints the two matrices; paste into BENCH_NOTES.md.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

import bench  # noqa: E402
from comperhensive_bigdata_analysis__spark import plans  # noqa: E402
from comperhensive_bigdata_analysis__spark.plans.training import (  # noqa: E402
    PACK_BUDGET,
    unigram_lm_surprisal,
)
from comperhensive_bigdata_analysis__spark.session import get_spark  # noqa: E402
from comperhensive_bigdata_analysis__spark.sources.tables import load_table  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MULTS = (1, 8, 64)
STRIDE = 1_000_000_000
N_FILES = 16
RUNS = 5


def _replicate(spark, table: str, key: str, mult: int) -> str:
    """``mult`` key-shifted copies of ``table`` (``key`` + j * STRIDE),
    built once per (source, mult) and reused."""
    out = f"/tmp/crossover_{table}_x{mult}"

    def build():
        t = load_table(spark, BASE, table)
        reps = t.withColumn(
            "__j", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
        ).withColumn(
            key, F.col(key).cast("long") + F.col("__j").cast("long") * F.lit(STRIDE)
        ).drop("__j")
        reps.repartition(N_FILES).write.mode("overwrite").parquet(
            f"{out}/{table}.parquet"
        )

    return bench._build_once(out, f"{BASE}|{mult}", build)


def _wvf_window(spark, sf_dir):
    """The bare value-function window shape window_value_functions
    replaced — output-identical (the ordering ends in o_orderkey, so
    rank has no peers and percent_rank/cume_dist match the derived
    integer formulas)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    w_date = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_price = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_totalprice").over(w_date).alias("first_price"),
        F.last("o_totalprice").over(w_date).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(w_date).alias("third_price"),
        F.percent_rank().over(w_price).alias("price_pct_rank"),
        F.cume_dist().over(w_price).alias("price_cume_dist"),
    ).orderBy("o_orderkey")


def _consume(fn):
    """Wrap a plan so the timed action is a 2-value aggregate of every
    output column instead of a multi-million-row driver collect — at
    64x the wvf output is 9.6M rows and pickling them would drown the
    compute signal for BOTH shapes equally. The hash-sum consumes
    every column, so no window can be pruned away."""

    def q(spark, sf_dir):
        df = fn(spark, sf_dir)
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash(*df.columns).cast("long")).alias("checksum"),
        )

    return q


def _ccnet_window(spark, sf_dir):
    """The bare NTILE-window shape ccnet_quality_buckets replaced —
    output-identical (pinned by the probe smoke and the oracle)."""
    sur = unigram_lm_surprisal(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("avg_surprisal", "doc_id")
    b = sur.join(docs, "doc_id").withColumn(
        "bucket", F.ntile(3).over(w).cast("bigint")
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.floor(
                    F.sum(F.col("avg_surprisal").cast("decimal(28,12)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                    * 1e6
                )
                / 1e6
            ).alias("mean_surprisal"),
        )
        .orderBy("lang", "bucket")
    )


def _pack_window(spark, sf_dir):
    """The bare prefix-sum-window shape pack_context_windows replaced."""
    from comperhensive_bigdata_analysis__spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn(
        "prior", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("window_id", F.expr(f"prior div {PACK_BUDGET}"))
    return (
        packed.groupBy(
            "source", F.col("window_id").cast("bigint").alias("window_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("source", "window_id")
    )


def _interleaved_cold(spark, fn_a, fn_b, sf_dir):
    """Median-of-RUNS cold for BOTH shapes, measured interleaved in
    ABBA order after one untimed codegen warm-up each. This host shows
    intermittent multi-minute contention phases that moved identical
    code 2-4x between back-to-back runs (BENCH_NOTES r11);
    interleaving puts both shapes inside the same phases so the
    COMPARISON stays valid even when the absolutes drift."""
    r = bench.interleave(
        lambda: fn_a(spark, sf_dir).collect(),
        lambda: fn_b(spark, sf_dir).collect(),
        RUNS,
        1,
        before=spark.catalog.clearCache,
    )
    return statistics.median(r["a"]), statistics.median(r["b"])


def main() -> None:
    spark = get_spark("cba-crossover", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {m: _replicate(spark, "documents", "doc_id", m) for m in MULTS}
    odirs = {m: _replicate(spark, "orders", "o_orderkey", m) for m in MULTS}

    pairs = {
        "ccnet_quality_buckets": (
            plans.QUERIES["ccnet_quality_buckets"],
            _ccnet_window,
            dirs,
            False,
        ),
        "pack_context_windows": (
            plans.QUERIES["pack_context_windows"],
            _pack_window,
            dirs,
            False,
        ),
        "window_value_functions": (
            plans.QUERIES["window_value_functions"],
            _wvf_window,
            odirs,
            True,  # 9.6M output rows at 64x: time the hash-consume
        ),
    }
    for name, (prod, ctrl, pdirs, wrap) in pairs.items():
        # sanity: shapes output-identical at 1x before timing anything
        a = [tuple(r) for r in prod(spark, pdirs[1]).collect()]
        b = [tuple(r) for r in ctrl(spark, pdirs[1]).collect()]
        assert a == b, f"{name}: shapes disagree at 1x"
        if wrap:
            prod, ctrl = _consume(prod), _consume(ctrl)
        line_p, line_w = [], []
        for m in MULTS:
            w, p = _interleaved_cold(spark, ctrl, prod, pdirs[m])
            line_w.append(w)
            line_p.append(p)
        print(f"{name} (interleaved median-of-{RUNS} cold, docs x{MULTS}):")
        print("  bare window: " + " / ".join(f"{t:.2f}s" for t in line_w))
        print("  scan shape : " + " / ".join(f"{t:.2f}s" for t in line_p))
    spark.stop()


if __name__ == "__main__":
    main()
