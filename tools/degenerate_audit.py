"""Full-catalog degenerate-input audit (round 12).

Runs EVERY registered plan against a derived corpus that models a
dirty-production shape, crash-only (plans may legitimately return
different numbers — the property is "no plan crashes on degenerate
data the populated oracle corpus never exercises"):

  empty   schema-correct, zero rows (empty filter result, dry batch)
  null    every non-key column NULL, keys kept (optional columns dark)
  one     limit(1) of every table (n=1 statistics edges)
  dup     every row tripled (primary keys violated upstream)
  mixed   (r13) every non-key column NULL on a deterministic HALF of
          rows, keys kept — the shape that exercises NULL ORDERING
          (Spark defaults NULLS FIRST on ASC where DuckDB defaults
          NULLS LAST), rank spines, first/last aggregates, and
          quantile picks over partially-dark columns, which the
          all-NULL shape turns into indistinguishable ties

r12 results: empty 232/234 (2 fixed), null 230/234 (4 fixed), one
228/234 (6 fixed), dup 234/234 — and all four shapes re-audited
234/234 at the round's final HEAD. The 12 fixes are pinned with
their NULL-semantics contracts in tests/test_empty_corpus.py; this
tool exists to re-audit the WHOLE catalog when new plans land.

Usage: python tools/degenerate_audit.py [empty|null|one|dup|mixed ...]
       (default: all five; env SPARK_GRAFT_SF_DIR, default sf0.001)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _derive(spark, src: str, out: str, shape: str) -> str:
    """Build (or reuse) the ``shape`` variant of every table under ``out``."""
    return bench._build_once(
        out, f"{src}|{shape}", lambda: _write_shape(spark, src, out, shape)
    )


def _write_shape(spark, src: str, out: str, shape: str) -> None:
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    for t in TABLES:
        df = load_table(spark, src, t)
        if shape == "empty":
            df = df.limit(0)
        elif shape == "one":
            df = df.limit(1)
        elif shape == "null":
            df = df.select(
                *[
                    F.col(c)
                    if (c.endswith("key") or c.endswith("_id"))
                    else F.lit(None).cast(dt).alias(c)
                    for c, dt in df.dtypes
                ]
            )
        elif shape == "dup":
            df = df.withColumn(
                "__j", F.explode(F.array(*[F.lit(i) for i in range(3)]))
            ).drop("__j")
        elif shape == "mixed":
            keys = [
                c for c, _ in df.dtypes
                if c.endswith("key") or c.endswith("_id")
            ]
            basis = [F.col(k) for k in keys] or [
                F.col(c) for c, _ in df.dtypes
            ]
            dark = F.pmod(F.xxhash64(*basis), F.lit(2)) == 0
            df = df.select(
                *[
                    F.col(c)
                    if (c.endswith("key") or c.endswith("_id"))
                    else F.when(~dark, F.col(c))
                    .otherwise(F.lit(None).cast(dt))
                    .alias(c)
                    for c, dt in df.dtypes
                ]
            )
        else:
            raise SystemExit(f"unknown shape {shape!r}")
        df.coalesce(1).write.mode("overwrite").parquet(f"{out}/{t}.parquet")


def audit(spark, data_dir: str, shape: str) -> list[tuple[str, str]]:
    from comperhensive_bigdata_analysis__spark import plans

    failed = []
    names = sorted(plans.QUERIES)
    for i, name in enumerate(names):
        try:
            plans.QUERIES[name](spark, data_dir).collect()
        except Exception as e:  # noqa: BLE001 — the audit IS the handler
            failed.append((name, repr(e)[:200]))
            print(f"[{i + 1}/{len(names)}] FAIL  {name}", flush=True)
    print(
        f"{shape}: {len(names) - len(failed)}/{len(names)} ok, "
        f"{len(failed)} failed"
    )
    for name, err in failed:
        print(f"  FAILED {name}: {err}")
    return failed


def main() -> None:
    from comperhensive_bigdata_analysis__spark.session import get_spark

    shapes = sys.argv[1:] or ["empty", "null", "one", "dup", "mixed"]
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("cba-degenerate-audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    any_failed = False
    for shape in shapes:
        d = _derive(spark, src, f"/tmp/cba_degen_{shape}", shape)
        any_failed |= bool(audit(spark, d, shape))
    spark.stop()
    sys.exit(1 if any_failed else 0)


if __name__ == "__main__":
    main()
