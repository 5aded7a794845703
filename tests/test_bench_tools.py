"""Decision-logic tests for the bench adjudication tooling — the
protocol rules (bench_compare's calibration gate, adjudicate's verdict
table) are load-bearing for round-over-round performance claims, so
they are pinned as pure functions here, together with the shared
measurement core every tool times and reads plans through (bench's
interleave and marker-keyed corpus reuse, scale_audit's plan reader).
No Spark session needed."""

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    # tools insert REPO into sys.path on import; keep it idempotent
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


bench_compare = _load("bench_compare")
adjudicate = _load("adjudicate")
scale_audit = _load("scale_audit")
sys.path.insert(0, REPO)
import bench  # noqa: E402


# --- bench_compare calibration gate (r11 ADVICE #1) -----------------


def test_calibration_stable_stamp_is_vetted():
    v, vetted, why = bench_compare._calibration(
        {"env_end": {"calibration_count_sec": 0.057, "calibration_mad_sec": 0.0018}}
    )
    assert v == 0.057 and vetted and not why


def test_calibration_legacy_stamp_returns_unvetted():
    """Pre-r11 artifact: value usable, but the caller must band-check
    the ratio before trusting it."""
    v, vetted, why = bench_compare._calibration(
        {"env_end": {"calibration_count_sec": 0.0619}}
    )
    assert v == 0.0619 and not vetted and not why


def test_calibration_unstable_mad_is_rejected():
    v, vetted, why = bench_compare._calibration(
        {"env_end": {"calibration_count_sec": 0.06, "calibration_mad_sec": 0.02}}
    )
    assert v is None and not vetted and "unstable" in why


def test_calibration_missing_stamp_is_rejected():
    v, vetted, why = bench_compare._calibration({})
    assert v is None and not vetted and "no env_end" in why


def test_committed_r10_r11_pair_normalizes_via_the_clamp_path():
    """The pair the feature was built for: r10 is a legacy stamp (no
    MAD) but the ratio 0.921 sits inside the sanity band, so the
    committed comparison stays NORMALIZED — with the vetting path
    stated — rather than silently trusting or silently dropping it."""
    section = bench_compare.build_section("BENCH_r10.json", "BENCH_r11.json")
    assert "calibration-NORMALIZED" in section
    assert "legacy stamp(s) without MAD accepted" in section
    assert "0.921" in section


# --- adjudicate verdict rule (r11 verdict 'What's wrong #2') ---------

OLD, NEW = "BENCH_rOLD.json", "BENCH_rNEW.json"


def _v(live_ratio, old_r, new_r, live_abs, old_abs):
    return adjudicate._verdict(
        live_ratio, [(OLD, old_r), (NEW, new_r)], live_abs, old_abs
    )


def test_verdict_matches_old_round_exonerates_environment():
    # q8's shape: live 2.12 vs committed 2.19 / 2.53
    v = _v(2.12, 2.19, 2.53, 0.62, 0.71)
    assert "exonerated" in v and OLD in v


def test_verdict_regression_needs_ratio_and_absolute_to_agree():
    # q24's shape: live ratio near the new round AND absolute above
    # the old committed +15% -> REAL
    v = _v(7.2, 5.71, 7.55, 2.49, 1.851)
    assert "REAL" in v


def test_verdict_anchor_drift_exonerates_on_absolutes():
    # q22's shape: ratio matches the new round but the live absolute
    # sits within tolerance of the old committed median
    v = _v(6.22, 5.05, 6.05, 1.794, 1.636)
    assert "anchor-drift" in v and "exonerated" in v


def test_verdict_indistinguishable_committed_ratios():
    v = _v(3.0, 2.9, 3.1, 1.0, 1.0)
    assert "never a per-plan signal" in v


def test_verdict_matches_neither():
    # q1@8x's shape: live between two far-apart committed ratios
    v = _v(3.04, 3.58, 2.42, 1.07, 1.16)
    assert "neither" in v


def test_verdict_missing_committed_ratio_is_not_a_match():
    v = _v(3.0, None, None, 1.0, None)
    assert "neither" in v


def test_verdict_no_old_absolute_is_insufficient_baseline():
    # the FLAGged row is absent from the old artifact: a ratio match to
    # the new round must NOT escalate to "REAL regression" when there
    # is no baseline absolute to corroborate it (r12 ADVICE #2), and
    # the message must not interpolate None
    v = _v(7.2, None, 7.55, 2.49, None)
    assert "insufficient" in v
    assert "REAL" not in v
    assert "None" not in v


# --- shared measurement core (bench.py, tools/scale_audit.py) --------


class _FakeTime:
    """Stand-in for bench's ``time`` module: the clock only moves when
    a fake action advances it, so every sample is exact."""

    def __init__(self):
        self.now = 0.0

    def perf_counter(self):
        return self.now


def test_interleave_warms_up_then_runs_pairs_in_abba_order(monkeypatch):
    clock = _FakeTime()
    monkeypatch.setattr(bench, "time", clock)
    calls = []

    def act(name, secs):
        def run():
            calls.append(name)
            clock.now += secs

        return run

    r = bench.interleave(
        act("a", 1.0), act("b", 2.0), 3, 2, before=lambda: calls.append("|")
    )
    # warm-ups (A then B, no hook), then pairs A,B / B,A / A,B with the
    # hook ahead of every timed call
    assert calls == ["a", "b", "a", "b"] + [
        "|", "a", "|", "b",
        "|", "b", "|", "a",
        "|", "a", "|", "b",
    ]
    assert r["a"] == [1.0, 1.0, 1.0]
    assert r["b"] == [2.0, 2.0, 2.0]
    assert r["ratios"] == [0.5, 0.5, 0.5]
    assert r["ratio_median"] == 0.5 and r["ratio_mad"] == 0.0


def test_interleave_ratio_median_and_mad(monkeypatch):
    clock = _FakeTime()
    monkeypatch.setattr(bench, "time", clock)
    a_secs = iter([2.0, 3.0, 8.0])

    def a():
        clock.now += next(a_secs)

    def b():
        clock.now += 1.0

    r = bench.interleave(a, b, 3, 0)
    assert r["a"] == [2.0, 3.0, 8.0]
    assert r["ratios"] == [2.0, 3.0, 8.0]
    assert r["ratio_median"] == 3.0 and r["ratio_mad"] == 1.0


def test_build_once_reuses_until_the_key_changes(tmp_path):
    out = str(tmp_path / "corpus")
    builds = []

    def build():
        os.makedirs(out, exist_ok=True)
        open(os.path.join(out, "part-0.parquet"), "w").close()
        builds.append(1)

    assert bench._build_once(out, "sf|8", build) == out
    assert bench._build_once(out, "sf|8", build) == out
    assert len(builds) == 1
    bench._build_once(out, "sf|2", build)
    assert len(builds) == 2
    assert open(os.path.join(out, "_MARKER")).read() == "sf|2"


_FINAL_PLAN = """== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- Union
      :- *(4) HashAggregate(keys=[], functions=[count(1)])
      :  +- ShuffleQueryStage 2
      :     +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=361]
      :        +- *(3) BroadcastHashJoin [l_orderkey#11L], [o_orderkey#5L], LeftAnti, BuildRight, false
      :           :- *(3) ColumnarToRow
      :           :  +- FileScan parquet [l_orderkey#11L] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/tpch/lineitem.parquet], PartitionFilters: []
      :           +- BroadcastQueryStage 0
      :              +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=162]
      :                 +- *(1) ColumnarToRow
      :                    +- FileScan parquet [o_orderkey#5L] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/tpch/orders.parquet], PartitionFilters: []
      +- *(5) HashAggregate(keys=[], functions=[count(1)])
         +- ShuffleQueryStage 1
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=192]
               +- *(2) ColumnarToRow
                  +- FileScan parquet [o_custkey#78L] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/tpch/orders.parquet], PartitionFilters: []
+- == Initial Plan ==
   Union
   :- HashAggregate(keys=[], functions=[count(1)])
   :  +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=107]
   :     +- BroadcastHashJoin [l_orderkey#11L], [o_orderkey#5L], LeftAnti, BuildRight, false
   :        :- FileScan parquet [l_orderkey#11L] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/tpch/lineitem.parquet], PartitionFilters: []
   :        +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=102]
   :           +- FileScan parquet [o_orderkey#5L] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/tpch/orders.parquet], PartitionFilters: []
   +- HashAggregate(keys=[], functions=[count(1)])
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=120]
         +- FileScan parquet [o_custkey#78L] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/tpch/orders.parquet], PartitionFilters: []
"""


class _ExplainedPlan:
    """Stand-in DataFrame whose explain prints a canned plan."""

    def __init__(self, text):
        self.text = text
        self.modes = []

    def explain(self, mode):
        self.modes.append(mode)
        print(self.text, end="")


def test_plan_reader_counts_final_plan_scans_per_table():
    df = _ExplainedPlan(_FINAL_PLAN)
    final = scale_audit.explain_text(df, final=True)
    assert df.modes == ["simple"]
    assert "== Initial Plan ==" not in final
    assert scale_audit.scans_by_table(final) == {"lineitem": 1, "orders": 2}
    assert final.count("Scan parquet") == 3
    # uncut, the initial plan's scans count too
    whole = scale_audit.explain_text(df, "formatted")
    assert df.modes == ["simple", "formatted"]
    assert scale_audit.scans_by_table(whole) == {"lineitem": 2, "orders": 4}
