"""Tests of the benchmark's own pure logic (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from spans import Span, Tracer, min_samples, percentile, self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _stream(name: str, seed: int, n: int = 60):
    reqs = WORKLOADS[name]().requests(np.random.default_rng([seed, 1]))
    return [(r.key, r.kind, r.arg) for r in itertools.islice(reqs, n)]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_requests(name):
    assert _stream(name, 7) == _stream(name, 7)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_other_seed_other_requests(name):
    assert _stream(name, 7) != _stream(name, 8)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_periods_send_the_same_requests_for_any_seed(name):
    # literals cycle in seeded order, so over whole periods (2 rounds of
    # analyst_sql: the literal lists have 1 or 2 values) the seed changes
    # the order of the requests but not which requests are sent
    n = 2 * WORKLOADS[name].period
    keys = [sorted(k for k, _, _ in _stream(name, seed, n)) for seed in range(1, 6)]
    assert all(k == keys[0] for k in keys)


def test_seed_drives_inputs():
    def frames(seed):
        rng = np.random.default_rng([seed, 0])
        return inputs.plants_frame(rng, 200), inputs.timeseries_frame(rng)

    for a, b in zip(frames(3), frames(3)):
        assert a.equals(b)
    assert not frames(3)[0].equals(frames(4)[0])


def test_write_csv_is_seeded(tmp_path):
    paths = [tmp_path / f"{i}.csv" for i in range(3)]
    for path, seed in zip(paths, (3, 3, 4)):
        inputs.write_csv(path, inputs.plants_frame, seed, 50)
    a, b, c = (p.read_bytes() for p in paths)
    assert a == b != c


def test_each_round_holds_every_request_kind():
    n = WORKLOADS["analyst_sql"].round
    kinds = [k for _, k, _ in _stream("analyst_sql", 5, 2 * n)]
    assert sorted(kinds[:n]) == sorted(kinds[n:])
    assert len(set(kinds[:n])) == n == 20


def test_curation_round_is_odd():
    # an odd number of kinds keeps the median inside one kind's samples
    assert WORKLOADS["curation_batch"].round % 2 == 1


def test_percentile_refuses_fewer_than_ten_beyond():
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)
    assert 88 < percentile(list(range(100)), 0.9) < 91
    assert min_samples(0.9) == 100
    assert min_samples(0.75) == 40
    for q in (0.75, 0.8, 0.9):
        n = min_samples(q)
        percentile(list(range(n)), q)
        with pytest.raises(ValueError):
            percentile(list(range(n - 1)), q)


def test_percentile_is_smooth_across_a_gap():
    # two request kinds of 20 samples each: the median sits in the gap, and
    # moving the extreme sample of one kind moves the order-statistic median
    # by 0.2 but the estimate by far less
    fast = [1.0 + 0.01 * i for i in range(20)]
    slow = [2.0 + 0.01 * i for i in range(20)]
    moved = fast[:-1] + [1.6] + slow
    assert statistics.median(moved) - statistics.median(fast + slow) == pytest.approx(0.205)
    base = percentile(fast + slow, 0.5)
    assert 1.19 < base < 2.0
    assert abs(percentile(moved, 0.5) - base) < 0.205 / 3
    assert percentile([3.0] * 40, 0.75) == pytest.approx(3.0)
    # thousands of fast requests must not underflow the Beta weights
    assert percentile([float(i) for i in range(5000)], 0.5) == pytest.approx(2499.5, abs=5)


def test_self_time_subtracts_children():
    spans = [
        Span(0, "request", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a: the union counts once
        Span(3, "a.inner", 2.0, 3.0, 1, "r"),
        Span(4, "late", 9.0, 12.0, 0, "r"),  # clipped to its parent's end
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 10 - 5 - 1, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0})


def test_tracer_nests_and_records():
    tr = Tracer(True)
    with tr.span("request", "r1"):
        with tr.span("query.sql"):
            pass
        tr.record("plans.build", 0.0, 0.0)
    root, child, rec = tr.spans
    assert (child.parent, child.rid) == (root.sid, "r1")
    assert (rec.parent, rec.rid) == (root.sid, "r1")
    assert root.start <= child.start <= child.end <= root.end
    off = Tracer(False)
    with off.span("request", "r2"):
        off.record("x", 0.0, 1.0)
    assert off.spans == []
