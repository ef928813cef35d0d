"""The benchmark's own accounting: Harrell-Davis percentile, failure
share, span self time and Spark counter deltas. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from accounting import (  # noqa: E402
    JobInfo,
    OpRecord,
    Span,
    call_counts,
    beta_cdf,
    failed_share,
    harrell_davis,
    self_times,
    spark_deltas,
    total_times,
)
from tracing import Tracer  # noqa: E402


# ---- Harrell-Davis percentile ------------------------------------------------

@pytest.mark.parametrize("x, a, b, want", [
    (0.3, 1.0, 1.0, 0.3),
    (0.3, 3.0, 1.0, 0.3 ** 3),
    (0.3, 1.0, 4.0, 1 - 0.7 ** 4),
    (0.8, 2.0, 2.0, 3 * 0.8 ** 2 - 2 * 0.8 ** 3),
    (0.0, 2.5, 0.5, 0.0),
    (1.0, 2.5, 0.5, 1.0),
])
def test_beta_cdf_closed_forms(x, a, b, want):
    assert beta_cdf(x, a, b) == pytest.approx(want, abs=1e-12)


def test_beta_cdf_symmetry():
    # I_x(a, b) = 1 - I_{1-x}(b, a), on both branches of the continued fraction
    for x in (0.05, 0.5, 0.93):
        assert beta_cdf(x, 24.3, 2.7) + beta_cdf(1 - x, 2.7, 24.3) == pytest.approx(1.0, abs=1e-12)


def test_harrell_davis_of_a_constant_is_the_constant():
    # the weights sum to one
    assert harrell_davis([1.5] * 27, 90) == pytest.approx(1.5, abs=1e-12)


def test_harrell_davis_median_of_a_symmetric_sample_is_its_centre():
    assert harrell_davis([float(i) for i in range(18)], 50) == pytest.approx(8.5, abs=1e-9)


@pytest.mark.parametrize("n", [18, 27, 40])
def test_harrell_davis_p90_sits_in_the_top_of_the_sample(n):
    # on 1..n the estimate is the mean rank ceil(n U), U ~ Beta: about 0.9 n + 1/2
    xs = [float(i) for i in range(1, n + 1)]
    v = harrell_davis(xs, 90)
    assert v == pytest.approx(0.9 * n + 0.5, abs=0.01)
    assert sorted(xs)[n // 2] < v <= xs[-1]


def test_harrell_davis_is_order_independent_and_monotone_in_pct():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0] * 4
    assert harrell_davis(xs, 90) == pytest.approx(harrell_davis(sorted(xs), 90))
    assert harrell_davis(xs, 50) < harrell_davis(xs, 75) < harrell_davis(xs, 90)


def test_harrell_davis_follows_the_slow_ops_smoothly():
    # three cycles of nine ops whose two slowest kinds take ~2 s: raising one
    # of those ops by 0.3 s moves the estimate by a fraction of that, and
    # lowering the fastest op does not move it at all
    base = [1.0, 2.0, 1.2, 1.1, 0.3, 0.8, 2.1, 1.3, 1.0] * 3
    v = harrell_davis(base, 90)
    up = list(base)
    up[6] += 0.3
    assert 0 < harrell_davis(up, 90) - v < 0.3
    down = list(base)
    down[4] -= 0.1
    assert harrell_davis(down, 90) == pytest.approx(v, abs=1e-6)


def test_harrell_davis_edges():
    assert harrell_davis([4.0], 90) == 4.0
    with pytest.raises(ValueError):
        harrell_davis([], 90)
    for pct in (0, 100):
        with pytest.raises(ValueError):
            harrell_davis([1.0, 2.0], pct)


# ---- failed share ------------------------------------------------------------

def _op(error=None, mismatch=None, known=None):
    return OpRecord("op", 1.0, 1.0, error=error, mismatch=mismatch, known_defect=known)


def test_failed_share_counts_raised_and_mismatched():
    ops = [_op(), _op(error="boom"), _op(mismatch="wrong"), _op()]
    assert failed_share(ops) == 0.5


def test_failed_share_counts_known_defects():
    ops = [_op(), _op(error="DATATYPE_MISMATCH", known="min/max cast"), _op(), _op()]
    assert failed_share(ops) == 0.25


def test_failed_share_needs_ops():
    with pytest.raises(ValueError):
        failed_share([])


# ---- self time ---------------------------------------------------------------

def test_self_time_subtracts_nested_children():
    spans = [
        Span(1, None, "outer", 0.0, 10.0),
        Span(2, 1, "child", 1.0, 3.0),
        Span(3, 1, "child", 5.0, 6.0),
        Span(4, 2, "grandchild", 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st["outer"] == pytest.approx(7.0)
    assert st["child"] == pytest.approx(2.0)  # (2 - 1) + 1
    assert st["grandchild"] == pytest.approx(1.0)
    assert call_counts(spans) == {"outer": 1, "child": 2, "grandchild": 1}
    assert total_times(spans) == pytest.approx({"outer": 10.0, "child": 3.0, "grandchild": 1.0})


def test_self_time_counts_overlapping_children_once():
    # two children from worker threads overlap in [2, 4]
    spans = [
        Span(1, None, "parent", 0.0, 10.0),
        Span(2, 1, "worker", 1.0, 4.0),
        Span(3, 1, "worker", 2.0, 6.0),
    ]
    assert self_times(spans)["parent"] == pytest.approx(5.0)  # 10 - |[1, 6]|


def test_self_time_clips_children_outside_the_parent():
    spans = [Span(1, None, "p", 2.0, 5.0), Span(2, 1, "c", 4.0, 9.0)]
    assert self_times(spans)["p"] == pytest.approx(2.0)


def test_tracer_records_nesting_and_explicit_parents():
    tr = Tracer()
    tr.enabled = True

    def callback(parent):
        with tr.span("callback", parent=parent):
            time.sleep(0.01)

    wrapped = tr.wrap("leaf", lambda: time.sleep(0.01))
    with tr.span("root") as root:
        wrapped()
        t = threading.Thread(target=callback, args=(root,))
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["leaf"].parent == root
    assert by_name["callback"].parent == root  # another thread, explicit parent
    root_span = by_name["root"]
    children = sum(by_name[n].end - by_name[n].start for n in ("leaf", "callback"))
    assert self_times(tr.spans)["root"] == pytest.approx(
        root_span.end - root_span.start - children)


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    calls = []
    wrapped = tr.wrap("f", lambda: calls.append(1), after=lambda _r: tr.count("n"))
    wrapped()
    with tr.span("s"):
        pass
    assert calls == [1] and tr.spans == [] and tr.counts == {}


# ---- Spark counter deltas ----------------------------------------------------

def test_spark_deltas_count_jobs_by_id_and_sum_retained():
    jobs = [JobInfo(4, 1, 8), JobInfo(5, 2, 12), JobInfo(6, 3, 4), JobInfo(9, 1, 1)]
    d = spark_deltas(4, jobs, 8)
    # jobs 5..8 ran; 7 and 8 are no longer retained, 9 ran after the read
    assert d == {"jobs": 4, "stages": 5, "tasks": 16}


def test_spark_deltas_no_jobs():
    assert spark_deltas(10, [JobInfo(10, 2, 2)], 10) == {"jobs": 0, "stages": 0, "tasks": 0}
