import pytest

from stats import Outcomes, median, steady, tail


def test_tail_is_the_eleventh_largest():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    # ten samples (91..100) lie beyond the reported one
    assert value == 90
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0
    assert n == 100


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
    assert tail(xs) == tail(sorted(xs))


def test_tail_percentile_falls_as_samples_shrink():
    # 20 samples: the 11th largest is the 10th smallest -> percentile 50
    value, pct, n = tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)


def test_tail_with_too_few_samples_reports_the_max_and_count():
    value, pct, n = tail([0.3, 0.1, 0.2])
    assert (value, pct, n) == (0.3, 100.0, 3)
    # exactly `beyond` samples: still no percentile has ten beyond it
    assert tail(list(range(10)))[1] == 100.0
    # one more sample and the minimum qualifies
    assert tail(list(range(11))) == (0.0, 100.0 / 11, 11)


def test_tail_and_median_reject_empty():
    with pytest.raises(ValueError):
        tail([])
    with pytest.raises(ValueError):
        median([])


def test_failed_frac_counts_errors_per_operation():
    o = Outcomes()
    for _ in range(8):
        o.record("a")
    o.record("b", "boom")
    o.record("b")
    assert (o.attempted, o.failed) == (10, 1)
    assert o.failed_frac == pytest.approx(0.1)
    assert o.first_error == {"b": "boom"}


def test_wrong_result_fails_every_operation_of_that_query():
    o = Outcomes()
    for _ in range(3):
        o.record("a")
    o.record("b")
    o.mark_wrong("a", "a: got 1 want 2")
    # checked once, but all three runs of "a" returned the wrong answer
    assert (o.attempted, o.failed) == (4, 3)
    o.mark_wrong("a", "second reason is ignored")
    assert o.wrong == {"a": "a: got 1 want 2"}


def test_wrong_and_errored_are_not_double_counted():
    o = Outcomes()
    o.record("a", "boom")
    o.record("a")
    o.mark_wrong("a", "wrong")
    assert (o.attempted, o.failed) == (2, 2)


def test_no_operations_has_zero_failed_frac():
    assert Outcomes().failed_frac == 0.0


def test_steady_uses_each_kinds_median_over_rounds():
    # three rounds of the mix (a, b, b); one repetition of "a" stalled
    ops = [("a", 1.0, 10), ("b", 3.0, 10), ("b", 3.0, 10),
           ("a", 9.0, 10), ("b", 3.2, 10), ("b", 2.8, 10),
           ("a", 1.2, 10), ("b", 3.0, 10), ("b", 3.0, 10)]
    p50, rate = steady(ops)
    # per-kind medians: a 1.2, b 3.0; the stall moves neither figure
    assert p50 == 3.0
    assert rate == pytest.approx(90 / (3 * 1.2 + 6 * 3.0))


def test_steady_weights_kinds_by_how_often_they_run():
    p50, rate = steady([("a", 1.0, 5), ("b", 2.0, 5), ("a", 1.0, 5)])
    assert p50 == 1.0
    assert rate == pytest.approx(15 / 4.0)
    with pytest.raises(ValueError):
        steady([])
