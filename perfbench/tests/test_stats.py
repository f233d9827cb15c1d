"""The tail percentile rule and the median."""

import pytest

import stats


@pytest.mark.parametrize(
    "n, rank",
    [(100, 90), (1000, 990), (30, 20), (22, 12), (21, 11), (12, 7), (2, 2), (1, 1)],
)
def test_tail_rank(n, rank):
    t = stats.tail([float(i) for i in range(1, n + 1)])
    assert t["value"] == float(rank)
    assert t["samples"] == n
    assert t["samples_beyond"] == n - rank
    assert t["percentile"] == round(100.0 * rank / n, 2)


def test_tail_keeps_ten_beyond_when_it_can():
    for n in range(22, 200):
        t = stats.tail(list(range(n)))
        assert t["samples_beyond"] == 10


def test_tail_never_below_median():
    for n in range(1, 30):
        values = [float(i) for i in range(n)]
        assert stats.tail(values)["value"] >= stats.median(values)


def test_tail_ignores_order():
    assert stats.tail([5.0, 1.0, 3.0] * 10) == stats.tail(sorted([5.0, 1.0, 3.0] * 10))


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_gmean():
    assert stats.gmean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.gmean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        stats.gmean([])


def test_slowest_mean_takes_the_slowest_quarter():
    assert stats.slowest_mean([1.0, 2.0, 3.0, 4.0]) == 4.0
    # ceil(0.25 * 10) = 3 values: 10, 9 and 8
    assert stats.slowest_mean([float(i) for i in range(1, 11)]) == 9.0
    assert stats.slowest_mean([7.0]) == 7.0
    assert stats.slowest_mean([3.0, 1.0, 2.0], share=1.0) == 2.0
    with pytest.raises(ValueError):
        stats.slowest_mean([])


def test_slowest_mean_moves_smoothly_when_values_swap_ranks():
    # the two slowest values trade places: the mean of the top quarter
    # moves by the small change, not by the gap between ranks
    a = [100.0, 200.0, 900.0, 1000.0, 1001.0, 3000.0, 3001.0, 5000.0]
    b = a[:4] + [1001.0, 3001.0, 3000.5, 5000.0]
    assert abs(stats.slowest_mean(a) - stats.slowest_mean(b)) < 1.0


def test_summary_takes_each_operation_at_its_median_over_rounds():
    import run

    recs = [
        run.Record(0, 0, "query", "a", 0.1, []),
        run.Record(1, 0, "query", "b", 0.4, []),
        run.Record(2, 1, "query", "a", 0.1, []),
        run.Record(3, 1, "query", "b", 0.4, []),
    ]
    s = run.summarize(recs, 1.0)
    assert s["op_gmean_ms"] == pytest.approx(200.0)
    assert s["op_slow_quarter_ms"] == pytest.approx(400.0)
    assert s["ops_per_s"] == 4.0
    assert s["ms_by_round"] == pytest.approx([500.0, 500.0])
    assert s["wall_clock"]["op_gmean_ms"] == pytest.approx(200.0)


def test_latency_less_stolen_time():
    import box
    import run

    # user, nice, system, idle, iowait, irq, softirq, steal
    before = [100, 0, 20, 500, 5, 0, 0, 10]
    after = [160, 0, 30, 900, 5, 0, 0, 40]
    assert box.stolen_fraction(before, after) == pytest.approx(30 / 100)
    assert box.stolen_fraction(before, before) == 0.0
    recs = [
        run.Record(0, 0, "query", "a", 0.2, [], stolen=0.5),
        run.Record(1, 0, "query", "b", 0.1, []),
    ]
    assert recs[0].ms == pytest.approx(100.0)
    s = run.summarize(recs, 0.3)
    assert s["op_gmean_ms"] == pytest.approx(100.0)
    assert s["ops_per_s"] == pytest.approx(10.0)
    assert s["wall_clock"]["op_gmean_ms"] == pytest.approx(2 ** 0.5 * 100.0)
    assert s["stolen_by_round"] == pytest.approx([0.1 / 0.3])


def test_rounds_follow_seconds_and_round_length():
    import run

    class W:
        seconds_per_round = 5.0

    assert [run.rounds(W, s) for s in (1, 5, 7, 10, 12.6, 20)] == [1, 1, 1, 2, 3, 4]
