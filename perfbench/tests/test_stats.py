import pytest

from perfbench import stats


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 99) == 99
    assert stats.percentile([7.0], 90) == 7.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    # 100 samples: p90 leaves exactly 10 above it, p91 only 9
    assert stats.tail_percentile(100) == 90
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(100, 91) == 9
    # 1000 samples: p99 leaves 10 above it
    assert stats.tail_percentile(1000) == 99
    # 40 samples: p75 leaves 10, p76 leaves 9
    assert stats.tail_percentile(40) == 75
    # 20 samples: only the median leaves 10 above it
    assert stats.tail_percentile(20) == 50
    # fewer than 20 samples: no percentile >= 50 has 10 beyond
    assert stats.tail_percentile(19) is None
    for n in range(20, 2000, 37):
        p = stats.tail_percentile(n)
        assert stats.beyond(n, p) >= stats.MIN_BEYOND
        if p < 99:
            assert stats.beyond(n, p + 1) < stats.MIN_BEYOND


def test_failed_frac_counts_each_operation_once():
    o = stats.Outcomes()
    ops = [o.attempt() for _ in range(8)]
    assert o.failed_frac == 0.0
    o.fail(ops[2])          # raised
    o.fail(ops[5])          # wrong output
    o.fail(ops[5])          # wrong output found twice: still one failure
    assert (o.attempted, o.failed) == (8, 2)
    assert o.failed_frac == 0.25
    with pytest.raises(ValueError):
        o.fail(8)           # never attempted


def test_failed_frac_with_nothing_attempted_is_zero():
    assert stats.Outcomes().failed_frac == 0.0
