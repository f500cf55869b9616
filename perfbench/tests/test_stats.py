"""The percentile rule: p75 only with at least 40 ops."""

import stats


def test_p75_omitted_below_forty_ops():
    assert stats.p75([1.0] * 39) is None
    assert stats.p75([]) is None


def test_p75_at_forty_ops():
    values = [float(i) for i in range(1, 41)]
    # inclusive quartiles of 1..40: Q3 = 30.25
    assert stats.p75(values) == 30.25
    assert stats.p75(list(reversed(values))) == 30.25
