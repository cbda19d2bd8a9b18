import pytest

from perfbench import stats


def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(xs, 50) == 3.0
    assert stats.nearest_rank(xs, 100) == 5.0
    assert stats.nearest_rank(xs, 0) == 1.0
    assert stats.nearest_rank(xs, 81) == 5.0  # rank ceil(4.05) = 5
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)


def test_rank_is_exact():
    # 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    assert stats.rank(10_000, 99.9) == 9990
    assert stats.rank(1000, 99) == 990
    assert stats.rank(3, 50) == 2


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99), (9999, 99), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.samples_beyond(n, want) >= 10
        higher = [p for p in stats.PERCENTILE_LADDER if p > want]
        assert all(stats.samples_beyond(n, p) < 10 for p in higher)


def test_tail_percentile_threshold_is_a_parameter():
    assert stats.tail_percentile(4, min_beyond=2) == 50
    assert stats.tail_percentile(8, min_beyond=2) == 75


def test_order_digest_ignores_input_order_but_not_fields():
    rows = [(1, 0, "https://a/x"), (1, 1, "https://b/y"), (2, 2, "https://a/z")]
    d = stats.order_digest(rows)
    assert d == stats.order_digest(list(reversed(rows)))
    assert d != stats.order_digest([(1, 0, "https://a/x"), (1, 2, "https://b/y"), (2, 2, "https://a/z")])
    assert d != stats.order_digest([(1, 0, "https://a/x"), (2, 1, "https://b/y"), (2, 2, "https://a/z")])
    assert d != stats.order_digest(rows[:2])
    assert len(d) == 16


def test_set_digest_counts_duplicates_not_order():
    assert stats.set_digest(["b", "a"]) == stats.set_digest(["a", "b"])
    assert stats.set_digest(["a", "b"]) != stats.set_digest(["a", "b", "b"])
    assert stats.set_digest([]) != stats.set_digest([""])
    # the separator keeps item boundaries: ["ab"] is not ["a", "b"]
    assert stats.set_digest(["ab"]) != stats.set_digest(["a", "b"])
