"""The tail-percentile rule: a level is reported only with at least ten
samples beyond it."""

from perfbench import stats


def test_p95_needs_ten_samples_beyond():
    assert stats.beyond(200, 95.0) == 10
    assert stats.tail(list(range(200)))[0] == 95.0
    # one sample fewer leaves nine beyond p95: the rule falls back to p90
    assert stats.beyond(199, 95.0) == 9
    assert stats.tail(list(range(199)))[0] == 90.0


def test_highest_level_is_chosen():
    assert stats.tail(list(range(10_000)))[0] == 99.9
    assert stats.tail(list(range(1_000)))[0] == 99.0


def test_too_few_samples_give_no_tail():
    assert stats.tail(list(range(39))) is None
    assert stats.tail(list(range(40)))[0] == 75.0


def test_nearest_rank_value():
    values = [float(v) for v in range(1, 201)]
    assert stats.nearest_rank(values, 95.0) == 190.0
    assert stats.nearest_rank(values, 50.0) == 100.0


def test_summarize_names_the_level_it_reached():
    report = stats.summarize("get_data", [float(v) for v in range(100)])
    assert report["get_data_p50_ms"]["n"] == 100
    assert "get_data_p95_ms" not in report
    assert report["get_data_p90_ms"]["beyond"] == 10
    report = stats.summarize("get_data", [float(v) for v in range(1_000)])
    assert report["get_data_p95_ms"]["value"] == 949.0
