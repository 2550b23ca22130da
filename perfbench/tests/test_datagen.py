"""The generator gives the same inputs for the same seed."""

from perfbench import datagen


def test_verbs_stream_is_deterministic():
    first = datagen.verbs_stream(7, 500)
    assert first == datagen.verbs_stream(7, 500)
    assert first != datagen.verbs_stream(8, 500)


def test_verbs_stream_mix_and_skew():
    calls = datagen.verbs_stream(3, 4_000)
    block = sum(count for _, count in datagen.VERB_BLOCK)
    for start in range(0, len(calls), block):
        verbs = [c["verb"] for c in calls[start : start + block]]
        assert {v: verbs.count(v) for v, _ in datagen.VERB_BLOCK} == dict(datagen.VERB_BLOCK)
    selectors = [
        (c["tags"]["event_type"], c["tags"]["uid"]) for c in calls if "uid" in c["tags"]
    ]
    counts = sorted((selectors.count(s) for s in set(selectors)), reverse=True)
    # Zipf head: the most frequent selector repeats far more than the median
    assert counts[0] > 20 * counts[len(counts) // 2]


def test_export_cycle_is_deterministic_and_covers_the_ladder():
    cycle = datagen.export_cycle(5, 0)
    assert cycle == datagen.export_cycle(5, 0)
    assert cycle != datagen.export_cycle(5, 1)
    assert sum(1 for c in cycle if c["verb"] == "sql") == len(datagen.SQL_ROW_LADDER)
    assert sum(1 for c in cycle if c["verb"] == "get_data") == len(datagen.EVENT_TYPES)


def test_tables_are_deterministic():
    import numpy as np

    first = datagen.make_tables(np.random.default_rng(datagen.DATA_SEED))
    second = datagen.make_tables(np.random.default_rng(datagen.DATA_SEED))
    assert first.keys() == second.keys()
    for name in first:
        assert first[name].equals(second[name]), name
    assert first["lineitem"].num_rows == 600_000
    assert first["events"].num_rows == 100_000


def test_analytics_order_is_seeded():
    queries = [f"q{i}" for i in range(18)]
    assert datagen.analytics_order(1, 3, queries) == datagen.analytics_order(1, 3, queries)
    assert datagen.analytics_order(1, 3, queries) != datagen.analytics_order(2, 3, queries)
