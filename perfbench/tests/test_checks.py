"""The DuckDB checks accept right outputs and catch a planted wrong row."""

from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks

START = datetime(2024, 1, 1, tzinfo=timezone.utc)


@pytest.fixture()
def fixture(tmp_path):
    ts = [START + timedelta(hours=h) for h in range(48)]
    table = pa.table(
        {
            "event_type": ["click"] * 48 + ["view"] * 48,
            "uid": ["1"] * 24 + ["2"] * 24 + ["1"] * 48,
            "ts": pa.array([t.replace(tzinfo=None) for t in ts * 2], pa.timestamp("us")),
            "value": [float(i % 7) for i in range(96)],
        }
    )
    path = tmp_path / "series.parquet"
    pq.write_table(table, path)
    return checks.SeriesFixture(str(path)), table


def _rows(table, event_type, uid, start, end):
    out = []
    for row in table.to_pylist():
        t = row["ts"].replace(tzinfo=timezone.utc)
        if row["event_type"] == event_type and row["uid"] == uid and start <= t < end:
            out.append((checks.epoch_us(t), row["value"]))
    return out


def _summary(rows):
    return {
        "rows": len(rows),
        "value_sum": sum(v for _, v in rows),
        "ts_sum": sum(t for t, _ in rows),
    }


def test_get_data_right_and_planted_wrong_row(fixture):
    series, table = fixture
    tags = {"event_type": "click", "uid": "2"}
    start, end = START, START + timedelta(days=2)
    rows = _rows(table, "click", "2", start, end)
    assert len(rows) == 24
    assert series.check_get_data(tags, start.isoformat(), end.isoformat(), _summary(rows)) is None
    planted = list(rows)
    planted[5] = (planted[5][0], planted[5][1] + 1.0)
    assert series.check_get_data(tags, start.isoformat(), end.isoformat(), _summary(planted))
    assert series.check_get_data(tags, start.isoformat(), end.isoformat(), _summary(rows[1:]))


def test_plot_right_and_planted_wrong_point(fixture):
    series, table = fixture
    tags = {"event_type": "view", "uid": "1"}
    start, end = START, START + timedelta(days=2)
    rows = _rows(table, "view", "1", start, end)
    # 4 buckets of 12 points; keep each bucket's min and max point
    points = []
    for b in range(4):
        bucket = rows[b * 12 : (b + 1) * 12]
        points += [min(bucket, key=lambda p: p[1]), max(bucket, key=lambda p: p[1])]
    assert series.check_plot(tags, start.isoformat(), end.isoformat(), 4, points) is None
    moved = list(points)
    moved[0] = (moved[0][0], moved[0][1] + 0.5)
    assert "not in the data" in series.check_plot(
        tags, start.isoformat(), end.isoformat(), 4, moved
    )
    assert "min/max" in series.check_plot(
        tags, start.isoformat(), end.isoformat(), 4, points[:1] + points[2:]
    )


def test_search_catches_a_missing_series(fixture):
    series, _ = fixture
    found = [{"event_type": "click", "uid": "1"}, {"event_type": "click", "uid": "2"}]
    assert series.check_search({"event_type": "click"}, found) is None
    assert series.check_search({"event_type": "click"}, found[:1])
    assert series.check_search({"event_type": "click"}, found + found[:1])
