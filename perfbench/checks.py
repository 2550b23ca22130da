"""Correctness checks of the benchmark's outputs against DuckDB.

Every check reads the same parquet files the server reads, through
DuckDB, and runs after the timed region.  Each returns None when the
output is right, else a one-line description of the mismatch.

- get_data: row count, value sum and timestamp sum of the range;
- get_plot_data: every returned point is a point of the series in the
  range, and each bucket's min and max match the data's;
- search: the returned series are exactly the matching tag combinations;
- sql export: row count and ``l_extendedprice`` sum of the date range;
- analytics: row count of each query against its ``workloads.ORACLES``
  statement.
"""

from __future__ import annotations

import math
import os
from datetime import datetime
from typing import Dict, Iterable, Optional

import duckdb
import numpy as np

from perfbench import datagen


def epoch_us(value: str | datetime) -> int:
    if isinstance(value, str):
        value = datetime.fromisoformat(value)
    return round(value.timestamp() * 1_000_000)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class SeriesFixture:
    """The row source's rows, read through DuckDB."""

    def __init__(self, path: str):
        rows = duckdb.sql(
            f"SELECT event_type, uid, epoch_us(ts) AS ts_us, value "
            f"FROM read_parquet('{path}')"
        ).fetchnumpy()
        self.columns = {
            "event_type": np.asarray(rows["event_type"], dtype=object),
            "uid": np.asarray(rows["uid"], dtype=object),
        }
        self.ts = np.asarray(rows["ts_us"], dtype=np.int64)
        self.value = np.asarray(rows["value"], dtype=np.float64)

    def mask(self, tags: Dict[str, str], start_us: int, end_us: int) -> np.ndarray:
        keep = (self.ts >= start_us) & (self.ts < end_us)
        for key, value in tags.items():
            keep &= self.columns[key] == value
        return keep

    def check_get_data(
        self, tags: Dict[str, str], start: str, end: str, summary: dict
    ) -> Optional[str]:
        keep = self.mask(tags, epoch_us(start), epoch_us(end))
        rows = int(keep.sum())
        if summary["rows"] != rows:
            return f"get_data {tags}: {summary['rows']} rows, expected {rows}"
        if summary["ts_sum"] != int(self.ts[keep].sum()):
            return f"get_data {tags}: timestamp checksum differs"
        expected = float(self.value[keep].sum())
        if not _close(summary["value_sum"], expected):
            return f"get_data {tags}: value sum {summary['value_sum']}, expected {expected}"
        return None

    def check_plot(
        self,
        tags: Dict[str, str],
        start: str,
        end: str,
        interval_count: int,
        points: Iterable[tuple[int, float]],
    ) -> Optional[str]:
        start_us, end_us = epoch_us(start), epoch_us(end)
        keep = self.mask(tags, start_us, end_us)
        ts, value = self.ts[keep], self.value[keep]
        present = set(zip(ts.tolist(), value.tolist()))
        span = max(end_us - start_us, 1)

        def bucket(t: int) -> int:
            return min((t - start_us) * interval_count // span, interval_count - 1)

        got: Dict[int, list] = {}
        for point in points:
            if point not in present:
                return f"get_plot_data {tags}: point {point} is not in the data"
            got.setdefault(bucket(point[0]), []).append(point[1])
        want: Dict[int, list] = {}
        for t, v in zip(ts.tolist(), value.tolist()):
            want.setdefault(bucket(t), []).append(v)
        if got.keys() != want.keys():
            return f"get_plot_data {tags}: buckets differ"
        for b, values in want.items():
            if min(got[b]) != min(values) or max(got[b]) != max(values):
                return f"get_plot_data {tags}: bucket {b} min/max differ"
        return None

    def check_search(
        self, tags: Dict[str, str], found: Iterable[Dict[str, str]]
    ) -> Optional[str]:
        keep = np.ones(len(self.ts), dtype=bool)
        for key, value in tags.items():
            keep &= self.columns[key] == value
        expected = set(
            zip(self.columns["event_type"][keep].tolist(), self.columns["uid"][keep].tolist())
        )
        got = [(t.get("event_type"), t.get("uid")) for t in found]
        if len(got) != len(set(got)) or set(got) != expected:
            return f"search {tags}: {len(got)} series, expected {len(expected)}"
        return None


def check_sql_export(lineitem_path: str, args: Dict[str, str], summary: dict) -> Optional[str]:
    rows, total = duckdb.execute(
        "SELECT count(*), coalesce(sum(l_extendedprice), 0) "
        f"FROM read_parquet('{lineitem_path}') "
        "WHERE l_shipdate >= CAST(? AS TIMESTAMP) AND l_shipdate < CAST(? AS TIMESTAMP)",
        [args["lo"], args["hi"]],
    ).fetchone()
    if summary["rows"] != rows:
        return f"sql {args}: {summary['rows']} rows, expected {rows}"
    if not _close(summary["value_sum"], float(total)):
        return f"sql {args}: l_extendedprice sum {summary['value_sum']}, expected {total}"
    return None


def oracle_row_counts(tables_dir: str, queries: Iterable[str]) -> Dict[str, int]:
    """Row count of each query's DuckDB oracle (queries without an oracle
    are left out)."""
    from kukur_spark.workloads import ORACLES

    con = duckdb.connect()
    try:
        for table in datagen.TABLES:
            path = os.path.join(tables_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return {
            name: con.execute(f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()[0]
            for name in queries
            if name in ORACLES
        }
    finally:
        con.close()
