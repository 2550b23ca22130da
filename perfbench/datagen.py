"""Seeded inputs for the gateway benchmark.

Two kinds of input are made here:

- **Tables.** An sf0.1-shaped copy of the engine's test schema (TPC-H-ish
  star schema plus ``events``, ``documents`` and ``embeddings``), written
  as parquet.  The tables come from one fixed data seed, so every run of
  the benchmark queries the same rows (building them takes about a
  second, outside every timed region).  ``series.parquet`` is the row-layout Kukur source derived
  from ``events``: tags ``event_type`` × ``uid`` (``user_id % 200``),
  about 1,000 series of about 100 points.
- **Call streams.** What the load process sends, drawn from the run's
  ``--seed``: the Zipf-skewed verb mix of ``verbs_zipf``, the bulk calls
  of ``export_bulk`` and the query order of ``analytics_sf01``.

The program under test receives only these generated inputs.
"""

from __future__ import annotations

import itertools
import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENTS_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
EVENTS_DAYS = 30
UID_MODULUS = 200
LINEITEM_FIRST_SHIPDATE = datetime(1995, 1, 2, tzinfo=timezone.utc)
LINEITEM_SHIP_DAYS = 2498

SERIES_SOURCE = "fed"
LINEITEM_SOURCE = "lineitem"
API_KEY = "perfbench-key"

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _ts(base: datetime, micros: np.ndarray) -> pa.Array:
    """Naive (UTC wall-clock) microsecond timestamps, as the test tables
    store them."""
    start = int(base.timestamp() * 1_000_000)
    return pa.array(start + micros.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, low: float, high: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(low, high, n), 2)


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def make_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """The ten sf0.1 tables as Arrow tables (deterministic in ``rng``)."""
    day = 86_400_000_000
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = 15_000
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(
                rng,
                ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
                n,
            ),
        }
    )
    n = 1_000
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = 20_000
    names = [f"{a} {b}" for a in _ADJECTIVES for b in _NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(
                rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n
            ),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2),
        }
    )
    n = 150_000
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _ts(
                datetime(1995, 1, 1, tzinfo=timezone.utc),
                rng.integers(0, 2404, n) * day,
            ),
            "o_orderpriority": _pick(
                rng,
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
                n,
            ),
        }
    )
    n = 600_000
    quantity = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 150_000, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _ts(
                LINEITEM_FIRST_SHIPDATE,
                rng.integers(0, LINEITEM_SHIP_DAYS, n) * day,
            ),
        }
    )
    n = 100_000
    offsets = np.sort(rng.integers(0, EVENTS_DAYS * day, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(EVENTS_START, offsets),
            "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = _documents(rng, 5_000)
    n = 2_000
    vectors = rng.standard_normal((n, 64)).astype(np.float32)
    vectors /= np.linalg.norm(vectors, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; ~5% are near-duplicates of an earlier
    document (one word appended) and a few are exact copies, so the
    dedup and LSH queries have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(8, 105)))
            texts.append(" ".join(_WORDS[w] for w in words))
    langs = np.asarray(("en", "de", "es", "fr", "zh"), dtype=object)
    lang = langs[rng.choice(5, n, p=(0.41, 0.15, 0.15, 0.15, 0.14))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": pa.array(lang),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def series_table(events: pa.Table) -> pa.Table:
    """Row-layout source rows from ``events``: one series per
    (event_type, user_id % 200), sorted by tags then time."""
    uid = (events["user_id"].to_numpy() % UID_MODULUS).astype(str)
    table = pa.table(
        {
            "event_type": events["event_type"],
            "uid": uid,
            "ts": events["ts"],
            "value": events["value"],
        }
    )
    return table.sort_by([("event_type", "ascending"), ("uid", "ascending"), ("ts", "ascending")])


def write_tables(out_dir: str) -> str:
    """Write the tables and the series fixture as parquet into
    ``out_dir``; return it."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(np.random.default_rng(DATA_SEED))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    pq.write_table(
        series_table(tables["events"]), os.path.join(out_dir, "series.parquet")
    )
    return out_dir


def server_config(tables_dir: str, with_sql: bool) -> dict:
    """Engine config: the Kukur row source over ``series.parquet`` and,
    for bulk export, a ``lineitem`` source behind the sql verb."""
    config: dict = {
        "source": {
            SERIES_SOURCE: {
                "type": "parquet",
                "format": "row",
                "path": os.path.join(tables_dir, "series.parquet"),
                "tag_columns": ["event_type", "uid"],
                # plans stay cached for the whole run, so which calls hit
                # follows the call stream, not the wall clock: with the
                # default 30 s TTL, entries made together expire together
                # and latency swings with a ~60 s period, whose phase
                # within a short window depends on the host's speed
                "search_cache_seconds": 3600,
            }
        }
    }
    if with_sql:
        config["source"][LINEITEM_SOURCE] = {
            "type": "parquet",
            "format": "row",
            "path": os.path.join(tables_dir, "lineitem.parquet"),
            "ts_column": "l_shipdate",
            "tag_columns": [],
            "search_cache_seconds": 3600,
        }
        config["api_keys"] = [API_KEY]
        config["flight"] = {"enable_sql": True}
    return config


# ---------------------------------------------------------------------------
# call streams
# ---------------------------------------------------------------------------

# the verb mix, exact within every block of 20 calls (order shuffled), so
# each run's window holds the same share of each verb
VERB_BLOCK = (("get_data", 12), ("get_plot_data", 5), ("search", 2), ("get_metadata", 1))
ZIPF_S = 1.1
PLOT_INTERVALS = 200


def series_keys() -> list[tuple[str, str]]:
    """Every (event_type, uid) series of the fixture, in a fixed order."""
    return [(et, str(u)) for et in EVENT_TYPES for u in range(UID_MODULUS)]


def _iso(value: datetime) -> str:
    return value.isoformat()


def _sub_range(rng: random.Random) -> tuple[str, str]:
    """A random whole-hour window of 3 to 30 days inside January 2024."""
    hours = EVENTS_DAYS * 24
    length = rng.randint(3 * 24, hours)
    start = rng.randint(0, hours - length)
    begin = EVENTS_START + timedelta(hours=start)
    return _iso(begin), _iso(begin + timedelta(hours=length))


def verbs_stream(seed: int, n_calls: int) -> list[dict]:
    """The ``verbs_zipf`` call stream: the seeded verb mix of VERB_BLOCK
    whose selectors follow Zipf(ZIPF_S) over a seeded ranking of the
    ~1,000 series, so the head repeats (plan-cache hits) and the tail
    does not (misses)."""
    rng = random.Random(seed)
    keys = series_keys()
    rng.shuffle(keys)
    cumulative = list(
        itertools.accumulate(1.0 / rank**ZIPF_S for rank in range(1, len(keys) + 1))
    )
    verbs: list[str] = []
    while len(verbs) < n_calls:
        block = [verb for verb, count in VERB_BLOCK for _ in range(count)]
        rng.shuffle(block)
        verbs.extend(block)
    calls = []
    for verb in verbs[:n_calls]:
        if verb == "search":
            calls.append(
                {"verb": "search", "tags": {"event_type": rng.choice(EVENT_TYPES)}}
            )
            continue
        event_type, uid = rng.choices(keys, cum_weights=cumulative)[0]
        call = {"verb": verb, "tags": {"event_type": event_type, "uid": uid}}
        if verb != "get_metadata":
            call["start"], call["end"] = _sub_range(rng)
        if verb == "get_plot_data":
            call["interval_count"] = PLOT_INTERVALS
        calls.append(call)
    return calls


# rows of lineitem per sql call: a fixed ladder, so every run moves the
# same sizes and only the date windows (and the order) follow the seed
SQL_ROW_LADDER = (100_000, 300_000, 600_000)
LINEITEM_ROWS = 600_000
SQL_STATEMENT = (
    "SELECT * FROM lineitem "
    "WHERE ts >= CAST(:lo AS TIMESTAMP) AND ts < CAST(:hi AS TIMESTAMP)"
)


def export_cycle(seed: int, cycle: int) -> list[dict]:
    """One cycle of ``export_bulk``: a full-range get_data for every
    event type (~20k rows each) and one sql scan of lineitem per ladder
    size, in seeded order with seeded date windows."""
    rng = random.Random(f"{seed}:{cycle}")
    calls: list[dict] = []
    for event_type in EVENT_TYPES:
        calls.append(
            {
                "verb": "get_data",
                "tags": {"event_type": event_type},
                "start": _iso(EVENTS_START),
                "end": _iso(EVENTS_START + timedelta(days=EVENTS_DAYS + 1)),
            }
        )
    for rows in SQL_ROW_LADDER:
        days = round(LINEITEM_SHIP_DAYS * rows / LINEITEM_ROWS)
        first = rng.randint(0, LINEITEM_SHIP_DAYS - days)
        lo = LINEITEM_FIRST_SHIPDATE + timedelta(days=first)
        hi = lo + timedelta(days=days)
        calls.append(
            {
                "verb": "sql",
                "statement": SQL_STATEMENT,
                "args": {"lo": lo.strftime("%Y-%m-%d"), "hi": hi.strftime("%Y-%m-%d")},
            }
        )
    rng.shuffle(calls)
    return calls


def analytics_order(seed: int, passes: int, queries: list[str]) -> list[list[str]]:
    """Seeded query order for each pass of ``analytics_sf01``."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders
