"""Checks of the seeded input generators.

    python3 -m pytest perfbench/test_feeds.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import feeds  # noqa: E402
from mongodb_mysql_cdc_spark.catalog import SCHEMAS, TABLES, load  # noqa: E402
from mongodb_mysql_cdc_spark.replication import expected_state  # noqa: E402
from mongodb_mysql_cdc_spark.session import get_session  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    return get_session("perfbench-tests")


def _lww_live_keys(table) -> int:
    """Live keys after a last-writer-wins fold by (ts, event_id)."""
    last: dict[int, tuple] = {}
    for r in table.to_pylist():
        pos = (r["ts"], r["event_id"])
        if r["user_id"] not in last or pos > last[r["user_id"]][0]:
            last[r["user_id"]] = (pos, r["event_type"])
    return sum(1 for _, et in last.values() if et != "error")


def test_same_seed_same_feed(tmp_path):
    a = feeds.write_events_feed(str(tmp_path / "a"), 7, 2_000, 100)
    b = feeds.write_events_feed(str(tmp_path / "b"), 7, 2_000, 100)
    c = feeds.write_events_feed(str(tmp_path / "c"), 8, 2_000, 100)
    ta, tb, tc = (pq.read_table(f"{d}/events.parquet") for d in (a, b, c))
    assert ta.equals(tb)
    assert not ta.equals(tc)


def test_feed_shape(tmp_path):
    t = pq.read_table(f"{feeds.write_events_feed(str(tmp_path), 3, 20_000, 500)}/events.parquet")
    assert t.num_rows == 20_000
    assert str(t.schema.field("ts").type) == "timestamp[us]"
    ids = t.column("event_id").to_pylist()
    assert ids == sorted(set(ids))
    deletes = t.column("event_type").to_pylist().count("error") / t.num_rows
    assert 0.18 < deletes < 0.22


def test_catalog_reads_feed_and_expected_state_runs(spark, tmp_path):
    d = feeds.write_events_feed(str(tmp_path), 5, 3_000, 300)
    ev = load(spark, d, "events")
    assert [(f.name, f.dataType) for f in ev.schema] == [
        (f.name, f.dataType) for f in SCHEMAS["events"]
    ]
    assert ev.count() == 3_000
    state = expected_state(spark, d)
    assert state.count() == _lww_live_keys(pq.read_table(f"{d}/events.parquet"))


def test_analytics_tables_match_catalog(spark, tmp_path):
    d = feeds.write_analytics_tables(str(tmp_path), 1, 0.001)
    for name in TABLES:
        got = [(f.name, f.dataType) for f in load(spark, d, name).schema]
        assert got == [(f.name, f.dataType) for f in SCHEMAS[name]], name
