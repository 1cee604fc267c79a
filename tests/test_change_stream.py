"""The MongoDB change-event → envelope mapping
(``sources.adapters.change_stream_envelopes``) on hand-built
change-stream-shaped rows: no connector and no server."""

from __future__ import annotations

from datetime import datetime

from mongodb_mysql_cdc_spark.sources.adapters import (
    CHANGE_STREAM_SCHEMA,
    change_stream_envelopes,
)
from mongodb_mysql_cdc_spark.sources.cdc import ENVELOPE_SCHEMA
from mongodb_mysql_cdc_spark.streaming.apply import cdc_apply_batch

NS = ("appdb", "users")


def _t(second):
    return datetime(2024, 1, 1, 0, 0, second)


# (_id, operationType, clusterTime, ns, documentKey, fullDocument)
CHANGES = [
    (1, "insert", _t(1), NS, (7,), (7, "signup", 1.0, 10)),
    (2, "replace", _t(2), NS, (7,), (7, "view", 2.0, 20)),
    (3, "insert", _t(2), NS, (8,), (8, "signup", 3.0, 30)),
    (4, "update", _t(3), NS, (8,), None),  # document gone before the lookup
    (5, "delete", _t(4), NS, (8,), None),
    (6, "invalidate", _t(5), NS, None, None),
]


def test_change_events_map_to_envelopes(spark):
    env = change_stream_envelopes(spark.createDataFrame(CHANGES, CHANGE_STREAM_SCHEMA))

    assert [(f.name, f.dataType) for f in env.schema] == [
        (f.name, f.dataType) for f in ENVELOPE_SCHEMA
    ]
    rows = sorted((tuple(r) for r in env.collect()), key=lambda r: r[2])
    assert [(op, ts, seq, key) for op, ts, seq, key, _, _ in rows] == [
        ("c", _t(1), 1, 7),
        ("u", _t(2), 2, 7),
        ("c", _t(2), 3, 8),
        ("u", _t(3), 4, 8),
        ("d", _t(4), 5, 8),
    ]
    after = {seq: a for _, _, seq, _, a, _ in rows}
    assert tuple(after[2]) == (7, "view", 2.0, 20)
    assert after[4] is None and after[5] is None
    assert {tuple(r[5]) for r in rows} == {NS}

    # the replace is key 7's image; key 8's delete wins over the bare update
    state = cdc_apply_batch(env).collect()
    assert [(r.key, r.last_event_type, r.last_k) for r in state] == [(7, "view", 20)]
