"""Seeded input generators for the benchmark.

Every input the package sees is parquet written here with pyarrow from a
``numpy`` generator seeded by ``--seed``: the same seed gives byte-identical
tables. Each generator writes a directory laid out like a harness scale-factor
dir (``<dir>/<table>.parquet``), so ``catalog.load(spark, dir, name)`` and
every registered query read it unmodified.

- ``write_events_feed``: the replication feed, in the ``events`` schema
  (``event_id``, ``ts`` as timestamp[us], ``user_id``, ``event_type``,
  ``value``, ``props`` = JSON ``{"k": n}``). The five event types are
  uniform, so about 20% of events are deletes (``error`` maps to ``d``).
- ``write_analytics_tables``: the ten harness tables at a small scale, with
  the invariants the registered oracles rely on (unique keys, valid foreign
  keys, 2-decimal money values, day-granular order/ship dates, 64-dim
  float32 embeddings, lowercase word-soup documents).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_FEED_SPAN_US = 29 * 86_400 * 1_000_000


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def events_table(rng: np.random.Generator, n_events: int, n_keys: int) -> pa.Table:
    """``n_events`` change events over ``n_keys`` document keys, event_id in
    ts order (the oplog order the replay stages)."""
    ts = np.sort(rng.integers(_TS0_US, _TS0_US + _FEED_SPAN_US, n_events))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_keys, n_events, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(rng.integers(0, 56_000, n_events) / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )


def write_events_feed(out_dir: str, seed: int, n_events: int, n_keys: int) -> str:
    """Write ``<out_dir>/events.parquet``; returns ``out_dir``."""
    _write(out_dir, "events", events_table(np.random.default_rng(seed), n_events, n_keys))
    return out_dir


_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window".split()
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PART_TYPES = np.array(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"])
_PART_WORDS = np.array(["blue", "hot", "large", "red", "small", "bolt", "ring", "nut"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_DAY_MS = 86_400_000
_D1995_MS = 788_918_400_000  # 1995-01-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days_ms(rng: np.random.Generator, n_days: int, n: int, offset: int = 0) -> pa.Array:
    days = rng.integers(0, n_days, n) + offset
    return pa.array(_D1995_MS + days * _DAY_MS, pa.timestamp("ms"))


def write_analytics_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write all ten harness tables; ``scale`` follows the harness sf
    (sf0.1 = 150k orders). Returns ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * scale))
    n_cust = max(150, int(150_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    }))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}" for a, b in zip(
                _PART_WORDS[rng.integers(0, 5, n_part)],
                _PART_WORDS[rng.integers(5, 8, n_part)],
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90_000 + pk % 1_000 * 10) / 100.0,
    }))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1_000, 500_000, n_ord),
        "o_orderdate": _days_ms(rng, 2_404, n_ord),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    }))
    lines_per_order = rng.integers(1, 8, n_ord)
    n_li = int(lines_per_order.sum())
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days_ms(rng, 2_404, n_li, offset=1),
    }))
    _write(out_dir, "events", events_table(rng, n_ev, max(15, n_ev // 66)))

    texts = [
        " ".join(_WORDS[rng.integers(0, len(_WORDS), rng.integers(5, 60))])
        for _ in range(n_docs)
    ]
    # a few exact duplicates, as in the harness corpus
    for i in rng.choice(n_docs, max(1, n_docs // 500), replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    emb = (rng.standard_normal((n_vecs, 64)) * 0.125).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }))
    return out_dir
