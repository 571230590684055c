"""Seeded input tables for the benchmark.

Writes the ten parquet tables the program reads (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) with the same
schemas and value ranges as the program's reference test data, sized
by a scale factor. Everything is drawn from one numpy generator seeded
by the caller, so the same (seed, sf) always gives byte-identical
tables and the program never sees anything but these files.

One deliberate difference from uniform dates: line items ship on
weekdays only, so the derived daily `stocks`/`index_data` tables have
no rows on weekends and the dashboard's date walk-back has real
non-trading days to skip.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = "large hot blue small red green dark pale round flat smooth rough light".split()
_NOUN = "ring bolt screw washer plate gear shaft valve pin clip lever strut cog anvil widget".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
_VOCAB = (
    "spark line column order small sort fast value scan hash batch part "
    "query agg table stream filter big merge group row key the a join "
    "vector customer slow data window"
).split()
_LANGS = ["en", "en", "en", "es", "fr", "zh", "de"]
EMB_DIM = 64

_DAY_US = 24 * 3600 * 1_000_000
_SHIP_FIRST = np.datetime64("1995-01-02")
SHIP_LAST = np.datetime64("2001-11-04")
_ORDER_FIRST = np.datetime64("1995-01-01")
_ORDER_LAST = np.datetime64("2001-08-01")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor `sf` (sf 1 = 6M line items)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(days: np.ndarray) -> np.ndarray:
    return days.astype("datetime64[D]").astype("datetime64[us]").astype(np.int64)


def _weekdays(first, last) -> np.ndarray:
    days = np.arange(first, last + np.timedelta64(1, "D"))
    # 1970-01-01 was a Thursday: (days + 3) % 7 gives Monday == 0.
    return days[(days.astype(np.int64) + 3) % 7 < 5]


def _dims(rng, n: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
            "c_mktsegment": pa.array(
                [_SEGMENTS[i] for i in rng.integers(0, 5, nc)], pa.string()
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(_ADJ), npart),
                        rng.integers(0, len(_NOUN), npart),
                    )
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{k}" for k in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": pa.array(
                [_PART_TYPES[k] for k in rng.integers(0, 6, npart)], pa.string()
            ),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                900.0 + (np.arange(npart) % 1000) / 10.0, pa.float64()
            ),
        }),
    }


def _facts(rng, n: dict[str, int]) -> dict[str, pa.Table]:
    no, nl = n["orders"], n["lineitem"]
    order_days = np.arange(_ORDER_FIRST, _ORDER_LAST + np.timedelta64(1, "D"))
    ship_days = _weekdays(_SHIP_FIRST, SHIP_LAST)
    flags = rng.integers(0, 6, nl)
    return {
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": pa.array(
                [("F", "O", "P")[i] for i in rng.integers(0, 3, no)], pa.string()
            ),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
            "o_orderdate": pa.array(
                _days_us(rng.choice(order_days, no)), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                [_PRIORITIES[i] for i in rng.integers(0, 5, no)], pa.string()
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(
                rng.integers(1, 51, nl).astype(np.float64), pa.float64()
            ),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(
                [("A", "N", "R")[f // 2] for f in flags], pa.string()
            ),
            "l_linestatus": pa.array([("F", "O")[f % 2] for f in flags], pa.string()),
            "l_shipdate": pa.array(
                _days_us(rng.choice(ship_days, nl)), pa.timestamp("us")
            ),
        }),
    }


def _events(rng, n_events: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(
            [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)], pa.string()
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), pa.float64()),
        "props": pa.array(
            ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)], pa.string()
        ),
    })


def _documents(rng, n_docs: int) -> pa.Table:
    """Word-salad documents with ~1% exact and ~2% near duplicates,
    so the dedup queries find real pairs and clusters."""
    texts: list[str] = []
    originals: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if originals and r < 0.01:
            t = originals[int(rng.integers(0, len(originals)))]
        elif originals and r < 0.03:
            words = originals[int(rng.integers(0, len(originals)))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
            t = " ".join(words)
        else:
            t = " ".join(
                _VOCAB[k] for k in rng.integers(0, len(_VOCAB), int(rng.integers(8, 100)))
            )
            originals.append(t)
        texts.append(t)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n_vecs: int) -> pa.Table:
    """Unit vectors around ten label centroids, with ~1% planted
    near-duplicates of earlier vectors."""
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, 0.35, (n_vecs, EMB_DIM))
    planted = max(1, n_vecs // 100)
    src = rng.integers(0, n_vecs // 2, planted)
    dst = rng.integers(n_vecs // 2, n_vecs, planted)
    vecs[dst] = vecs[src] + rng.normal(0.0, 0.01, (planted, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to `out_dir/<name>.parquet`; returns row counts."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = row_counts(sf)
    tables = _dims(rng, n)
    tables.update(_facts(rng, n))
    tables["events"] = _events(rng, n["events"], max(15, int(15_000 * sf)))
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
