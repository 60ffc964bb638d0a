"""Deterministic inputs for the benchmark.

``write_star_tables`` writes the ten catalog tables (the schema the
catalog queries read through ``queries.tables.load``) at a fixed seed, so
every run of every commit reads the same base data. ``write_scd1_*``
build the SCD1 targets and the seeded delta loads merged into them.

Only numpy and pyarrow are used; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the catalog's sf0.01 tables.
STAR_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
BASE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]"
    )


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The catalog's ten tables, sized as its sf0.01 data."""
    rng = np.random.default_rng(seed)
    n = STAR_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, c, rng),
        "c_mktsegment": rng.choice(_SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, s, rng),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [
            f"{rng.choice(_P_ADJ)} {rng.choice(_P_NOUN)}" for _ in range(p)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(_P_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(1000.0, 500000.0, o, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", o, rng),
        "o_orderpriority": rng.choice(_PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, li, rng),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", li, rng),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + span, e)).astype("datetime64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.round(rng.exponential(25.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the catalog data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, d, p=_LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })
    return out


def write_star_tables(out_dir: str, seed: int = BASE_SEED) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# SCD1 ingest: a target table and seeded delta loads at a given width.
# Column 0 is the key ``id``, column 1 the recency ``updated_at``; the
# rest are attributes cycling through string, double and bigint.
# ---------------------------------------------------------------------------

_T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))


def scd1_columns(width: int) -> list[str]:
    return ["id", "updated_at"] + [f"a{i:03d}" for i in range(width - 2)]


def _scd1_table(ids: np.ndarray, recency_us: np.ndarray, width: int,
                rng) -> pa.Table:
    n = len(ids)
    cols: dict[str, object] = {
        "id": ids.astype(np.int64),
        "updated_at": recency_us.astype("datetime64[us]"),
    }
    for i, name in enumerate(scd1_columns(width)[2:]):
        kind = i % 3
        if kind == 0:
            cols[name] = pa.array(
                np.char.add("v", rng.integers(0, 1000, n).astype(str))
            )
        elif kind == 1:
            cols[name] = _money(0.0, 1000.0, n, rng)
        else:
            cols[name] = rng.integers(0, 1_000_000, n).astype(np.int64)
    return pa.table(cols)


def write_scd1_target(path: str, rows: int, width: int, seed: int) -> None:
    """Initial target: unique keys 0..rows-1, recency inside day 0."""
    rng = np.random.default_rng([seed, width, 0])
    ids = np.arange(rows)
    rec = _T0_US + rng.integers(0, 86_400_000_000, rows)
    os.makedirs(path, exist_ok=True)
    pq.write_table(_scd1_table(ids, rec, width, rng),
                   os.path.join(path, "part-0.parquet"))


def write_scd1_delta(path: str, load_no: int, rows: int, key_space: int,
                     width: int, seed: int) -> None:
    """Delta ``load_no`` (1-based): keys drawn from 1.25x the target's key
    space (so about a fifth are inserts), some keys repeated inside the
    load, and recencies spread over days 0..load_no so that some rows are
    older than the row they would replace. Recencies are distinct within
    a load, so latest-per-key never depends on a tie-break."""
    rng = np.random.default_rng([seed, width, load_no])
    ids = rng.integers(0, int(key_space * 1.25), rows)
    day_us = 86_400_000_000
    rec = _T0_US + rng.choice((load_no + 1) * day_us, rows, replace=False)
    os.makedirs(path, exist_ok=True)
    pq.write_table(_scd1_table(ids, rec, width, rng),
                   os.path.join(path, "part-0.parquet"))
