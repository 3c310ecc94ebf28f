"""Seeded input generators for the benchmark.

Tables follow the engine's synthetic star schema (``sources.io.TABLES``):
uniform TPC-H-ish facts and dims, an ``events`` stream table, and the
LLM-data ``documents`` / ``embeddings`` tables, with the value domains
the registry queries filter on (segments, priorities, date ranges,
5% near-duplicate documents carrying a trailing ``dup`` token).

Table *contents* come from a fixed content seed, so every run of a
workload measures the same amount of work; the run's ``--seed``
permutes the row order of every table of more than 1,000 rows (for
the x10 replica, across all copies of the facts).  Streaming rows are
drawn from the run seed itself.  Everything is written with pyarrow;
the engine only ever sees the generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# Salary CSV of the reference jobs: ID,Name,Age,City,Salary.
SALARY_HEADER = "ID,Name,Age,City,Salary"
CITIES = ["Jacksonville"] + [f"City{i:03d}" for i in range(1, 200)]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in epoch micros


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(0, n_days, n)
    return pa.array(_EPOCH_1995 + (first_day + days) * _DAY_US, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def star_schema(sf: float) -> dict[str, pa.Table]:
    """All ``sources.io.TABLES`` at scale factor ``sf`` (sf0.01 = 60k
    lineitem rows), contents fixed by ``CONTENT_SEED``."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _dates(rng, 0, 2400, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _dates(rng, 1, 2500, n_line),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    t["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return t


def replicate(tables: dict[str, pa.Table], mult: int) -> dict[str, pa.Table]:
    """N-times replica: facts repeat with key offsets, dims stay as they
    are.  Same semantics as ``tools/scale_stress.py``'s ``build_replica``
    for orders, lineitem and events, built in memory so that
    ``write_corpus`` can permute the rows before anything is written."""
    out = dict(tables)
    ok = len(tables["orders"])
    ev = len(tables["events"])

    def rep(t: pa.Table, col: str, stride: int) -> pa.Table:
        parts = []
        for i in range(mult):
            keys = pc.add(t[col], pa.scalar(i * stride, pa.int64()))
            parts.append(t.set_column(t.schema.get_field_index(col), col, keys))
        return pa.concat_tables(parts)

    out["orders"] = rep(tables["orders"], "o_orderkey", ok)
    out["lineitem"] = rep(tables["lineitem"], "l_orderkey", ok)
    out["events"] = rep(tables["events"], "event_id", ev)
    return out


ROW_GROUPS = 8


def write_corpus(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``, rows permuted
    by ``seed``.  Tables of 50k rows or more get ``ROW_GROUPS`` row
    groups, so the engine's scan splits across cores."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, t in tables.items():
        if len(t) > 1000:
            t = t.take(pa.array(rng.permutation(len(t))))
        rg = -(-len(t) // ROW_GROUPS) if len(t) >= 50_000 else None
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rg)


def salary_rows(seed: int, start_id: int, n: int) -> list[tuple[int, str, int, str, float]]:
    """``n`` salary records (ID, Name, Age, City, Salary) drawn from ``seed``."""
    rng = np.random.default_rng([seed, start_id])
    cities = rng.integers(0, len(CITIES), n)
    ages = rng.integers(25, 56, n)
    sal = rng.integers(40_000, 120_001, n)
    return [(start_id + i, f"Emp{start_id + i}", int(ages[i]), CITIES[cities[i]], float(sal[i]))
            for i in range(n)]


def salary_line(r: tuple) -> str:
    return f"{r[0]},{r[1]},{r[2]},{r[3]},{r[4]}"
