"""Seeded input generation for the benchmark workloads.

Everything the engine sees during a benchmark run is produced here from
``--seed`` alone: the base tables (same schema as the engine's test data)
and the ``lake_ingest`` bar batches and op sequence. numpy's PCG64
drives every draw and pyarrow writes the parquet, so one seed always
yields byte-identical files and different seeds yield different values
at the same row counts (the cost of a run depends on sizes, which stay
fixed, not on the seed).

Row counts, key domains, spans and value distributions follow the
engine's sf0.001 / sf0.01 / sf0.1 test tables, measured with DuckDB:

- ``events``: 1M*sf rows over 15k*sf users (sf0.1: 100,000 rows, 1,500
  users, 45-99 rows per user), ``ts`` uniform over the 30 days from
  2024-01-01 and ascending with ``event_id``, five equally likely event
  types, ``value`` exponential with mean 50 rounded to cents (sf0.1:
  median 34.8, mean 49.9, sd 49.6, a few exact zeros), ``props`` a
  ``{"k": n}`` string with n uniform in 0..99;
- ``orders``/``lineitem``: 1.5M*sf / 6M*sf rows over 150k*sf customers
  and 200k*sf parts; order dates 1995-01-01 .. 2001-08-01, ship dates
  one day to 95 days past that range;
- ``documents``: 50k*sf rows, at least 500; ``embeddings``: 20k*sf rows,
  at least 500, 64-d unit vectors around ten centers.

``facts_x`` multiplies the fact tables (``events``, ``orders``,
``lineitem``) and keeps every key domain at ``sf``: the shape of the
10x dataset in SCALE.md (sf0.1 fact tables replicated 10x over the same
users, customers and parts), so rows per key grow with ``facts_x``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "hot", "cold", "red", "blue", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "es", "fr", "de", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in micros
_DAY_US = 86_400_000_000
_ORDER_DAY0 = 9131  # 1995-01-01 in days since the epoch
_ORDER_DAYS = 2404  # through 2001-08-01
_VERSION = 4  # bump when the generated layout changes; invalidates caches


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent PCG64 stream per (seed, table) so adding a table never
    shifts another table's draws."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def table_rows(sf: float, facts_x: int = 1) -> dict[str, int]:
    """Row count per table at scale ``sf`` (sf0.01 = the engine's oracle
    scale: 60k lineitem rows), fact tables times ``facts_x``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": int(1_500_000 * sf) * facts_x,
        "lineitem": int(6_000_000 * sf) * facts_x,
        "events": int(1_000_000 * sf) * facts_x,
        "users": max(10, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build_tables(sf: float, seed: int, facts_x: int = 1) -> dict[str, pa.Table]:
    n = table_rows(sf, facts_x)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, k)],
    })

    r = _rng(seed, "supplier")
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r = _rng(seed, "part")
    k = n["part"]
    adj = np.array(_PART_ADJ)[r.integers(0, len(_PART_ADJ), k)]
    noun = np.array(_PART_NOUN)[r.integers(0, len(_PART_NOUN), k)]
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })

    r = _rng(seed, "orders")
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype="int64"),
        "o_custkey": r.integers(0, n["customer"], k).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _ts(
            (_ORDER_DAY0 + r.integers(0, _ORDER_DAYS, k)) * _DAY_US
        ),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, k)],
    })

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    flags = r.integers(0, 6, k)
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype("int64"),
        "l_partkey": r.integers(0, n["part"], k).astype("int64"),
        "l_suppkey": r.integers(0, n["supplier"], k).astype("int64"),
        "l_linenumber": r.integers(1, 8, k).astype("int32"),
        "l_quantity": r.integers(1, 51, k).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": _ts(
            (_ORDER_DAY0 + 1 + r.integers(0, _ORDER_DAYS + 95, k)) * _DAY_US
        ),
    })

    r = _rng(seed, "events")
    k = n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, k)) + _EPOCH_2024_US
    value = np.round(r.exponential(50.0, k), 2)
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype="int64"),
        "ts": _ts(ts),
        "user_id": r.integers(0, n["users"], k).astype("int64"),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, k)],
        "value": value,
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r = _rng(seed, "documents")
    k = n["documents"]
    lengths = r.integers(8, 90, k)
    words = np.array(_WORDS)[r.integers(0, len(_WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype="int64"),
        "text": text,
        "lang": np.array(_LANGS)[r.choice(5, k, p=_LANG_P)],
        "source": np.char.add("src", r.integers(0, 20, k).astype(str)),
        "n_chars": np.array([len(s) for s in text], dtype="int64"),
    })

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    centers = r.normal(0.0, 1.0, (10, 64))
    label = r.integers(0, 10, k)
    vec = centers[label] + r.normal(0.0, 1.5, (k, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int, row_groups: int = 1,
                 facts_x: int = 1) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``, each split into
    ``row_groups`` row groups so that the scan fans out across local
    cores."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(sf, seed, facts_x).items():
        rg = max(1, -(-tbl.num_rows // row_groups))
        pq.write_table(
            tbl, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=rg, compression="snappy",
        )


def shuffled(items: list, seed: int, stream: str) -> list:
    order = _rng(seed, stream).permutation(len(items))
    return [items[i] for i in order]


# --------------------------------------------------------------- lake --
LAKE_SYMBOLS = 24
LAKE_BAR_ROWS = 4_000  # rows per appended batch
# Versions whose files the vacuum keeps; time-travel reads go back fewer
# versions than this, so the passes after the vacuum still read.
LAKE_RETAIN = 6
# One half of the measured pass, in a fixed order: the cost of an op
# depends on what came before it (a change-feed read right after a
# compaction diffs every rewritten row), so a seeded order moved the run's
# wall time by seed. Reads balance the slower writes around the middle so
# that the op median falls inside the append/compact cluster.
LAKE_PASS = [
    "append", "read", "merge", "time_travel", "delete", "read", "append",
    "compact",
    "append", "changes", "merge", "read", "update", "time_travel",
]


def lake_batch(seed: int, batch: int, key_lo: int) -> pa.Table:
    """30-min bars with consecutive keys ``key_lo .. key_lo+LAKE_BAR_ROWS``."""
    r = _rng(seed, f"lake-batch-{batch}")
    k = LAKE_BAR_ROWS
    key = np.arange(key_lo, key_lo + k, dtype="int64")
    open_ = np.round(r.uniform(20.0, 400.0, k), 2)
    close = np.round(open_ * np.exp(r.normal(0.0, 0.01, k)), 2)
    high = np.round(np.maximum(open_, close) * (1 + r.uniform(0, 0.005, k)), 2)
    low = np.round(np.minimum(open_, close) * (1 - r.uniform(0, 0.005, k)), 2)
    ts = pa.array(_EPOCH_2024_US + key * 1_800_000_000, pa.int64())
    return pa.table({
        "bar_id": key,
        "symbol": np.char.add("SYM", (key % LAKE_SYMBOLS).astype(str)),
        "ts": ts.cast(pa.timestamp("us", tz="UTC")),
        "open": open_, "high": high, "low": low, "close": close,
        "volume": r.integers(100, 100_000, k).astype("int64"),
    })


def lake_plan(seed: int) -> tuple[dict, list[list[dict]]]:
    """The ``lake_ingest`` op sequence: a preload append, then the measured
    pass (``LAKE_PASS`` twice, then the one z-order rewrite and a vacuum),
    then two shorter passes of one ``LAKE_PASS`` each for the traced run.
    Appends bring fresh keys; a MERGE batch half-overlaps the newest keys
    (update) and half extends them (insert); DELETE/UPDATE hit one seeded
    symbol below a seeded key bound; time-travel reads go a seeded number
    of versions back."""
    r = _rng(seed, "lake-ops")
    preload = {"op": "append", "batch": 0, "key_lo": 0}
    next_key, batch = LAKE_BAR_ROWS, 1
    halves = []
    for h in range(4):
        kinds = LAKE_PASS + (["zorder", "vacuum"] if h == 1 else [])
        ops = []
        for kind in kinds:
            op: dict = {"op": kind}
            if kind == "append":
                op.update(batch=batch, key_lo=next_key)
                next_key += LAKE_BAR_ROWS
                batch += 1
            elif kind == "merge":
                op.update(batch=batch, key_lo=next_key - LAKE_BAR_ROWS // 2)
                next_key += LAKE_BAR_ROWS // 2
                batch += 1
            elif kind in ("delete", "update"):
                op.update(
                    symbol=f"SYM{int(r.integers(0, LAKE_SYMBOLS))}",
                    max_bar=int(r.integers(0, next_key)),
                )
                if kind == "update":
                    op["scale"] = round(float(r.uniform(0.9, 1.1)), 4)
            elif kind == "time_travel":
                op["back"] = int(r.integers(1, LAKE_RETAIN))
            ops.append(op)
        halves.append(ops)
    return preload, [halves[0] + halves[1], halves[2], halves[3]]


# -------------------------------------------------------------- cache --
def ensure_tables(cache_root: str, sf: float, seed: int, row_groups: int,
                  facts_x: int = 1) -> tuple[str, bool]:
    """Path of the cached table dir for (sf, seed, row_groups, facts_x),
    generating it on a miss. Returns (dir, generated)."""
    out = os.path.join(
        cache_root, f"v{_VERSION}-tables-sf{sf:g}-x{facts_x}-rg{row_groups}-s{seed}"
    )
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, False
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(tmp, sf, seed, row_groups, facts_x)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        json.dump({"sf": sf, "seed": seed, "row_groups": row_groups, "facts_x": facts_x}, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, True


def ensure_lake(cache_root: str, seed: int) -> tuple[str, bool]:
    """Cached ``lake_ingest`` batches plus ``plan.json`` for ``seed``."""
    out = os.path.join(cache_root, f"v{_VERSION}-lake-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, False
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    preload, plan = lake_plan(seed)
    for op in [preload] + [o for ops in plan for o in ops]:
        if "batch" in op:
            pq.write_table(
                lake_batch(seed, op["batch"], op["key_lo"]),
                os.path.join(tmp, f"batch-{op['batch']:05d}.parquet"),
            )
    with open(os.path.join(tmp, "plan.json"), "w") as fh:
        json.dump({"preload": preload, "passes": plan}, fh)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, True
