"""Seeded input generators for the three workloads.

Everything the benchmark feeds the library comes from here, driven by one
``numpy`` generator per workload seed: the same seed gives byte-identical
inputs. Nothing here imports Spark.

- ``write_star_schema``: the ten sf0.1-shaped parquet tables the headline
  queries read (row counts, value domains and parquet types follow the
  repository's sf0.1 test data; the values themselves are synthetic).
- ``dml_batches``: the seeded change stream of ``dml_mix``.
- ``cdc_round``: one round of JSON change events for ``ingest_cdc``.
"""

from __future__ import annotations

import itertools
import json
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "red", "hot", "cold", "large", "small", "steel", "brass"]
PART_NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EPOCH = datetime(1970, 1, 1)
TS_FORMAT = "%Y-%m-%dT%H:%M:%S.%f"  # change events carry milliseconds
DAY_US = 86_400_000_000


def _us(d: datetime) -> int:
    return (d - EPOCH) // timedelta(microseconds=1)


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> pa.Array:
    """n midnight timestamps uniform in [lo, hi] (naive, microseconds)."""
    d = rng.integers(_us(lo) // DAY_US, _us(hi) // DAY_US + 1, n) * DAY_US
    return pa.array(d, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet", compression="snappy")


def write_star_schema(out: Path, seed: int) -> dict[str, int]:
    """Write the ten sf0.1-shaped tables under ``out``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    out.mkdir(parents=True, exist_ok=True)
    n = ROWS
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"])),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"])),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    np_ = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(np_)),
        "p_name": pa.array([
            f"{PART_WORDS[a]} {PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
    })
    _write(out, "orders", orders_table(seed))
    nl = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl)),
        "l_partkey": pa.array(rng.integers(0, np_, nl)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), nl),
    })
    ne = n["events"]
    gaps = rng.integers(1, 2 * 30 * DAY_US // ne, ne)
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne)),
        # TIMESTAMP(MICROS), as the repository's sf0.1 test data stores it
        "ts": pa.array(_us(datetime(2024, 1, 1)) + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lens.sum())]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    for dup in rng.choice(np.arange(100, nd), 8, replace=False):  # exact copies
        texts[dup] = texts[dup - 100]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts]),
    })
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.125, (nv, 64)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return {"region": 5, "nation": 25, **n}


def orders_table(seed: int) -> dict:
    """sf0.1 ``orders``, sorted by key (the ``dml_mix`` base table)."""
    rng = np.random.default_rng([seed, 2])
    no = ROWS["orders"]
    return {
        "o_orderkey": pa.array(np.arange(no)),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], no)),
        "o_orderstatus": _pick(rng, STATUSES, no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    }


# --------------------------------------------------------------------- #
# dml_mix change stream
# --------------------------------------------------------------------- #
# Only merge_keys is a measured size; the other values are assumptions,
# each chosen for the property README.md in this directory gives it.
DML_PARAMS = {
    "base_rows": ROWS["orders"],
    "base_appends": 4,
    "merge_keys": 2_000,
    "merge_key_range": 20_000,
    "new_key_share": 0.25,
    "delete_keys": 500,
    "compact_every": 2,
}


@dataclass
class DmlBatch:
    index: int
    upserts: list[tuple]  # orders rows (o_orderkey first), unique keys
    delete_lo: int  # DELETE WHERE o_orderkey >= lo AND o_orderkey < hi
    delete_hi: int
    point_key: int


def dml_batches(seed: int):
    """The seeded change stream, endless: each batch is a MERGE upsert of
    ``merge_keys`` keys drawn from one ``merge_key_range``-wide window of the
    existing keys (``new_key_share`` of them brand-new keys past the current
    maximum), a DELETE of a ``delete_keys``-wide key range elsewhere, and a
    point-read key."""
    rng = np.random.default_rng([seed, 3])
    params = DML_PARAMS
    base = params["base_rows"]
    next_key = base
    k = params["merge_keys"]
    n_new = round(k * params["new_key_share"])
    width = params["merge_key_range"]
    for i in itertools.count():
        lo = int(rng.integers(0, base - width))
        old = lo + rng.choice(width, k - n_new, replace=False)
        new = np.arange(next_key, next_key + n_new)
        next_key += n_new
        keys = np.concatenate([old, new])
        m = len(keys)
        days = rng.integers(_us(datetime(1995, 1, 1)) // DAY_US,
                            _us(datetime(2001, 8, 1)) // DAY_US + 1, m)
        rows = list(zip(
            keys.tolist(),
            rng.integers(0, ROWS["customer"], m).tolist(),
            np.asarray(STATUSES, dtype=object)[rng.integers(0, 3, m)].tolist(),
            (rng.integers(100_000, 50_000_001, m) / 100.0).tolist(),
            [EPOCH + timedelta(days=int(d)) for d in days],
            np.asarray(PRIORITIES, dtype=object)[rng.integers(0, 5, m)].tolist(),
        ))
        # the DELETE range sits outside this batch's MERGE window
        dl = int(rng.integers(0, base - params["delete_keys"]))
        while lo - params["delete_keys"] < dl < lo + width:
            dl = int(rng.integers(0, base - params["delete_keys"]))
        yield DmlBatch(i, rows, dl, dl + params["delete_keys"],
                       int(rng.choice(keys)))


# --------------------------------------------------------------------- #
# ingest_cdc change files
# --------------------------------------------------------------------- #
# Assumptions, each chosen for the property README.md in this directory gives it.
CDC_PARAMS = {
    "files_per_round": 4,
    "events_per_file": 1_500,
    "users": 20_000,
    "user_zipf_a": 1.3,
    "delete_share": 0.10,
    "max_files_per_trigger": 2,
}


def cdc_round(seed: int, rnd: int, first_event_id: int) -> list[list[dict]]:
    """One round of change events, as ``files_per_round`` lists of JSON
    records. user_id is Zipf-skewed; ``delete_share`` of the events are
    deletes (``op = 'delete'``). event_id and ts rise strictly across files
    and rounds, so feed order is last-writer-wins order."""
    rng = np.random.default_rng([seed, 4, rnd])
    params = CDC_PARAMS
    nf, per = params["files_per_round"], params["events_per_file"]
    n = nf * per
    users = (rng.zipf(params["user_zipf_a"], n) - 1) % params["users"]
    ops = np.where(rng.random(n) < params["delete_share"], "delete", "upsert")
    values = np.round(rng.exponential(50.0, n), 2)
    base = datetime(2026, 1, 1) + timedelta(hours=rnd)
    files = []
    for f in range(nf):
        recs = []
        for j in range(f * per, (f + 1) * per):
            eid = first_event_id + j
            recs.append({
                "event_id": eid,
                "ts": (base + timedelta(milliseconds=j)).strftime(TS_FORMAT)[:-3],
                "user_id": int(users[j]),
                "op": str(ops[j]),
                "value": float(values[j]),
            })
        files.append(recs)
    return files


def write_json_lines(path: Path, records: list[dict]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name("." + path.name + ".tmp")
    tmp.write_text("\n".join(json.dumps(r) for r in records) + "\n")
    tmp.rename(path)
