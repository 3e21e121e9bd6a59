"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of the seed:

- `write_tables` writes the ten fixture tables the registered queries read
  (`sources/tables.py::TABLES`) as parquet, with the schemas and value
  domains of the fixtures TESTDATA.md describes (TPC-H-ish star schema, an
  `events` reading table, `documents` and 64-d unit `embeddings`) at
  roughly the sf0.001 row counts.  At that size the query suite is bound by fixed
  per-query overhead, which is what the batch workload measures.
- `make_stream` turns the seeded events into the arrival-ordered
  JSON-lines stream the topology drains, with the reference generator's
  data-quality fault rates injected; `write_stream` writes it.

The program under test receives only the files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("big", "blue", "cold", "hot", "large", "red", "small", "tiny")
PART_NOUN = ("bolt", "cog", "gear", "nut", "pipe", "ring", "valve", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# Row counts per table (the sf0.001 fixture's shape; events doubled so each
# of the 150 sensors has enough readings for the serving reads).
SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 2000,
    "documents": 500,
    "embeddings": 500,
}
N_SENSORS = 150
EMBED_DIM = 64


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables for `seed` (same seed, same tables)."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                for _ in range(n["part"])
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n["part"]) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, nl, "1995-01-02", 2500),
        }
    )
    ne = n["events"]
    jan = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(jan + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_SENSORS, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd).tolist(),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] * 0.5 + rng.normal(size=(nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- stream input ---------------------------------------------------------

# The validator's frozen clock and freshness window
# (queries/validation.py NOW / MAX_AGE_DAYS): stream event times are mapped
# into it so the DLQ share measures the injected faults, not the clock.
STREAM_START = dt.datetime(2024, 1, 12, 0, 0, 0)
ARRIVAL_STEP_MS = 200  # one reading every 0.2 s of event time

# Fault rates of the reference generator (data_generator/generator.py:10-17).
FAULT_RATES = (
    ("duplicate", 0.05),
    ("out_of_range", 0.12),
    ("type_mismatch", 0.05),
    ("schema_violation", 0.04),
    ("format", 0.06),
)
MALFORMED_RATE = 0.003


@dataclass(frozen=True)
class StreamLine:
    """One line of a stream file: `record` is what was sent (None for a
    malformed line, whose raw text is `raw`)."""

    record: dict | None
    raw: str


def lateness_seconds(i: int) -> int:
    """The `streaming/late_fixtures.py` lateness classes (10% late: 5% by
    1-5 min, 3% by 5-15 min, 2% by 15-60 min), keyed on the arrival index.
    Re-stated here, not imported, so the generator never loads the program."""
    b = i % 100
    for upper, lo, hi in ((5, 60, 300), (8, 300, 900), (10, 900, 3600)):
        if b < upper:
            return lo + (i * 37) % (hi - lo)
    return 0


def make_stream(seed: int, events: pa.Table, n_files: int, rows_per_file: int) -> list[list[StreamLine]]:
    """Arrival-ordered stream files built from the seeded events.

    Each clean reading takes its sensor, type, value and payload from the
    events table (values folded into the validator's 0..100 range) and gets
    an arrival-ordered event time inside the freshness window.  Then, per
    line, one fault at the reference rates: a duplicate (the previous
    reading resent, in the same file), an out-of-range value, a non-numeric
    `props.k`, a missing field, a badly formatted type, or a malformed JSON
    line; independently 10% arrive late by the late_fixtures classes."""
    rng = np.random.default_rng(seed + 7919)
    ev = events.to_pydict()
    n_ev = len(ev["event_id"])
    files: list[list[StreamLine]] = []
    i = 0
    for _ in range(n_files):
        lines: list[StreamLine] = []
        while len(lines) < rows_per_file:
            src = i % n_ev
            arrival = STREAM_START + dt.timedelta(milliseconds=i * ARRIVAL_STEP_MS)
            event_ts = arrival - dt.timedelta(seconds=lateness_seconds(i))
            rec = {
                "event_id": int(ev["event_id"][src]) + (i // n_ev) * n_ev,
                "ts": event_ts.strftime("%Y-%m-%d %H:%M:%S"),
                "user_id": int(ev["user_id"][src]),
                "event_type": ev["event_type"][src],
                "value": round(float(ev["value"][src]) % 100.0, 2),
                "props": ev["props"][src],
            }
            i += 1
            u = rng.random()
            if u < MALFORMED_RATE:
                lines.append(StreamLine(None, json.dumps(rec)[:-7]))
                continue
            kind, acc = None, MALFORMED_RATE
            for name, rate in FAULT_RATES:
                acc += rate
                if u < acc:
                    kind = name
                    break
            if kind == "out_of_range":
                rec["value"] = round(100.5 + float(rng.integers(0, 400)), 2)
            elif kind == "type_mismatch":
                rec["props"] = json.dumps({"k": "n/a"})
            elif kind == "schema_violation":
                del rec["value" if rng.random() < 0.5 else "event_type"]
            elif kind == "format":
                rec["event_type"] = rec["event_type"].upper() + "!"
            lines.append(StreamLine(rec, json.dumps(rec)))
            if kind == "duplicate" and len(lines) < rows_per_file:
                lines.append(StreamLine(dict(rec), json.dumps(rec)))
        files.append(lines)
    return files


def write_stream(files: list[list[StreamLine]], src_dir: str, base_mtime: int = 1_700_000_000) -> None:
    """One JSON-lines file per micro-batch, mtimes increasing in arrival
    order (the file source's offset order)."""
    os.makedirs(src_dir, exist_ok=True)
    for seq, lines in enumerate(files):
        path = os.path.join(src_dir, f"batch-{seq:04d}.json")
        with open(path, "w") as f:
            f.write("".join(line.raw + "\n" for line in lines))
        os.utime(path, (base_mtime + seq * 60, base_mtime + seq * 60))
