"""Seeded input generators for the benchmark workloads.

Every function here is pure in its ``seed``: the same seed writes
byte-for-byte the same files, and the engine sees only those files.

- :func:`warehouse_tables` — the TPC-H-shaped star schema plus the
  ``events``, ``documents`` and ``embeddings`` side tables the
  registry's headline queries read (one single-row-group parquet file
  per table, the layout and value domains of the engine's fixed test
  tables).
- :func:`meter_shard` — one BDG2-shaped shard: a ``raw/`` folder of
  wide meter CSVs (``timestamp`` × building columns, blank cells).
- :func:`stream_files` — long-format ``(timestamp, building_id, meter,
  meter_reading)`` parquet files, one per day, each replaying a slice
  of the previous file's rows as duplicates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = ["en", "de", "es", "fr", "zh"]

_US_PER_DAY = 86_400_000_000
_DAY0 = np.datetime64("1995-01-01", "us")


def _write(table: dict, path: str, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pydict(table, schema=schema),
        path,
        compression="snappy",
        row_group_size=1 << 30,
    )


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return _DAY0 + rng.integers(lo, hi + 1, n) * np.timedelta64(1, "D")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables at scale factor ``sf`` into
    ``out_dir/<table>.parquet``; returns ``{table: row count}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def sch(*cols):
        return pa.schema(list(cols))

    _write(
        {"r_regionkey": list(range(5)), "r_name": _REGIONS},
        os.path.join(out_dir, "region.parquet"),
        sch(("r_regionkey", i32), ("r_name", s)),
    )
    _write(
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        os.path.join(out_dir, "nation.parquet"),
        sch(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)),
    )
    _write(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        },
        os.path.join(out_dir, "customer.parquet"),
        sch(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
            ("c_acctbal", f64), ("c_mktsegment", s)),
    )
    _write(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        os.path.join(out_dir, "supplier.parquet"),
        sch(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
            ("s_acctbal", f64)),
    )
    pk = np.arange(n_part)
    _write(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        },
        os.path.join(out_dir, "part.parquet"),
        sch(("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
            ("p_size", i32), ("p_retailprice", f64)),
    )
    _write(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        },
        os.path.join(out_dir, "orders.parquet"),
        sch(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
            ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)),
    )
    _write(
        {
            # orders draw their lines independently, so ~2 % of orders
            # have none and (orderkey, linenumber) may repeat
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": np.round(rng.integers(0, 21, n_line) // 2 / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 17, n_line) // 2 / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, 1, 2499),
        },
        os.path.join(out_dir, "lineitem.parquet"),
        sch(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
            ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
            ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
            ("l_linestatus", s), ("l_shipdate", ts)),
    )
    # events: strictly increasing timestamps over 30 days
    gaps = rng.exponential(1.0, n_evt)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * _US_PER_DAY - 1)
    _write(
        {
            "event_id": np.arange(n_evt),
            "ts": np.datetime64("2024-01-01", "us") + offs.astype(np.int64),
            "user_id": rng.integers(0, max(1, round(15_000 * sf)), n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
        os.path.join(out_dir, "events.parquet"),
        sch(("event_id", i64), ("ts", ts), ("user_id", i64),
            ("event_type", s), ("value", f64), ("props", s)),
    )
    texts: list[str] = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n)))
    _write(
        {
            "doc_id": np.arange(n_doc),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        os.path.join(out_dir, "documents.parquet"),
        sch(("doc_id", i64), ("text", s), ("lang", s), ("source", s),
            ("n_chars", i64)),
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.14, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) / 8.0 + centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        {
            "vec_id": np.arange(n_emb),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels.astype(np.int32),
        },
        os.path.join(out_dir, "embeddings.parquet"),
        sch(("vec_id", i64), ("embedding", pa.list_(pa.float32())),
            ("label", i32)),
    )
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_emb,
    }


@dataclass(frozen=True)
class ShardTruth:
    """What a loaded shard must add to the warehouse."""

    rows: int  # melted rows, blank cells included (they land as NULL)
    reading_sum: float  # sum over non-blank cells


METERS = ("electricity", "chilledwater", "steam", "hotwater")
BLANK_FRAC = 0.02  # share of blank meter cells
REPLAY_FRAC = 0.05  # share of a stream file's rows the next file repeats


def meter_shard(root: str, seed: int, shard: str, buildings: int, hours: int) -> ShardTruth:
    """Write ``root/raw/<meter>.csv`` — ``hours`` hourly rows × one
    column per building (ids carry the shard name, so two shards never
    share a building) — and return the rows and reading sum a correct
    load lands."""
    rng = np.random.default_rng([seed, ord(shard[0])])
    os.makedirs(os.path.join(root, "raw"), exist_ok=True)
    stamps = np.datetime64("2016-01-01T00", "h") + np.arange(hours)
    stamp_txt = [str(t).replace("T", " ") + ":00:00" for t in stamps]
    sites = ["Panther", "Fox", "Rat", "Bear", "Lamb", "Wolf"]
    kinds = ["office", "lodging", "education", "parking"]
    cols = [
        f"{sites[b % 6]}_{kinds[b // 6 % 4]}_{shard}{b:04d}" for b in range(buildings)
    ]
    total = 0.0
    for meter in METERS:
        vals = np.round(rng.gamma(2.0, 60.0, (hours, buildings)) + 0.1, 1)
        blank = rng.random((hours, buildings)) < BLANK_FRAC
        total += float(vals[~blank].sum())
        cells = np.char.mod("%.1f", vals)
        cells[blank] = ""
        with open(os.path.join(root, "raw", f"{meter}.csv"), "w") as fh:
            fh.write("timestamp," + ",".join(cols) + "\n")
            for ts_txt, row in zip(stamp_txt, cells):
                fh.write(ts_txt + "," + ",".join(row) + "\n")
    return ShardTruth(rows=hours * buildings * len(METERS), reading_sum=total)


def stream_files(root: str, seed: int, n_files: int, buildings: int) -> tuple[int, int]:
    """Write ``n_files`` daily long-format parquet files into ``root``
    (file ``d`` holds day ``d`` for every building and meter hourly,
    plus ``REPLAY_FRAC`` of file ``d-1``'s rows again).
    Modification times increase with the day so the file source reads
    them in order. Returns ``(input rows, distinct keys)``."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(root, exist_ok=True)
    per_day = 24
    bids = np.array([f"B{b:05d}" for b in range(buildings)])
    meters = np.array(METERS)
    schema = pa.schema([
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("building_id", pa.string()),
        ("meter", pa.string()),
        ("meter_reading", pa.float64()),
    ])
    day0 = np.datetime64("2016-01-01", "us")
    n = per_day * buildings * len(meters)
    prev = None
    rows_in = 0
    mtime0 = 1_700_000_000
    for d in range(n_files):
        t = day0 + d * np.timedelta64(1, "D") + np.repeat(
            np.arange(per_day) * np.timedelta64(1, "h"), buildings * len(meters)
        )
        cur = {
            "timestamp": t,
            "building_id": np.tile(np.repeat(bids, len(meters)), per_day),
            "meter": np.tile(meters, per_day * buildings),
            "meter_reading": np.round(rng.gamma(2.0, 60.0, n), 1),
        }
        out = cur
        if prev is not None:
            pick = rng.random(n) < REPLAY_FRAC
            out = {k: np.concatenate([cur[k], prev[k][pick]]) for k in cur}
        path = os.path.join(root, f"day{d:03d}.parquet")
        _write(out, path, schema)
        os.utime(path, (mtime0 + d, mtime0 + d))
        rows_in += len(out["meter"])
        prev = cur
    return rows_in, n * n_files
