"""Seeded input generator: the ten fixture-schema tables (FIXTURES.md §A)
plus, for ``events_mixed``, the micro-batch files of the event stream.

The same ``(workload, seed)`` always gives byte-identical parquet files:
every table draws from its own ``numpy`` generator seeded with
``[seed, table number]`` and is written by pyarrow with fixed options.
Sizes and data properties per workload live in ``workloads.json``.

    python3 perfbench/gen.py --workload daily_etl --seed 1 --out DIR

prints one JSON object mapping each written file to its sha256.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def load_config() -> dict:
    with open(HERE / "workloads.json") as f:
        return json.load(f)


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table) + 1])


def _ts(day: str) -> np.datetime64:
    return np.datetime64(day, "us")


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    """Uniform whole days in [lo, hi] as timestamp[us] (midnight)."""
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return (np.datetime64(lo, "D") + rng.integers(0, span + 1, n)).astype(
        "datetime64[us]"
    )


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_region(seed, size):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": names,
    })


def gen_nation(seed, size):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def gen_customer(seed, size):
    n = size["customer"]
    rng = _rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def gen_supplier(seed, size):
    n = size["supplier"]
    rng = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })


def gen_part(seed, size):
    n = size["part"]
    rng = _rng(seed, "part")
    adj = rng.integers(0, len(P_ADJ), n)
    noun = rng.integers(0, len(P_NOUN), n)
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })


def gen_orders(seed, size):
    n = size["orders"]
    rng = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, size["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": pa.array(
            _dates(rng, n, *size["order_dates"]), pa.timestamp("us")
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def gen_lineitem(seed, size):
    """Lines of random orders; (l_orderkey, l_linenumber) is unique so the
    best-sale tiebreak on (order, line) is total."""
    n = size["lineitem"]
    rng = _rng(seed, "lineitem")
    orderkey = np.sort(rng.integers(0, size["orders"], n))
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    starts = np.flatnonzero(first)
    run_id = np.cumsum(first) - 1
    linenumber = np.arange(n) - starts[run_id] + 1
    qty = rng.integers(1, 51, n).astype(float)
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, size["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            _dates(rng, n, *size["ship_dates"]), pa.timestamp("us")
        ),
    })


def _events(rng, n: int, start: str, span_s: int, users: int) -> dict:
    """Events in time order (event_id follows ts), microsecond stamps."""
    offs = np.sort(rng.integers(0, span_s * 1_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(start) + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _events_table(cols: dict) -> pa.Table:
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def gen_events(seed, size):
    rng = _rng(seed, "events")
    return _events_table(_events(
        rng, size["events"], "2024-01-01", size["event_span_s"], size["users"]
    ))


def gen_documents(seed, size):
    """Bag-of-words documents over a ``vocab``-word vocabulary; a
    ``near_dup_share`` of them copy an earlier document with one token
    replaced."""
    n = size["documents"]
    rng = _rng(seed, "documents")
    vocab = BASE_WORDS + [f"w{i}" for i in range(size["vocab"] - len(BASE_WORDS))]
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < size["near_dup_share"]:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(10, 90)))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_embeddings(seed, size):
    """Unit vectors scattered around one centroid per label."""
    n, dim = size["embeddings"], 64
    rng = _rng(seed, "embeddings")
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vecs = centroids[label] + rng.normal(scale=0.8, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def stream_batches(seed: int, stream: dict) -> list[pa.Table]:
    """The event stream cut into ``batches`` time slices of
    ``slice_s`` seconds; an ``out_of_order_share`` of each slice's events
    arrives one batch late (lateness below one slice, inside the
    watermark delay)."""
    rng = np.random.default_rng([seed, len(TABLES) + 1])
    nb, per, slice_s = stream["batches"], stream["events_per_batch"], stream["slice_s"]
    cols = _events(rng, nb * per, stream["start"], nb * slice_s, stream["users"])
    ev = cols["event_id"]
    home = ((cols["ts"] - _ts(stream["start"])).astype(np.int64)
            // (slice_s * 1_000_000))
    late = rng.random(len(ev)) < stream["out_of_order_share"]
    arrival = np.minimum(home + late, nb - 1)
    out = []
    for b in range(nb):
        idx = np.flatnonzero(arrival == b)
        out.append(_events_table({k: v[idx] for k, v in cols.items()}))
    return out


GENERATORS = {t: globals()[f"gen_{t}"] for t in TABLES}


def _write(table: pa.Table, path: Path) -> str:
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return hashlib.sha256(path.read_bytes()).hexdigest()


def generate(workload: str, seed: int, out: str | Path) -> dict[str, str]:
    """Write every input of ``workload`` under ``out``; return
    {relative path: sha256}."""
    cfg = load_config()[workload]
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    hashes = {}
    for t in TABLES:
        hashes[f"{t}.parquet"] = _write(GENERATORS[t](seed, cfg["sizes"]), out / f"{t}.parquet")
    if "stream" in cfg:
        (out / "stream").mkdir(exist_ok=True)
        for b, tbl in enumerate(stream_batches(seed, cfg["stream"])):
            name = f"stream/batch_{b:04d}.parquet"
            hashes[name] = _write(tbl, out / name)
    return hashes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(load_config()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ns = ap.parse_args()
    json.dump(generate(ns.workload, ns.seed, ns.out), sys.stdout, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
