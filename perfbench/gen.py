"""Seeded input generator for the benchmark.

Writes the ten test-data tables (region nation customer supplier part
orders lineitem events documents embeddings) with the schemas and value
distributions of the repository's synthetic test data, and the event
files the streaming workload publishes. Everything comes from a numpy
PCG64 stream keyed by the seed, and every file is written with pyarrow
without wall-clock metadata, so one seed gives byte-identical files.

Usage: python3 gen.py <out-dir> <sf> <seed>
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_NAIVE = pa.timestamp("us")
TS_UTC = pa.timestamp("us", tz="UTC")
# the sf0.1 test data's 100 000 events span 30 days; event gaps are
# drawn to keep that density
EVENT_SPAN_US = 30 * US_PER_DAY


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def event_rows(rng, n, first_id, n_users, t0_us):
    """`n` fresh events with ids first_id.. and increasing timestamps."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    gaps = rng.exponential(EVENT_SPAN_US / 100_000, n)
    ts = t0_us + np.cumsum(gaps).astype(np.int64)
    return {
        "event_id": ids,
        "ts": ts,
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n)],
    }


def _events_table(cols, ts_type):
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], ts_type),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(out, sf, seed, only=None):
    """The ten test-data tables at scale factor `sf` (or just those named
    in `only`; the customer table comes first, so it is the same
    either way)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_ord, n_part = int(150_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
    n_supp, n_events = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_line = 4 * n_ord
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    if only is not None and set(only) <= {"customer"}:
        return
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    keys = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(keys),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2405, n_ord) * US_PER_DAY, TS_NAIVE),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * US_PER_DAY,
                               TS_NAIVE),
    }), f"{out}/lineitem.parquet")
    _write(_events_table(event_rows(rng, n_events, 0, max(1, n_cust // 10), EPOCH_2024),
                         TS_NAIVE), f"{out}/events.parquet")
    _write(_documents(rng, max(500, int(50_000 * sf))), f"{out}/documents.parquet")
    _write(_embeddings(rng, max(500, int(20_000 * sf))), f"{out}/embeddings.parquet")


def write_stream(out, seed, sizes, n_customers, key=0, dup_frac=0.02, orphan_frac=0.01):
    """Event files for the streaming workload, one per entry of `sizes`.

    Event ids are fresh and increasing across files. About `dup_frac`
    of each file's rows are exact re-sends of rows from earlier files
    (at-least-once duplicates), and about `orphan_frac` carry a user id
    no customer has. `key` separates independent streams of one seed.
    Returns the manifest: per file its name, row count
    and duplicate count.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([seed, 1, key]))
    n_users = max(1, n_customers // 10)
    sent, manifest, next_id, t0 = [], [], 0, EPOCH_2024
    for i, n in enumerate(sizes):
        n_dup = int(round(n * dup_frac)) if sent else 0
        fresh = event_rows(rng, n - n_dup, next_id, n_users, t0)
        next_id += n - n_dup
        t0 = int(fresh["ts"][-1])
        orphan = rng.random(n - n_dup) < orphan_frac
        fresh["user_id"] = np.where(orphan, n_customers + rng.integers(0, 1000, n - n_dup),
                                    fresh["user_id"])
        cols = fresh
        if n_dup:
            pool = {k: np.concatenate([s[k] for s in sent]) for k in fresh}
            pick = rng.choice(len(pool["event_id"]), n_dup, replace=False)
            cols = {k: np.concatenate([fresh[k], pool[k][pick]]) for k in fresh}
            order = rng.permutation(n)
            cols = {k: v[order] for k, v in cols.items()}
        sent.append(fresh)
        name = f"events-{i:05d}.parquet"
        _write(_events_table(cols, TS_UTC), f"{out}/{name}")
        manifest.append({"file": name, "rows": n, "dups": n_dup})
    return manifest


if __name__ == "__main__":
    out, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    write_tables(out, sf, seed)
    print(json.dumps({"tables": out, "sf": sf, "seed": seed}))
