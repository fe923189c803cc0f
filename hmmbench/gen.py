"""Seeded input generator for the benchmark.

Writes the eight star-schema tables described in TESTDATA.md (region,
nation, customer, supplier, part, orders, lineitem, events) as one
Parquet file with one row group each. Row counts are fixed by the scale
factor (0.1 gives the sf0.1 sizes: 600 k lineitem, 150 k orders rows);
the seed changes values only, so two seeds give inputs of the same
shape and the same seed gives byte-identical files.

    python3 hmmbench/gen.py <out_dir> <seed> [<scale factor>]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor; region and nation are fixed dimensions
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
EVENT_USERS_PER_SF = 15_000


def row_counts(sf):
    rows = {"region": 5, "nation": 25}
    rows.update({t: round(n * sf) for t, n in ROWS_PER_SF.items()})
    return rows

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400 * 1_000_000


def _ts_days(rng, n, start, ndays):
    """Whole-day timestamps (µs) uniform over [start, start + ndays)."""
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, ndays, n) * DAY_US,
                    type=pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), type=pa.float64())


def tables(seed, sf):
    """Build every table for `seed` at scale `sf`; returns {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    ROWS = row_counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS, type=pa.string()),
    })
    nk = np.arange(ROWS["nation"])
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk, type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in nk], type=pa.string()),
        "n_regionkey": pa.array(nk % 5, type=pa.int32()),
    })
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], type=pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    adj = np.asarray(ADJECTIVES, dtype=object)[rng.integers(0, len(ADJECTIVES), n)]
    noun = np.asarray(NOUNS, dtype=object)[rng.integers(0, len(NOUNS), n)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), type=pa.int64()),
        "p_name": pa.array(adj + " " + noun, type=pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], type=pa.string()),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
                                  type=pa.float64()),
    })
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts_days(rng, n, "1995-01-01", 2405),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), type=pa.float64()),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, type=pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, type=pa.float64()),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts_days(rng, n, "1995-01-02", 2499),
    })
    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, round(EVENT_USERS_PER_SF * sf), n), type=pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          type=pa.string()),
    })
    return out


def write(out_dir, seed, sf):
    """Write every table for `seed` at scale `sf` under `out_dir`;
    returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tb in tables(seed, sf).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=tb.num_rows)
        total += tb.num_rows
    return total


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit("usage: gen.py <out_dir> <seed> [<scale factor>]")
    print(write(sys.argv[1], int(sys.argv[2]),
                float(sys.argv[3]) if len(sys.argv) == 4 else 0.1))
