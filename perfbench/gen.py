"""Seeded input generator for the benchmark.

Writes TPC-H-ish tables with the schemas the engine's queries read
(lineitem, orders, part, documents) as single-row-group parquet files.
The same (seed, scale) always gives byte-identical files; another seed
gives different values with the same row counts.

    python3 perfbench/gen.py <out_dir> <seed> <scale> [table ...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "part", "documents")

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
COLORS = "red blue green black white hot small large".split()
NOUNS = "widget bolt ring gear plate nut pipe valve".split()
TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def sizes(scale: float) -> dict:
    """Row counts at a TPC-H-style scale factor."""
    return {
        "orders": max(1, int(1_500_000 * scale)),
        "part": max(1, int(200_000 * scale)),
        "customer": max(1, int(150_000 * scale)),
        "supplier": max(1, int(10_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
    }


def _days(rng, n, span_days):
    return EPOCH_1995 + (rng.integers(0, span_days, n) * 86_400_000_000).astype(
        "timedelta64[us]")


def make_tables(seed: int, scale: float) -> dict:
    """All tables for one (seed, scale), as in-memory arrow tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes(scale)
    no, np_, nc, ns = n["orders"], n["part"], n["customer"], n["supplier"]

    ok = np.arange(no, dtype=np.int64)
    orders_t = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": pa.array(_days(rng, no, 2400)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })

    pk = np.arange(np_, dtype=np.int64)
    names = np.array([f"{c} {w}" for c in COLORS for w in NOUNS])
    retail = np.round(900.0 + (pk % 1000) * 0.1, 1)
    part_t = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names[rng.integers(0, len(names), np_)]),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, np_).astype(str))),
        "p_type": pa.array(rng.choice(TYPES, np_)),
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": retail,
    })

    # 1..7 lines per order, as a seeded permutation of a fixed multiset so
    # every seed gives the same lineitem row count
    lines = rng.permutation(np.resize(np.arange(1, 8), no))
    lk = np.repeat(ok, lines)
    ln = (np.arange(len(lk)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    nl = len(lk)
    lpk = rng.integers(0, np_, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    perm = rng.permutation(nl)
    lineitem_t = pa.table({
        "l_orderkey": lk[perm],
        "l_partkey": lpk[perm],
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64)[perm],
        "l_linenumber": ln.astype(np.int32)[perm],
        "l_quantity": qty[perm],
        "l_extendedprice": np.round(qty * retail[lpk] * rng.uniform(0.9, 2.3, nl), 2)[perm],
        "l_discount": (rng.integers(0, 11, nl) / 100.0)[perm],
        "l_tax": (rng.integers(0, 9, nl) / 100.0)[perm],
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)[perm]),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)[perm]),
        "l_shipdate": pa.array(_days(rng, nl, 2500)[perm]),
    })

    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near-duplicate of an earlier document: one token replaced
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = "dup"
        elif i > 10 and r < 0.08:
            # contained span of an earlier document
            toks = texts[rng.integers(0, i)].split()
            toks = toks[: max(3, len(toks) // 2)]
        else:
            toks = list(rng.choice(WORDS, rng.integers(10, 100)))
        texts.append(" ".join(toks))
    documents_t = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd)),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, nd).astype(str))),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"lineitem": lineitem_t, "orders": orders_t, "part": part_t,
            "documents": documents_t}


def write(out_dir: str, seed: int, scale: float, tables=TABLES) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in make_tables(seed, scale).items():
        if name in tables:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                           row_group_size=len(t) or 1, compression="snappy")


if __name__ == "__main__":
    out, seed, scale = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    write(out, seed, scale, tuple(sys.argv[4:]) or TABLES)
