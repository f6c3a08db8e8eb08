"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical files. Outputs land under ``perfbench/.cache`` (not
tracked), keyed by workload and seed, and are reused by later runs.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- ingest
ORDER_COLS = ["order_id", "customer_id", "status", "amount", "note", "updated_at"]
STATUSES = np.array(["open", "paid", "shipped", "returned", "cancelled"])
NOTE_WORDS = np.array(["fragile", "gift", "rush", "bulk", "repeat", "new"])


def _order_rows(rng, keys: np.ndarray, drop: int) -> list[list[str]]:
    n = len(keys)
    cust = rng.integers(1, 50_000, size=n)
    status = STATUSES[rng.integers(0, len(STATUSES), size=n)]
    cents = rng.integers(100, 5_000_000, size=n)
    w1 = NOTE_WORDS[rng.integers(0, len(NOTE_WORDS), size=n)]
    w2 = NOTE_WORDS[rng.integers(0, len(NOTE_WORDS), size=n)]
    quoted = rng.random(n) < 0.2
    secs = rng.integers(0, 86_400, size=n)
    day = dt.datetime(2024, 1, 1) + dt.timedelta(days=drop)
    rows = []
    for i in range(n):
        # every fifth note carries a comma and an escaped quote, so the
        # OpenCSV dialect (quote '"', escape '\') is exercised
        note = f'{w1[i]}, "{w2[i]}"' if quoted[i] else f"{w1[i]} {w2[i]}"
        ts = day + dt.timedelta(seconds=int(secs[i]))
        rows.append([
            str(int(keys[i])), str(int(cust[i])), str(status[i]),
            f"{cents[i] // 100}.{cents[i] % 100:02d}", note,
            ts.strftime("%Y-%m-%d %H:%M:%S"),
        ])
    return rows


def _write_drop(path: str, rows: list[list[str]]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, quotechar='"', escapechar="\\",
                       doublequote=False, quoting=csv.QUOTE_MINIMAL,
                       lineterminator="\n")
        w.writerow(ORDER_COLS)
        w.writerows(rows)


def ingest_drops(out: str, seed: int, n_drops: int, base_rows: int,
                 rows_per_drop: int, update_frac: float) -> list[str]:
    """Drop 0 is the base load of ``base_rows`` new keys; drops 1..n each
    hold ``rows_per_drop`` new keys plus ``update_frac`` of that many
    updates to keys landed by earlier drops (distinct within a drop).
    Drop ``i`` is ``dt=<2024-01-01 + i days>/part-00000.csv``; returns
    the relative paths in landing order."""
    rng = np.random.default_rng([seed, 1])
    paths, next_key = [], 1
    for d in range(n_drops + 1):
        n_new = base_rows if d == 0 else rows_per_drop
        keys = np.arange(next_key, next_key + n_new)
        if d > 0:
            n_upd = int(rows_per_drop * update_frac)
            keys = np.concatenate(
                [keys, rng.choice(next_key - 1, size=n_upd, replace=False) + 1]
            )
        next_key += n_new
        day = (dt.date(2024, 1, 1) + dt.timedelta(days=d)).isoformat()
        rel = f"dt={day}/part-00000.csv"
        _write_drop(os.path.join(out, rel), _order_rows(rng, keys, d))
        paths.append(rel)
    return paths


# ------------------------------------------------------------ analytics
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def _ts(base: np.datetime64, offsets, unit: str):
    return pa.array((base + offsets.astype(f"timedelta64[{unit}]")).astype("datetime64[us]"))


def _money(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo * 100, hi * 100, size=n) / 100.0


def tpch_tables(out: str, seed: int, sf: float, variant: int = 0) -> None:
    """TPC-H-shaped region/nation/customer/supplier/orders/lineitem plus
    an events table, with the column names and types the registry's
    relational queries read. Money columns carry two decimals so the
    DECIMAL(12,2) casts on both engines are exact."""
    rng = np.random.default_rng([seed, 2, variant])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_ord = int(15_000 * sf), int(1_000 * sf), int(150_000 * sf)
    n_users, n_events = int(15_000 * sf), int(1_000_000 * sf)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    day0 = np.datetime64("1992-01-01")
    o_days = rng.integers(0, 3650, n_ord)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900, 500_000, n_ord),
        "o_orderdate": _ts(day0, o_days, "D"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    line = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(20_000 * sf) or 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(day0, np.repeat(o_days, per) + rng.integers(1, 122, n_li), "D"),
    })
    # strictly increasing microsecond timestamps: no (user, ts) ties, so
    # every window/as-of oracle is deterministic
    gaps = rng.integers(1, 2 * (30 * 86_400_000_000 // n_events), n_events)
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us"), np.cumsum(gaps), "us"),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": _money(rng, 0, 200, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def snapshot_batches(seed: int, n_batches: int, rows: int):
    """Append batches for the read workload's snapshot table: ``k`` is
    dense and ascending across batches (zone maps prune ranges on it),
    ``uid`` is a random high-cardinality key (zone maps prune nothing on
    it; the bloom index does)."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for b in range(n_batches):
        k = np.arange(b * rows, (b + 1) * rows, dtype=np.int64)
        out.append({
            "k": k,
            "uid": rng.permutation(k) * 7919 % 1_000_003 + b * 1_000_003,
            "grp": rng.integers(0, 50, rows).astype(np.int32),
            "val": _money(rng, 0, 1000, rows),
        })
    return out


# ------------------------------------------------------------ curation
def corpus_shard(out: str, seed: int, cycle: int, n_docs: int, n_vecs: int,
                 n_near_dups: int) -> str:
    """One curation shard: documents and 64-d embeddings from the same
    random processes as ``tools/gen_sf1.py`` (31-word vocabulary; unit
    vectors in 10 clusters), seeded by (seed, cycle). Independent random
    texts share almost no 3-word shingles, so ``n_near_dups`` of the
    documents are copies of others with one word deleted: the near
    duplicates a curation pass exists to find."""
    import pandas as pd

    from tools.gen_sf1 import gen_documents, gen_embeddings

    d = os.path.join(out, f"shard{cycle:03d}")
    if not os.path.exists(os.path.join(d, "embeddings.parquet")):
        os.makedirs(d, exist_ok=True)
        s = int(np.random.default_rng([seed, 4, cycle]).integers(1 << 31))
        gen_documents(d, n=n_docs - n_near_dups, seed=s)
        path = os.path.join(d, "documents.parquet")
        docs = pq.read_table(path).to_pandas()
        rng = np.random.default_rng([seed, 7, cycle])
        src = docs.iloc[rng.choice(len(docs), n_near_dups, replace=False)]
        texts = []
        for t in src.text:
            toks = t.split(" ")
            i = int(rng.integers(len(toks)))
            texts.append(" ".join(toks[:i] + toks[i + 1:]))
        dups = src.assign(doc_id=np.arange(len(docs), len(docs) + n_near_dups),
                          text=texts, n_chars=[len(t) for t in texts])
        pq.write_table(pa.Table.from_pandas(pd.concat([docs, dups]), preserve_index=False),
                       path)
        gen_embeddings(d, n=n_vecs, seed=s + 1)
    return d
