"""sf1.0 fixture generator (VERDICT r9 #2).

/root/testdata stops at sf0.1 (17 MB), where DuckDB baselines for
several headline queries sit AT OR BELOW Spark's fixed per-job floor
(23-39 ms) — the 2x bench bar there measures JVM job overhead, not
engine quality. This tool generates a 10x-larger sf1 fixture set under
<repo>/testdata_sf1 (gitignored; regenerate on demand) with the
SAME schemas, dtypes, value domains, and distributional shape as the
driver fixtures (measured from /root/testdata/sf0.1 — see the stats
table in SCALING.md §sf1), so the bench comparison becomes
compute-bound.

Deterministic: numpy PCG64 seed 42. NOT a byte-replica of the driver's
generator (that code isn't available) — correctness checks stay on the
driver fixtures; sf1 exists for RELATIVE timing (Spark vs DuckDB on
identical inputs) and scaling probes.

Row counts (10x sf0.1): customer 150k, supplier 10k, part 200k,
orders 1.5M, lineitem ~6.1M, events 1M, documents 50k,
embeddings 20k; region/nation copied verbatim (fixed dims).

    python tools/make_sf1.py [--out <repo>/testdata_sf1] [--scale 10]
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"

MKTSEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["O", "F"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

US_PER_DAY = 86_400_000_000


def _ts_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype("int64"))


def _write(out: str, name: str, table: pa.Table) -> None:
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path)
    print(f"wrote {path}: rows={table.num_rows}")


def gen(out: str, scale: float = 10.0, seed: int = 42) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    for t in ("region", "nation"):
        shutil.copyfile(os.path.join(SRC, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
        print(f"copied {t}.parquet")

    n_cust = int(15_000 * scale)
    n_supp = int(1_000 * scale)
    n_part = int(20_000 * scale)
    n_ord = int(150_000 * scale)
    n_ev = int(100_000 * scale)
    n_doc = int(5_000 * scale)
    n_vec = int(2_000 * scale)

    # --- customer ---------------------------------------------------
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(MKTSEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))

    # --- supplier ---------------------------------------------------
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))

    # --- part ---------------------------------------------------------
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", pa.table({
        "p_partkey": pk,
        "p_name": pa.array([
            f"{ADJS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": 900.0 + (pk % 1000) * 0.1,
    }))

    # --- orders -------------------------------------------------------
    ok = np.arange(n_ord, dtype=np.int64)
    od_lo, od_hi = _ts_us("1995-01-01"), _ts_us("2001-08-01")
    odate = rng.integers(od_lo // US_PER_DAY, od_hi // US_PER_DAY + 1, n_ord) * US_PER_DAY
    _write(out, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }))

    # --- lineitem (1..7 lines per order, avg ~4.07) --------------------
    nlines = rng.integers(1, 8, n_ord)
    lok = np.repeat(ok, nlines)
    n_li = int(lok.size)
    linenum = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    sd_lo, sd_hi = _ts_us("1995-01-02"), _ts_us("2001-11-04")
    sdate = rng.integers(sd_lo // US_PER_DAY, sd_hi // US_PER_DAY + 1, n_li) * US_PER_DAY
    _write(out, "lineitem", pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(linenum),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 4),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 4),
        "l_returnflag": pa.array(np.array(RETURNFLAGS)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(LINESTATUSES)[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(sdate, pa.timestamp("us")),
    }))

    # --- events (ts-sorted over 30 days, exponential value) -----------
    ev_lo, ev_hi = _ts_us("2024-01-01"), _ts_us("2024-01-31")
    ts = np.sort(rng.integers(ev_lo, ev_hi, n_ev))
    n_users = int(1_500 * scale)
    _write(out, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }))

    # --- documents (31-word vocab, 10-100 words, ~5% near-dups) -------
    lengths = rng.integers(10, 101, n_doc)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 100 and r < 0.05:
            # near-dup: copy an earlier doc, mutate ~10% of words
            src_words = texts[int(rng.integers(0, i))].split(" ")
            w = np.array(src_words)
            flip = rng.random(w.size) < 0.10
            w[flip] = vocab[rng.integers(0, vocab.size, int(flip.sum()))]
            texts.append(" ".join(w))
        elif i > 100 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact dup
        else:
            texts.append(" ".join(vocab[rng.integers(0, vocab.size, lengths[i])]))
    _write(out, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    # --- embeddings (10 unit-norm clusters in 64-d) --------------------
    dim = 64
    cents = rng.normal(size=(10, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vec).astype(np.int32)
    v = cents[label] * 2.0 + rng.normal(size=(n_vec, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32()))
    _write(out, "embeddings", pa.Table.from_arrays(
        [pa.array(np.arange(n_vec, dtype=np.int64)), emb, pa.array(label)],
        names=["vec_id", "embedding", "label"],
    ))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "testdata_sf1"))
    ap.add_argument("--scale", type=float, default=10.0)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    gen(args.out, args.scale, args.seed)
    return 0


if __name__ == "__main__":
    main()
