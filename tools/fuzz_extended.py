"""Extended differential predicate fuzz — one-off assurance runs.

Wider grammar than tests/test_fuzz_predicates.py (adds timestamp
comparisons, arithmetic expressions, LIKE, IS [NOT] NULL, nested
depth 3) and a bigger corpus, run at driver scale (sf0.01). Property:
Spark `filter(expr(P))` count == DuckDB `WHERE P` count for identical
predicate text.

Usage: python tools/fuzz_extended.py [--n 300] [--seed 20260813]
"""

from __future__ import annotations

import argparse
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_arcgis_spark.session import get_session  # noqa: E402
from etl_arcgis_spark.tables import table  # noqa: E402

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey", "l_linenumber"]
STR_COLS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]}
NUM_LITS = [0, 1, 7, 25, 50, 0.05, 0.5, 900.0, 45000.0, 3000]
DATES = [
    "1993-01-01 00:00:00",
    "1995-06-17 00:00:00",
    "1997-11-29 00:00:00",
    "1998-09-02 00:00:00",
]
ARITH = [
    "l_extendedprice * (1 - l_discount)",
    "l_quantity * l_extendedprice",
    "l_orderkey % 7",
    "l_extendedprice + l_quantity",
    "-l_discount",
]


def atom(r: random.Random) -> str:
    kind = r.choice(["num", "num", "str", "date", "arith", "null", "like"])
    if kind == "num":
        col = r.choice(NUM_COLS)
        op = r.choice(["<", "<=", "=", ">", ">=", "<>"])
        return f"{col} {op} {r.choice(NUM_LITS)}"
    if kind == "str":
        col = r.choice(sorted(STR_COLS))
        if r.random() < 0.5:
            return f"{col} = '{r.choice(STR_COLS[col])}'"
        vals = r.sample(STR_COLS[col], r.randint(1, 2))
        return "{} IN ({})".format(col, ", ".join(f"'{v}'" for v in vals))
    if kind == "date":
        op = r.choice(["<", "<=", ">", ">="])
        return f"l_shipdate {op} TIMESTAMP '{r.choice(DATES)}'"
    if kind == "arith":
        e = r.choice(ARITH)
        op = r.choice(["<", ">", "<=", ">="])
        return f"({e}) {op} {r.choice(NUM_LITS)}"
    if kind == "null":
        col = r.choice(NUM_COLS + sorted(STR_COLS))
        return f"{col} IS {'NOT ' if r.random() < 0.5 else ''}NULL"
    pat = r.choice(["F", "O", "%", "_", "F%", "%O"])
    return f"l_linestatus LIKE '{pat}'"


def predicate(r: random.Random, depth: int = 0) -> str:
    if depth >= 3 or r.random() < 0.4:
        return atom(r)
    left = predicate(r, depth + 1)
    right = predicate(r, depth + 1)
    op = r.choice(["AND", "OR"])
    neg = "NOT " if r.random() < 0.3 else ""
    return f"{neg}(({left}) {op} ({right}))"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=300)
    ap.add_argument("--seed", type=int, default=20260813)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_session("fuzz", shuffle_partitions=4)
    li = table(spark, args.sf, "lineitem").cache()
    li.count()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{args.sf}/lineitem.parquet')"
    )
    r = random.Random(args.seed)
    bad = 0
    for i in range(args.n):
        pred = predicate(r)
        try:
            s = li.filter(F.expr(pred)).count()
            d = con.execute(f"SELECT count(*) FROM lineitem WHERE {pred}").fetchone()[0]
        except Exception as e:
            print(f"ERROR on {pred!r}: {e}")
            bad += 1
            continue
        if s != d:
            print(f"DISAGREE {pred!r}: spark={s} duck={d}")
            bad += 1
    print(f"{args.n - bad}/{args.n} agree (seed={args.seed}, sf={args.sf})")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
