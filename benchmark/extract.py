"""Makes the benchmark's committed input extracts from the engine's test data.

    python3 benchmark/extract.py SF_DIR OUT_DIR [--year YYYY]

Copies the tables the workloads read (region, nation, customer, supplier,
part, orders, lineitem, events, documents) from a test-data scale directory
into OUT_DIR, rewritten with zstd; the rows and their values are unchanged.
With ``--year``, orders keep only those dated in that calendar year and
lineitem only those orders' lines; every other table is copied whole.

The checked-in extracts were made with

    python3 benchmark/extract.py <test data>/sf0.1   benchmark/data/sf0.1 --year 1997
    python3 benchmark/extract.py <test data>/sf0.001 benchmark/data/sf0.001
"""
import argparse
import datetime
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("src")
    ap.add_argument("out")
    ap.add_argument("--year", type=int)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    tables = {t: pq.read_table(os.path.join(a.src, f"{t}.parquet")) for t in TABLES}
    if a.year:
        o = tables["orders"]
        lo = pa.scalar(datetime.datetime(a.year, 1, 1), o.schema.field("o_orderdate").type)
        hi = pa.scalar(datetime.datetime(a.year + 1, 1, 1), o.schema.field("o_orderdate").type)
        d = o["o_orderdate"]
        o = o.filter(pc.and_(pc.greater_equal(d, lo), pc.less(d, hi)))
        tables["orders"] = o
        li = tables["lineitem"]
        tables["lineitem"] = li.filter(pc.is_in(li["l_orderkey"], value_set=o["o_orderkey"]))
    for t, tb in tables.items():
        pq.write_table(tb, os.path.join(a.out, f"{t}.parquet"),
                       compression="zstd", compression_level=19)
        print(t, tb.num_rows)


if __name__ == "__main__":
    main()
