"""Seeded inputs of the sync-pipeline benchmark, cut from a test-data extract.

Every table is copied unchanged from the extract (``data/sf0.1`` by
default, see extract.py) except two. For orders and lineitem the seed picks
a window of ``days`` consecutive order dates, and only the orders in it and
their lines are kept: the window sets the day-grain fact's partition count,
which dominates the cost of every sync call. Of the documents the seed
draws ``docs`` at random, kept in ``doc_id`` order. Both cuts size a run
to the benchmark's time budget (README.md, "Scale"). The same seed and
extract always give the same tables.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = {"sf0.1": os.path.join(HERE, "data", "sf0.1"),
        "sf0.001": os.path.join(HERE, "data", "sf0.001")}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")
DAYS = 60
DOCS = 2000


def window(seed, orders, days=DAYS):
    """(first, end) order dates of the seed's window: `days` consecutive
    days inside the extract's order-date range, end exclusive."""
    lo, hi = (v.as_py().date() for v in pc.min_max(orders["o_orderdate"]).values())
    span = max(0, (hi - lo).days + 1 - days)
    first = lo + datetime.timedelta(days=random.Random(seed).randint(0, span))
    return first, first + datetime.timedelta(days=days)


def tables(seed, src, days=DAYS, docs=DOCS):
    """Table name -> arrow table, plus the window, for one seed."""
    out = {t: pq.read_table(os.path.join(src, f"{t}.parquet")) for t in TABLES}
    o = out["orders"]
    first, end = window(seed, o, days)
    ts = o.schema.field("o_orderdate").type
    d = o["o_orderdate"]
    o = o.filter(pc.and_(
        pc.greater_equal(d, pa.scalar(datetime.datetime.combine(first, datetime.time()), ts)),
        pc.less(d, pa.scalar(datetime.datetime.combine(end, datetime.time()), ts))))
    li = out["lineitem"]
    out["orders"] = o
    out["lineitem"] = li.filter(pc.is_in(li["l_orderkey"], value_set=o["o_orderkey"]))
    d = out["documents"]
    if d.num_rows > docs:
        out["documents"] = d.take(sorted(random.Random(seed).sample(range(d.num_rows), docs)))
    return out, (first, end)


def write(seed, src, out_dir):
    """Writes the seed's tables under `out_dir`; returns a summary of them."""
    ts, (first, end) = tables(seed, src)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in ts.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"window": f"{first}..{end}", "orders": ts["orders"].num_rows,
            "lineitem": ts["lineitem"].num_rows, "events": ts["events"].num_rows,
            "documents": ts["documents"].num_rows}
