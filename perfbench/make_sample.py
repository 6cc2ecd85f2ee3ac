"""Draw the analytics sample pool from an sf0.1 table directory.

    python3 perfbench/make_sample.py <sf0.1 dir>            # rewrite data/
    python3 perfbench/make_sample.py <sf0.1 dir> --shape    # print shapes only

The benchmark may read only inside its checkout, so the rows the
analytics workload samples from are committed under
`perfbench/data/sf0.1-sample/`. This script made them. It keeps, for a
fixed seeded choice of customers, every one of their orders and every
line of those orders, so the customer -> supplier trade graph keeps its
per-customer degree; and a uniform seeded sample of the documents, which
keeps the near-duplicate pair density. Run-time seeds then sample half of
this pool (`gen.analytics_inputs`).

`--shape` prints the figures NOTES.md compares: for the full sf0.1
tables, for the pool, and for the seed-1 run-time sample. It needs
duckdb and numpy; the benchmark itself needs neither.
"""

import argparse
import csv
import gzip
import io
import os
import random
import statistics
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

POOL_SEED = 20240630
POOL_CUSTOMERS = 600      # of sf0.1's 14,999 customers with orders (4%)
POOL_DOCUMENTS = 1_000    # of sf0.1's 5,000 documents (20%)


def _cell(v):
    if v is None:
        return ""
    if hasattr(v, "isoformat"):
        assert (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0), v
        return v.date().isoformat()
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _write_pool(name, rows):
    path = os.path.join(gen.POOL_DIR, f"{name}.csv.gz")
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    for r in rows:
        w.writerow([_cell(v) for v in r])
    # mtime 0 and no file name in the header: the same rows give the same bytes
    with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0) as z:
        z.write(buf.getvalue().encode("utf-8"))
    return len(rows)


def draw_pool(sf_dir):
    con = duckdb.connect()

    def q(sql):
        return con.execute(sql).fetchall()

    def cols(table):
        return ", ".join(gen.ANALYTICS_COLUMNS[table])

    rng = random.Random(POOL_SEED)
    custs = [r[0] for r in q(f"SELECT DISTINCT o_custkey FROM "
                             f"'{sf_dir}/orders.parquet' ORDER BY 1")]
    keep = sorted(rng.sample(custs, POOL_CUSTOMERS))
    con.execute("CREATE TABLE keep AS SELECT unnest(?) AS c", [keep])
    orders = q(f"SELECT {cols('orders')} FROM '{sf_dir}/orders.parquet' "
               "WHERE o_custkey IN (SELECT c FROM keep) ORDER BY o_orderkey")
    lines = q(f"SELECT {cols('lineitem')} FROM '{sf_dir}/lineitem.parquet' "
              "WHERE l_orderkey IN (SELECT o_orderkey FROM "
              f"'{sf_dir}/orders.parquet' WHERE o_custkey IN "
              "(SELECT c FROM keep)) ORDER BY l_orderkey, l_linenumber")
    doc_ids = [r[0] for r in q(f"SELECT doc_id FROM "
                               f"'{sf_dir}/documents.parquet' ORDER BY 1")]
    docs_keep = sorted(rng.sample(doc_ids, POOL_DOCUMENTS))
    con.execute("CREATE TABLE dkeep AS SELECT unnest(?) AS d", [docs_keep])
    docs = q(f"SELECT {cols('documents')} FROM '{sf_dir}/documents.parquet' "
             "WHERE doc_id IN (SELECT d FROM dkeep) ORDER BY doc_id")
    os.makedirs(gen.POOL_DIR, exist_ok=True)
    return {"orders": _write_pool("orders", orders),
            "lineitem": _write_pool("lineitem", lines),
            "documents": _write_pool("documents", docs)}


# ---------------------------------------------------------------- shapes

def _neardup(texts, threshold=0.9):
    """Share of documents in at least one pair whose word sets have a
    Jaccard similarity >= threshold, and the share of all pairs that are."""
    vocab = sorted({w for t in texts for w in t.split()})
    idx = {w: i for i, w in enumerate(vocab)}
    m = np.zeros((len(texts), len(vocab)), dtype=np.int32)
    for k, t in enumerate(texts):
        for w in set(t.split()):
            m[k, idx[w]] = 1
    inter = m @ m.T
    size = m.sum(1)
    jac = inter / (size[:, None] + size[None, :] - inter)
    np.fill_diagonal(jac, 0)
    hit = jac >= threshold
    n = len(texts)
    return len(vocab), hit.any(1).mean(), hit.sum() / (n * (n - 1))


def shape(orders, lines, docs):
    """The figures the analytics gates depend on, from rows shaped as
    gen.ANALYTICS_COLUMNS (strings, as read back from CSV, are fine)."""
    cust = [int(o[1]) for o in orders]
    okeys = {int(o[0]): int(o[1]) for o in orders}
    edges = {(okeys[int(l[0])], int(l[2])) for l in lines if int(l[0]) in okeys}
    words = [len(d[1].split()) for d in docs]
    vocab, in_pair, density = _neardup([d[1] for d in docs])
    flags = [l[8] for l in lines]
    langs = [d[2] for d in docs]
    q = statistics.quantiles(words, n=10)
    return {
        "orders": len(orders),
        "customers": len(set(cust)),
        "orders_per_customer": round(len(orders) / len(set(cust)), 2),
        "lineitem": len(lines),
        "lines_per_order": round(len(lines) / len(orders), 2),
        "suppliers": len({int(l[2]) for l in lines}),
        "parts": len({int(l[1]) for l in lines}),
        "trade_edges_per_customer": round(len(lines) / len(set(cust)), 1),
        "distinct_cust_supp_pairs": len(edges),
        "returnflag_share": {f: round(flags.count(f) / len(flags), 3)
                             for f in sorted(set(flags))},
        "documents": len(docs),
        "vocabulary": vocab,
        "words_per_doc_p10_p50_p90": [q[0], q[4], q[8]],
        "docs_in_a_0.9_pair": round(float(in_pair), 3),
        "pair_density_0.9": round(float(density), 4),
        "en_share": round(langs.count("en") / len(langs), 3),
    }


def _read_csv(path):
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.reader(f))


def print_shapes(sf_dir):
    import json
    import tempfile
    con = duckdb.connect()

    def full(t):
        cs = ", ".join(gen.ANALYTICS_COLUMNS[t])
        return con.execute(f"SELECT {cs} FROM '{sf_dir}/{t}.parquet'").fetchall()
    print("sf0.1", json.dumps(shape(full("orders"), full("lineitem"),
                                    full("documents"))))
    pool = {t: gen._read_pool(t) for t in ("orders", "lineitem", "documents")}
    print("pool", json.dumps(shape(pool["orders"], pool["lineitem"],
                                   pool["documents"])))
    with tempfile.TemporaryDirectory() as d:
        gen.analytics_inputs(1, d)
        run = {t: _read_csv(os.path.join(d, f"{t}.csv"))
               for t in ("orders", "lineitem", "documents")}
    print("seed1", json.dumps(shape(run["orders"], run["lineitem"],
                                    run["documents"])))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--shape", action="store_true")
    a = ap.parse_args()
    if a.shape:
        print_shapes(a.sf_dir)
    else:
        print(draw_pool(a.sf_dir))
