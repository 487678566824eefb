"""Seeded input generator for the graft benchmark.

Every input a run sees is derived from the tables in `data/sf0.01`
(a copy of the sf0.01 test tables) by permuting, splitting and copying
rows; nothing is invented. The same seed gives byte-identical files, so
a run can be repeated exactly, and a new seed reorders every table
without changing any gate's expected multiset result.

Layout written under `<out>`:
  <table>.parquet            every source table, rows permuted
  ingest/hist_<i>.parquet    history splits of the documents (i = 0, 1:
                             doc_id % 4 == 0, 2 — together all even ids)
  ingest/arrive/part-<k>     arriving document files: the odd ids, with
                             doc_id % 7 == 3 replaced by a near-dup copy of
                             its even twin (twin text + " zz"), shuffled
  ingest/events/part-<k>     arriving event files, a seeded split of events
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ARRIVING_DOC_FILES = 4
ARRIVING_EVENT_FILES = 2
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _shuffled(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _split(table, k, path_fmt):
    bounds = np.linspace(0, table.num_rows, k + 1).astype(int)
    for i in range(k):
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path_fmt % i)


def generate(seed, out, source=SOURCE):
    """Write the seeded inputs for one run under `out`."""
    rng = np.random.default_rng(seed)
    tables = {}
    for name in TABLES:
        tables[name] = _shuffled(pq.read_table(os.path.join(source, f"{name}.parquet")), rng)
        _write(tables[name], os.path.join(out, f"{name}.parquet"))

    docs = tables["documents"].select(["doc_id", "text"])
    ids = docs.column("doc_id").to_numpy()
    for i, r in enumerate((0, 2)):
        _write(docs.filter(pa.array(ids % 4 == r)), os.path.join(out, "ingest", f"hist_{i}.parquet"))

    # the same batch the dd_incremental_neardup gate screens (and its
    # oracle derives): odd ids, with a planted near-dup of the even twin
    # (a missing twin yields NULL text, as the oracle's LEFT JOIN does)
    text_of = dict(zip(ids.tolist(), docs.column("text").to_pylist()))
    batch = docs.filter(pa.array(ids % 2 == 1))
    texts = [(None if text_of.get(d - 1) is None else text_of[d - 1] + " zz") if d % 7 == 3 else t
             for d, t in zip(batch.column("doc_id").to_pylist(), batch.column("text").to_pylist())]
    batch = batch.set_column(1, "text", pa.array(texts, pa.string()))
    _split(_shuffled(batch, rng), ARRIVING_DOC_FILES,
           os.path.join(out, "ingest", "arrive", "part-%05d.parquet"))
    _split(_shuffled(tables["events"], rng), ARRIVING_EVENT_FILES,
           os.path.join(out, "ingest", "events", "part-%05d.parquet"))


def input_bytes(out, ingest):
    """Bytes of the generated tables, or with `ingest` of the history and
    arriving files the ingest loop reads."""
    if not ingest:
        return sum(os.path.getsize(os.path.join(out, f"{t}.parquet")) for t in TABLES)
    d = os.path.join(out, "ingest")
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


if __name__ == "__main__":
    import sys
    generate(int(sys.argv[1]), sys.argv[2])
