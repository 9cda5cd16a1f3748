#!/usr/bin/env python3
"""Cut the benchmark's input pool from the repo's sf0.1 test data.

    python3 perfbench/data/cut_pool.py <sf0.1 dir>

Writes documents.parquet, embeddings.parquet and events.parquet next to
this script. The pool is fixed; each run draws its seeded sample from it
(see perfbench/inputs.py). What is kept:

- documents: all 5,000 rows, so every near-duplicate (an sf0.1 document
  whose text is another's plus " dup") keeps its source;
- embeddings: the 600 rows with the lowest vec_id;
- events: the 30,000 rows with event_id % 10 < 3, spread evenly over the
  whole 30 days.
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def cut(name, table):
    table = table.replace_schema_metadata(None)
    pq.write_table(table, os.path.join(HERE, f"{name}.parquet"),
                   compression="zstd", compression_level=19)
    print(name, table.num_rows)


def main():
    src = sys.argv[1]
    read = lambda t: pq.read_table(os.path.join(src, f"{t}.parquet"))
    cut("documents", read("documents").sort_by("doc_id"))
    emb = read("embeddings").sort_by("vec_id")
    cut("embeddings", emb.slice(0, 600))
    ev = read("events").sort_by("event_id")
    ids = ev["event_id"].to_numpy()
    cut("events", ev.filter(pa.array(ids % 10 < 3)))


if __name__ == "__main__":
    main()
