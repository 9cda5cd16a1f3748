"""Seeded input staging for the benchmark workloads.

Text, vector and event inputs are samples of the repo's sf0.1 test data:
a fixed pool cut from it lives in `data/` (see `data/cut_pool.py`), and
each run draws a seeded sample from the pool. Every staged table is a
pure function of (pool, seed, scale): the same seed writes the same rows
into the same files. Media corpora are generated by the program's own
`llm.MediaCorpus` (its content depends on no seed); this module only
lays them out by seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write_layout(table, out_dir, n_files, rng, stratum=None):
    """Write `table` as `n_files` part files with a seeded row order and a
    seeded file naming, so the landing order differs per seed. Rows are
    dealt round-robin after a seeded shuffle (grouped by the `stratum`
    column when given), so every file holds an equal share of every
    stratum and no seed makes one file, and so one task, much heavier."""
    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(table.num_rows)
    if stratum is not None:
        keys = np.asarray(table.column(stratum).to_pylist(), dtype=object)
        order = order[np.argsort(keys[order], kind="stable")]
    names = rng.permutation(n_files)
    for i in range(n_files):
        part = table.take(pa.array(order[i::n_files]))
        pq.write_table(part, os.path.join(out_dir,
                                          f"part-{names[i]:05d}.parquet"))


def _pool(name):
    return pq.read_table(os.path.join(POOL, f"{name}.parquet"))


def _amplify(table, id_col, copies, rng):
    """`copies` exact copies of every row, the program's own ×k recipe
    (graft.Bench amplifies documents and embeddings the same way), with
    ids re-keyed by a seeded permutation of 0..n-1."""
    out = pa.concat_tables([table] * copies)
    ids = pa.array(rng.permutation(out.num_rows).astype(np.int64))
    return out.set_column(out.schema.get_field_index(id_col), id_col, ids)


def documents(seed, n_families, copies):
    """A duplicate-heavy sample of sf0.1 documents: `n_families` seeded
    families, a family being a document together with its sf0.1
    near-duplicates (the same text plus " dup"), each row present
    `copies` times."""
    pool = _pool("documents")
    key = np.array([t[:-4] if t.endswith(" dup") else t
                    for t in pool["text"].to_pylist()], dtype=object)
    fams = np.unique(key)
    rng = _rng(seed, 1)
    pick = set(rng.choice(fams, size=n_families, replace=False))
    rows = np.flatnonzero([k in pick for k in key])
    return _amplify(pool.take(pa.array(rows)), "doc_id", copies, rng)


def embeddings(seed, n, copies):
    """`n` seeded sf0.1 vectors, each present `copies` times."""
    pool = _pool("embeddings")
    rng = _rng(seed, 2)
    rows = np.sort(rng.choice(pool.num_rows, size=n, replace=False))
    return _amplify(pool.take(pa.array(rows)), "vec_id", copies, rng)


def events(seed, n):
    """`n` seeded sf0.1 events (ids and times as in sf0.1)."""
    pool = _pool("events")
    rows = np.sort(_rng(seed, 3).choice(pool.num_rows, size=n, replace=False))
    return pool.take(pa.array(rows))


def stage(data_dir, seed, tables, n_files):
    """Write the named tables ({name: arrow table}) under `data_dir` as
    `<name>.parquet/` directories of `n_files` seeded part files.
    Returns {name: (rows, files)}."""
    counts = {}
    for i, (name, table) in enumerate(sorted(tables.items())):
        _write_layout(table, os.path.join(data_dir, f"{name}.parquet"),
                      n_files, _rng(seed, 100 + i))
        counts[name] = (table.num_rows, n_files)
    return counts


def stage_media(corpus_dir, data_dir, seed, n_files):
    """Lay the generated media corpus out as `media.parquet/` with a seeded
    row order and file naming."""
    table = pq.read_table(corpus_dir)
    _write_layout(table, os.path.join(data_dir, "media.parquet"), n_files,
                  _rng(seed, 4), stratum="kind")
    return {"media": (table.num_rows, n_files)}
