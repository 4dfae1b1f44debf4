"""Corpora of the benchmark, in the table layout graft's battery reads
(`<dir>/<table>.parquet`, see TESTDATA.md):

* ``sf0.1`` -- graft's read-only sf0.1 test data, used in place.
* ``x10`` -- a 10x key-shifted copy of it in the ``MakeScaled``
  ``densekeys`` layout: fact keys are disjoint per copy, customer keys
  stay contiguous (so the synthetic referral forest behind d204/d227 is
  well formed), and ``documents``/``embeddings`` keep identical payloads
  in every copy (the dedup stress case).  The benchmark seed permutes the
  rows inside each copy and the order in which the copies are laid out
  as part files.

An x10 corpus is written once per seed under the cache directory and
reused.
"""
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SF01 = "/root/testdata/sf0.1"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
COPIES = 10
# x10 corpora kept per checkout (about 170 MB each)
KEEP_X10 = 6
HOUR = {"s": 3600, "ms": 3_600_000, "us": 3_600_000_000, "ns": 3_600_000_000_000}


def _add(table, column, offset):
    i = table.schema.get_field_index(column)
    col = table.column(i)
    shifted = pa.array(col.cast(pa.int64()).to_numpy() + offset).cast(col.type)
    return table.set_column(i, column, shifted)


def hour(ts_type):
    """One hour in the physical unit of an events.ts column: a timestamp
    type's own unit, or nanoseconds for timestamps stored as longs."""
    return HOUR[ts_type.unit] if pa.types.is_timestamp(ts_type) else HOUR["ns"]


def shifted_copy(name, table, i, cust_stride):
    """Copy `i` of `table` with the MakeScaled densekeys key shifts."""
    shifts = {
        "lineitem": [("l_orderkey", i * 1_000_000_000)],
        "orders": [("o_orderkey", i * 1_000_000_000),
                   ("o_custkey", i * cust_stride)],
        "customer": [("c_custkey", i * cust_stride)],
        "supplier": [("s_suppkey", i * 1_000_000)],
        "part": [("p_partkey", i * 1_000_000)],
        "events": [("event_id", i * 1_000_000_000),
                   ("user_id", i * 1_000_000), ("ts", i)],
        "documents": [("doc_id", i * 1_000_000)],
        "embeddings": [("vec_id", i * 1_000_000)],
    }[name]
    for column, offset in shifts:
        if column == "ts":  # i hours
            offset *= hour(table.schema.field("ts").type)
        table = _add(table, column, offset)
    return table


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def sizes(root):
    """Rows and bytes per table of the corpus at `root`."""
    out = {}
    for name in TABLES:
        path = os.path.join(root, f"{name}.parquet")
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        out[name] = {"rows": sum(pq.ParquetFile(f).metadata.num_rows
                                 for f in files),
                     "bytes": sum(os.path.getsize(f) for f in files)}
    return out


def write_x10(src, root, seed):
    """10x copy of `src`: rows permuted per copy, copies laid out in seeded order."""
    base = {name: pq.read_table(os.path.join(src, f"{name}.parquet")) for name in TABLES}
    rng = np.random.default_rng(seed)
    cust_stride = int(pc.max(base["customer"].column("c_custkey")).as_py()) + 1
    for name in ("nation", "region"):
        _write(base[name], os.path.join(root, f"{name}.parquet"))
    jobs = []
    for name in TABLES:
        if name in ("nation", "region"):
            continue
        out = os.path.join(root, f"{name}.parquet")
        os.makedirs(out)
        layout = rng.permutation(COPIES)
        for i in range(COPIES):
            order = rng.permutation(base[name].num_rows)
            jobs.append((name, i, order, os.path.join(out, f"part-{layout[i]:05d}.parquet")))

    def write_copy(job):
        name, i, order, path = job
        _write(shifted_copy(name, base[name], i, cust_stride).take(order), path)

    # pyarrow releases the GIL while it permutes and encodes
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        list(pool.map(write_copy, jobs))


def ensure(cache_dir, layout, seed):
    """Path of the (layout, seed) corpus, writing an x10 one if absent.

    At most `KEEP_X10` x10 corpora stay cached; older ones are removed.
    """
    if not all(os.path.exists(os.path.join(SF01, f"{t}.parquet")) for t in TABLES):
        raise FileNotFoundError(f"graft's sf0.1 test data is not at {SF01}")
    if layout == "sf0.1":
        return SF01
    root = os.path.join(cache_dir, f"x10-seed{seed}")
    if os.path.exists(root):
        os.utime(root)
        return root
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_x10(SF01, tmp, seed)
    os.rename(tmp, root)
    cached = sorted((d for d in os.listdir(cache_dir)
                     if d.startswith("x10-seed") and not d.endswith(".tmp")),
                    key=lambda d: os.path.getmtime(os.path.join(cache_dir, d)))
    for old in cached[:-KEEP_X10]:
        shutil.rmtree(os.path.join(cache_dir, old), ignore_errors=True)
    return root
