#!/usr/bin/env python3
"""Self-contained N-times replica of a fixture directory (default N = 10).

Replica i shifts every primary key and the foreign keys that point at it by
the same per-table offset, so replica i's customers own only replica i's
orders and every join keeps its 1x fan-out. Document tokens are prefixed
with `r<i>_`, so the near-duplicate pair miners find pairs within a replica
only and their output grows linearly, not quadratically. Event user ids and
timestamps are not shifted: N times the events per user.

The output directory carries a stamp naming the generator version and each
source file's SHA-256; a stale or partial replica (no matching stamp) is
rebuilt from scratch. perfbench/run.py calls `build` before a bulk_x10 run.
"""
import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERSION = "replica-v1"

# column -> offset per replica
SHIFTS = {
    "region": {"r_regionkey": 100},
    "nation": {"n_nationkey": 100, "n_regionkey": 100},
    "customer": {"c_custkey": 10_000_000, "c_nationkey": 100},
    "supplier": {"s_suppkey": 10_000_000, "s_nationkey": 100},
    "part": {"p_partkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {"l_orderkey": 100_000_000, "l_partkey": 10_000_000,
                 "l_suppkey": 10_000_000},
    "events": {"event_id": 1_000_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}


def stamp_text(src, copies):
    lines = [VERSION, f"copies={copies}"]
    for table in sorted(SHIFTS):
        path = os.path.join(src, f"{table}.parquet")
        with open(path, "rb") as f:
            lines.append(f"{table}.parquet {hashlib.sha256(f.read()).hexdigest()}")
    return "\n".join(lines) + "\n"


def is_fresh(src, out, copies):
    stamp = os.path.join(out, ".stamp")
    if not os.path.exists(stamp):
        return False
    with open(stamp) as f:
        return f.read() == stamp_text(src, copies)


def replicate(table, arrow, i):
    for col, span in SHIFTS[table].items():
        idx = arrow.schema.get_field_index(col)
        typ = arrow.schema.field(col).type
        shifted = pc.add(arrow.column(col), pa.scalar(i * span, typ))
        arrow = arrow.set_column(idx, arrow.schema.field(col), shifted)
    if table == "documents":
        idx = arrow.schema.get_field_index("text")
        salted = pc.replace_substring_regex(arrow.column("text"), pattern=r"(^|\s)",
                                            replacement=rf"\1r{i}_")
        arrow = arrow.set_column(idx, arrow.schema.field("text"), salted)
    return arrow


def build(src, out, copies):
    """Writes the replica to `out` unless its stamp is current. Returns True
    if it generated."""
    if is_fresh(src, out, copies):
        return False
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for table in sorted(SHIFTS):
        arrow = pq.read_table(os.path.join(src, f"{table}.parquet"))
        with pq.ParquetWriter(os.path.join(tmp, f"{table}.parquet"), arrow.schema) as w:
            for i in range(copies):
                w.write_table(replicate(table, arrow, i))
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp_text(src, copies))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return True

