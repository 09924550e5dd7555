#!/usr/bin/env python3
"""Seeded 16x `events` fixture for the detect-16x workload.

Builds COPIES re-keyed copies of the source `events` table: copy i adds
i * (max(event_id) + 1) to event_id and i * (max(user_id) + 1) to user_id, so
ids stay unique and contiguous. Within each copy, `value` is permuted among
the rows of the same event_type by a generator seeded from (seed, i). The
physical schema is kept: ts stays INT64 TIMESTAMP in microseconds, not
UTC-adjusted, because the columns are copied as Arrow arrays. Every other
table of the source directory is linked, not copied.

Usage: fixture16.py SRC_DIR DST_DIR SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COPIES = 16


def build(src, dst, seed):
    os.makedirs(dst, exist_ok=True)
    ev = pq.read_table(os.path.join(src, "events.parquet"))
    ev = ev.sort_by("event_id")
    id_step = pc.max(ev["event_id"]).as_py() + 1
    user_step = pc.max(ev["user_id"]).as_py() + 1
    types = ev["event_type"].to_numpy(zero_copy_only=False)
    value = ev["value"].to_numpy()
    groups = [np.flatnonzero(types == t) for t in sorted(set(types))]
    parts = []
    for i in range(COPIES):
        rng = np.random.default_rng([seed, i])
        v = value.copy()
        for g in groups:
            v[g] = value[g[rng.permutation(len(g))]]
        cols = {
            "event_id": pc.add(ev["event_id"], i * id_step),
            "user_id": pc.add(ev["user_id"], i * user_step),
            "value": pa.array(v, type=ev.schema.field("value").type),
        }
        parts.append(pa.table([cols.get(f.name, ev[f.name]) for f in ev.schema],
                              schema=ev.schema))
    out = pa.concat_tables(parts)
    tmp = os.path.join(dst, "events.parquet.tmp")
    # one row group per copy, so a scan splits into parallel tasks
    pq.write_table(out, tmp, row_group_size=ev.num_rows, compression="snappy")
    os.replace(tmp, os.path.join(dst, "events.parquet"))
    for name in sorted(os.listdir(src)):
        link = os.path.join(dst, name)
        if name.endswith(".parquet") and name != "events.parquet" and not os.path.lexists(link):
            os.symlink(os.path.abspath(os.path.join(src, name)), link)


if __name__ == "__main__":
    build(sys.argv[1], sys.argv[2], int(sys.argv[3]))
