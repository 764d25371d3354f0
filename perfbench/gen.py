"""Seeded input generator for the benchmark.

The `events` rows are the repository's sf0.01 and sf0.1 test tables, copied
unchanged into `data/` (10k and 100k rows over a 30-day span, `event_id` in
event-time order from 0). A generated table is `replicas` copies of one of
them: replica r is shifted forward by r spans in event time and by r * rows
in `event_id`, so a replicated table stays in event-time order. The seed only
permutes `event_id` and relabels `user_id` within each replica; row count,
span, types, values and key cardinalities are those of the copied table.

`part` is written with the one column the fixtures read, `p_partkey`, which
in the test tables is 0 .. n-1 (2000 rows at sf0.01, 20000 at sf0.1).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SPAN_US = 30 * 86400 * 1_000_000
PARTS = {"sf0.01": 2_000, "sf0.1": 20_000}


def base_table(sf):
    """The copied `events` table of scale factor sf, in event-time order."""
    return pq.read_table(os.path.join(DATA, f"{sf}_events.parquet"))


def events_table(base, replicas, seed):
    n = base.num_rows
    event_id = base.column("event_id").to_numpy()
    user_id = base.column("user_id").to_numpy()
    ts = base.column("ts").cast(pa.int64()).to_numpy()
    users = int(user_id.max()) + 1
    ids, uids, tss = [], [], []
    for r in range(replicas):
        rng = np.random.default_rng([seed, r])
        ids.append(rng.permutation(n)[event_id] + r * n)
        uids.append(rng.permutation(users)[user_id])
        tss.append(ts + r * SPAN_US)
    rest = pa.concat_tables([base] * replicas)
    return pa.table({
        "event_id": pa.array(np.concatenate(ids), pa.int64()),
        "ts": pa.array(np.concatenate(tss), pa.timestamp("us")),
        "user_id": pa.array(np.concatenate(uids), pa.int64()),
        "event_type": rest.column("event_type"),
        "value": rest.column("value"),
        "props": rest.column("props"),
    })


def write(out_dir, sf, replicas, seed):
    """Write events.parquet and part.parquet into out_dir; returns the number
    of `events` rows."""
    os.makedirs(out_dir, exist_ok=True)
    events = events_table(base_table(sf), replicas, seed)
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    pq.write_table(pa.table({"p_partkey": pa.array(np.arange(PARTS[sf]), pa.int64())}),
                   os.path.join(out_dir, "part.parquet"))
    return events.num_rows
