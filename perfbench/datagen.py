"""Seeded inputs for the stream workload, in the fixture schema.

The same seed gives byte-identical parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
ORDER_EPOCH_S = 788918400  # 1995-01-01T00:00:00Z


def _write(table, path):
    pq.write_table(table, path)


def zipf_keys(rng, n, keys, s=1.0):
    """n draws over `keys` ids, rank r drawn with weight 1/r^s; ids shuffled."""
    w = 1.0 / np.arange(1, keys + 1) ** s
    ids = rng.permutation(keys)
    return ids[rng.choice(keys, size=n, p=w / w.sum())].astype(np.int64)


def stream_inputs(out, seed, events, keys, days=30, customers=1500, orders=15000):
    """events (Zipf-skewed users over `days` days) plus the customer, orders
    and nation tables the FK-join twin replays."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    ts = np.sort(rng.integers(0, days * 86400 * 1_000_000, size=events)) + EPOCH_US
    _write(pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(zipf_keys(rng, events, keys)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=events)]),
        "value": pa.array(rng.integers(1, 5000, size=events) / 100.0),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=events)]),
    }), os.path.join(out, "events.parquet"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=customers).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-99999, 999999, size=customers) / 100.0),
        "c_mktsegment": pa.array([["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                   "MACHINERY"][i] for i in rng.integers(0, 5, size=customers)]),
    }), os.path.join(out, "customer.parquet"))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, size=orders).astype(np.int64)),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, size=orders)]),
        "o_totalprice": pa.array(rng.integers(100000, 50000000, size=orders) / 100.0),
        "o_orderdate": pa.array((ORDER_EPOCH_S + rng.integers(0, 2400, size=orders) * 86400)
                                * 1_000_000, type=pa.timestamp("us")),
        "o_orderpriority": pa.array([["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW"][i] for i in rng.integers(0, 5, size=orders)]),
    }), os.path.join(out, "orders.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), os.path.join(out, "nation.parquet"))
