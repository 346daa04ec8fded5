"""The stream generator's schedule.

The batch workloads and the stream read the sf0.1 tables in
``perfbench/data/sf0.1``: byte-identical copies of the fixed seed-42
``customer``, ``documents``, ``embeddings`` and ``events`` tables that
graft's queries, tests and ``graft.Bench`` run on. Only the stream's send
order is made here (``stream_events``): the ``events`` table replayed in
event-time order, loop after loop, shifted in ``ts`` and ``event_id`` so
windows keep closing, with a seeded share of events sent late by less than
the watermark. It depends on ``--seed``.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
WATERMARK_S = 600
# generator disorder: the share of events sent late, and the bound on
# how late (event time), kept below the watermark so none is dropped
LATE_SHARE = 0.05
LATE_MAX_S = 300
# gap between the end of one loop and the start of the next, so the last
# windows of a loop close before the next begins
LOOP_GAP_S = 3600


def stream_events(events, seed, n_out):
    """The generator's send order: ``n_out`` events replayed from ``events``.

    ``events`` is a dict of numpy arrays (``event_id``, ``ts_us``,
    ``user_id``, ``event_type``, ``value``, ``props``) in event-time order.
    Loop ``j`` shifts ``ts`` by ``j`` spans of the table plus ``LOOP_GAP_S``
    and ``event_id`` by ``j`` table sizes. A seeded ``LATE_SHARE`` of events
    is sent as if its event time were up to ``LATE_MAX_S`` later, so it
    arrives behind newer events but inside the watermark. Returns the same
    columns in send order.
    """
    rng = np.random.default_rng(seed)
    n = len(events["event_id"])
    loops = -(-n_out // n)
    idx = np.tile(np.arange(n), loops)[:n_out]
    loop = np.repeat(np.arange(loops), n)[:n_out]
    ts0 = events["ts_us"]
    span_us = int(ts0[-1] - ts0[0]) + LOOP_GAP_S * 1_000_000
    id_step = int(events["event_id"].max()) + 1
    ts = ts0[idx] + loop * span_us
    late = rng.random(n_out) < LATE_SHARE
    delay = rng.integers(1, LATE_MAX_S * 1_000_000, n_out) * late
    order = np.argsort(ts + delay, kind="stable")
    return {
        "event_id": (events["event_id"][idx] + loop * id_step)[order],
        "ts_us": ts[order],
        "user_id": events["user_id"][idx][order],
        "event_type": events["event_type"][idx][order],
        "value": events["value"][idx][order],
        "props": events["props"][idx][order],
    }


def read_events(table_dir=DATA_DIR):
    """The ``events`` table in event-time order, and its arrow schema."""
    t = pq.read_table(os.path.join(table_dir, "events.parquet"))
    ts = t["ts"].cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    order = np.argsort(ts, kind="stable")
    cols = {
        "event_id": t["event_id"].to_numpy()[order],
        "ts_us": ts[order],
        "user_id": t["user_id"].to_numpy()[order],
        "event_type": t["event_type"].to_numpy(zero_copy_only=False)[order],
        "value": t["value"].to_numpy()[order],
        "props": t["props"].to_numpy(zero_copy_only=False)[order],
    }
    return cols, t.schema.remove_metadata()


def write_stream(path, cols, schema):
    """Write the send order with the ``events`` table's own physical schema,
    so the stream's rows load through the same ``ts`` branch as the table."""
    ts = pa.array(cols["ts_us"], pa.int64()).cast(pa.timestamp("us")).cast(
        schema.field("ts").type)
    arrays = [ts if f.name == "ts" else pa.array(cols[f.name], f.type) for f in schema]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)
