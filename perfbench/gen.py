"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files.

* ``write_tables`` writes the ten harness tables (TPC-H-style star schema,
  ``events``, ``documents``, ``embeddings``) at a small scale.  The
  dashboard's serving views scan all ten; its events endpoints read
  ``events``.
* ``write_cdc_batches`` writes the CDC event batches that the
  ``cdc_ingest`` workload drops into the stream source, plus a manifest
  with the id of the visibility marker of each batch.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "error"])
WORDS = np.array("key agg row scan slow fast table value part hash merge batch "
                 "spark the a line sort window data column join small customer "
                 "query order group filter stream big".split())
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.floor(rng.uniform(lo, hi, n) * 100 + 0.5) / 100


def write_tables(out, seed, n_users=1500, n_events=20000):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [" ".join(rng.choice(["small", "red", "blue", "ring", "bolt",
                                        "widget"], 2)) for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE",
                              "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}),
        f"{out}/part.parquet")
    day_us = 86_400_000_000
    odate = 883_612_800_000_000 + rng.integers(0, 2400, n_ord) * day_us
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    n_li = n_ord * 4
    li_order = np.repeat(np.arange(n_ord), 4)
    _write(pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, 5), n_ord), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(odate[li_order] + rng.integers(1, 120, n_li) * day_us)}),
        f"{out}/lineitem.parquet")
    ev_ts = BASE_TS_US + np.sort(rng.integers(0, 30 * day_us, n_events))
    _write(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0, 50, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]}),
        f"{out}/events.parquet")
    n_docs = 200
    texts = [" ".join(rng.choice(WORDS, int(n))) for n in rng.integers(10, 60, n_docs)]
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "es", "fr"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 4, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    n_emb, dim = 200, 16
    emb = rng.normal(0, 0.15, (n_emb, dim)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


def write_cdc_batches(out, seed, n_batches, batch_size=1000, n_users=1500,
                      redelivered=0.05, late=0.05, zipf_s=1.1):
    """Write ``batch_NNNNN.parquet`` files in the events schema.

    Users follow a Zipf law.  A ``redelivered`` share of each batch
    re-sends an earlier event unchanged (same ``event_id`` and ``ts``);
    a ``late`` share are new events whose ``ts`` lies up to ten minutes
    in the past.  The last row of every batch is a fresh, in-order event
    with the largest ``ts`` and ``event_id`` so far: it stays in the
    latest-per-user FINAL view until a later batch supersedes its user,
    so ``max(event_id)`` over FINAL tells which batches are visible.
    """
    rng = np.random.default_rng(seed + 1_000_003)
    os.makedirs(out, exist_ok=True)
    p = 1.0 / np.arange(1, n_users + 1) ** zipf_s
    p /= p.sum()
    cols = {c: [] for c in ("event_id", "ts", "user_id", "event_type",
                            "value", "k")}
    markers, next_id, clock_us = [], 0, BASE_TS_US
    for b in range(n_batches):
        kind = rng.random(batch_size)
        kind[-1] = 1.0
        if b == 0:
            kind[kind < redelivered] = redelivered
        redo = kind < redelivered
        fresh = ~redo
        n_fresh = int(fresh.sum())
        ts = clock_us + np.cumsum(rng.integers(1_000, 500_000, n_fresh))
        clock_us = int(ts[-1])
        is_late = (kind[fresh] < redelivered + late)
        ts = ts - is_late * rng.integers(1, 600_000_000, n_fresh)
        batch = {
            "event_id": np.arange(next_id, next_id + n_fresh),
            "ts": ts,
            "user_id": rng.choice(n_users, n_fresh, p=p),
            "event_type": rng.integers(0, len(EVENT_TYPES), n_fresh),
            "value": np.floor(rng.uniform(0, 50, n_fresh) * 100 + 0.5) / 100,
            "k": rng.integers(0, 100, n_fresh),
        }
        # redeliveries copy earlier fresh events verbatim
        pick = rng.integers(0, max(next_id, 1), int(redo.sum()))
        next_id += n_fresh
        rows = {}
        for c in batch:
            hist = np.concatenate(cols[c]) if cols[c] else batch[c][:0]
            merged = np.empty(batch_size, dtype=batch[c].dtype)
            merged[fresh] = batch[c]
            if redo.any():
                merged[redo] = hist[pick]
            rows[c] = merged
            cols[c].append(batch[c])
        _write(pa.table({
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": _ts(rows["ts"]),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": EVENT_TYPES[rows["event_type"]],
            "value": pa.array(rows["value"], pa.float64()),
            "props": [f'{{"k": {k}}}' for k in rows["k"]]}),
            f"{out}/batch_{b:05d}.parquet")
        markers.append(int(rows["event_id"][-1]))
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"batch_size": batch_size, "markers": markers}, f)
