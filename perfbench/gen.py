#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two kinds of input:

* ``tables``: the ten batch tables the registry and dashboard queries read
  (TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), at a scale factor, from a fixed data seed. The stored
  result digests in ``digests.json`` are keyed by (scale factor, data seed).
* ``stream``: time-ordered slices for the gmall chain, from the run seed.
  Each slice is one parquet file per topic (events, orders, lineitem,
  payments), staged under ``<out>/<topic>/s<NNNN>.parquet``; the harness
  lands them into the live topic directories on its schedule.

Usage:
  gen.py tables <out_dir> <sf> <data_seed>
  gen.py stream <out_dir> <seed> <slices> <events_per_slice> <orders_per_slice> <n_users> <n_customers>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split())
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def _ts(values_us):
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, ids, ts_us, n_users, dirty_frac):
    n = len(ids)
    k = rng.integers(0, 100, n)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    if dirty_frac > 0:
        props[rng.random(n) < dirty_frac] = '{"k": "x"}'
    return pa.table({
        "event_id": pa.array(ids, type=pa.int64()),
        "ts": _ts(ts_us),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props),
    })


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), m)]) for m in lengths]
    # ~5% near-duplicates: a copy of an earlier document plus a marker token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, langs, n),
        "source": pa.array(np.char.add("src", (ids % 20).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })


def tables(out, sf, data_seed):
    rng = np.random.default_rng(data_seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, ["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                    "BUILDING", "HOUSEHOLD"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, type=pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    day = np.timedelta64(86400 * 1000000, "us")
    d0 = np.datetime64("1995-01-01T00:00:00", "us")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(d0 + rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["N", "A", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _ts(d0 + rng.integers(1, 2499, n_li) * day)})
    span_us = 30 * 86400 * 1000000
    ev_ts = EPOCH_2024 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    t["events"] = _events(rng, np.arange(n_ev), ev_ts, max(15, int(15000 * sf)), 0.0)
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    for name, tab in t.items():
        _write(tab, f"{out}/{name}.parquet")


def stream(out, seed, slices, ev_per, ord_per, n_users, n_cust):
    """One slice = one event-time hour of clickstream and one event-time day
    of orders. Event time rises strictly from slice to slice, so with the
    jobs' zero-delay watermarks no row of a later slice is late."""
    rng = np.random.default_rng(seed)
    hour, day = 3600 * 1000000, 86400 * 1000000
    d0 = np.datetime64("2024-01-01T00:00:00", "us")
    for s in range(slices):
        ev_ids = np.arange(s * ev_per, (s + 1) * ev_per)
        ev_ts = EPOCH_2024 + (s * hour + np.sort(
            rng.choice(hour, ev_per, replace=False))).astype("timedelta64[us]")
        _write(_events(rng, ev_ids, ev_ts, n_users, 0.02), f"{out}/events/s{s:04d}.parquet")
        okeys = np.arange(s * ord_per, (s + 1) * ord_per)
        odate = d0 + (s * day + rng.integers(0, day - hour, ord_per)).astype("timedelta64[us]")
        _write(pa.table({
            "o_orderkey": pa.array(okeys, type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, ord_per), type=pa.int64()),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], ord_per),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, ord_per)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], ord_per),
        }), f"{out}/orders/s{s:04d}.parquet")
        lines = rng.integers(1, 8, ord_per)
        lk = np.repeat(okeys, lines)
        ln = np.concatenate([np.arange(1, m + 1) for m in lines]).astype(np.int32)
        n = len(lk)
        # ship 0..40 days after the order: about three in four fall inside
        # the order-wide join's 30-day bound
        ship = np.repeat(odate, lines) + rng.integers(0, 40 * day, n).astype("timedelta64[us]")
        _write(pa.table({
            "l_orderkey": pa.array(lk, type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20000, n), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1000, n), type=pa.int64()),
            "l_linenumber": pa.array(ln, type=pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["N", "A", "R"], n),
            "l_linestatus": _pick(rng, ["O", "F"], n),
            "l_shipdate": _ts(ship),
        }), f"{out}/lineitem/s{s:04d}.parquet")
        # one payment per order, paid within an hour of ordering: inside the
        # payment-wide join's [-15 days, +5 days] bound
        _write(pa.table({
            "pay_id": pa.array(okeys, type=pa.int64()),
            "p_orderkey": pa.array(okeys, type=pa.int64()),
            "pay_ts": _ts(odate + rng.integers(0, hour, ord_per).astype("timedelta64[us]")),
            "pay_amount": pa.array(_money(rng, 10.0, 5000.0, ord_per)),
        }), f"{out}/payments/s{s:04d}.parquet")


def main(argv):
    if argv[0] == "tables":
        tables(argv[1], float(argv[2]), int(argv[3]))
    elif argv[0] == "stream":
        stream(argv[1], *map(int, argv[2:8]))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
