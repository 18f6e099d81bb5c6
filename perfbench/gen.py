"""Seeded input generator for the workload benchmark.

Writes the engine's input tables (the schemas `graft.Tables` reads) and the
per-workload request / batch plans. Everything is derived from one seed, so
the same seed gives byte-identical inputs. The shapes follow the properties
the queries rely on:

* `events.event_id` is dense and strictly time-ordered (argmax tiebreaks);
* `ts` is parquet TIMESTAMP(MICROS) without zone, starting 2024-01-01;
* `value` is exponential with mean 50, two decimals; `props` is `{"k": n}`;
* dimension keys are dense and zero-based, so joins on `user_id` /
  `c_custkey` and the synthesized partsupp arithmetic line up.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJECTIVES = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUNS = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def rows(sf, per_unit):
    return max(1, int(round(sf * per_unit)))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def keyed_names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def dimension_tables(rng, sf):
    """region/nation/customer/supplier/part/orders at scale factor `sf`."""
    n_cust, n_supp = rows(sf, 150_000), rows(sf, 10_000)
    n_part, n_ord = rows(sf, 200_000), rows(sf, 1_500_000)
    i32 = pa.int32()
    pk = np.arange(n_part, dtype=np.int64)
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": keyed_names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": keyed_names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(
                ADJECTIVES[rng.integers(0, 8, n_part)], " "),
                NOUNS[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": STATUSES[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                day0 + rng.integers(0, days + 1, n_ord) * DAY_US, pa.timestamp("us")),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}),
    }


def events_table(rng, n, n_users, span_days=30.0):
    """`n` events over `span_days`, event_id strictly time-ordered."""
    gaps = rng.exponential(span_days * DAY_US / n, n).astype(np.int64) + 1
    ts = EPOCH_2024_US + np.cumsum(gaps)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def zipf_index(rng, n_items, a, size):
    """Zipf-skewed indexes into [0, n_items): rank 0 is the hottest."""
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -a
    return rng.choice(n_items, size=size, p=p / p.sum())


def rounds(rng, types, n):
    """`n` request types in shuffled rounds over `types`, so every window of
    whole rounds holds the same mix."""
    out = []
    while len(out) < n:
        out.extend(str(t) for t in rng.permutation(types))
    return out[:n]


def api_requests(rng, n_events, types):
    """Requests of the given types; parameters are Zipf-skewed."""
    n = len(types)
    cursors = zipf_index(rng, 50, 1.1, n)
    pools = zipf_index(rng, 16, 1.1, n)
    tfs = rng.choice([300, 3600, 21600], size=n, p=[0.5, 0.3, 0.2])
    pages = zipf_index(rng, 40, 1.1, n)
    page_rows = max(1, n_events // 40)
    out = []
    for i, t in enumerate(types):
        r = {"type": t}
        if t == "keyset":
            r.update(last_seen=int(cursors[i]) * max(1, n_events // 50) - 1, n=50)
        elif t == "candles":
            r.update(pool=int(pools[i]), pools=16, tf=int(tfs[i]))
        elif t == "asof_page":
            lo = int(pages[i]) * page_rows
            r.update(lo=lo, hi=lo + page_rows)
        out.append(r)
    return out


def dex_batches(rng, events, n_base, batch_rows, replay_frac, late_frac):
    """Split the events after the first `n_base` into landing batches.

    Each batch holds its own rows in shuffled order, minus a `late_frac`
    share held back to the next batch (rows that arrive out of order), plus
    a `replay_frac` share of exact copies of rows the previous batch
    delivered (replays a dedup must absorb)."""
    tail = events.slice(n_base)
    n = tail.num_rows
    bounds = list(range(0, n, batch_rows))
    held = np.array([], dtype=np.int64)
    prev = np.array([], dtype=np.int64)
    batches = []
    for b in bounds:
        own = np.arange(b, min(b + batch_rows, n))
        late_mask = rng.random(len(own)) < late_frac
        deliver = np.concatenate([own[~late_mask], held])
        n_rep = int(round(replay_frac * len(prev)))
        replays = rng.choice(prev, size=n_rep, replace=False) if n_rep else prev[:0]
        idx = rng.permutation(np.concatenate([deliver, replays]))
        batches.append(tail.take(pa.array(idx)))
        held, prev = own[late_mask], deliver
    if len(held):
        batches[-1] = pa.concat_tables([batches[-1], tail.take(pa.array(held))])
    return batches


def generate(workload, seed, out_dir, cfg):
    """Write the inputs of `workload` under `out_dir`; returns a manifest."""
    rng = np.random.default_rng(seed)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    sf = cfg["sf"]
    for name, t in dimension_tables(rng, sf).items():
        write(t, os.path.join(data, f"{name}.parquet"))
    n_users = rows(sf, 15_000)
    manifest = {"workload": workload, "seed": seed, "sf": sf, "data": data}
    if workload == "api_mix":
        n_events = rows(sf, 1_000_000)
        write(events_table(rng, n_events, n_users), os.path.join(data, "events.parquet"))
        mix = list(cfg["catalog"]) + list(cfg["param_types"]) * cfg["param_weight"]
        n = cfg["plan_requests"]
        manifest.update(
            events=n_events,
            requests=api_requests(rng, n_events, rounds(rng, mix, n)),
            open_requests=api_requests(rng, n_events, rounds(rng, cfg["param_types"], n)))
    elif workload == "dex_ingest_rollup":
        n_base, batch_rows = cfg["base_events"], cfg["batch_rows"]
        n_events = n_base + batch_rows * cfg["max_batches"]
        events = events_table(rng, n_events, n_users, span_days=30.0 * n_events / n_base)
        facts = os.path.join(data, "events.parquet")
        os.makedirs(facts, exist_ok=True)
        write(events.slice(0, n_base), os.path.join(facts, "part-base.parquet"))
        stage = os.path.join(out_dir, "batches")
        os.makedirs(stage, exist_ok=True)
        batches = dex_batches(rng, events, n_base, batch_rows,
                              cfg["replay_frac"], cfg["late_frac"])
        files = []
        for i, t in enumerate(batches):
            p = os.path.join(stage, f"batch-{i:05d}.parquet")
            write(t, p)
            files.append({"path": p, "rows": t.num_rows, "bytes": os.path.getsize(p)})
        batch_span_s = batch_rows * 30 * 86_400 / n_base
        manifest.update(base_events=n_base, base_file=os.path.join(facts, "part-base.parquet"),
                        batches=files,
                        watermark_delay_s=int(3600 + 4 * batch_span_s))
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
