"""Correctness gates of the workload benchmark, run outside the timed region.

Results are compared as the repository's oracle harness does: columns sorted
by name, rows canonicalised with their value types and sorted, then compared
exactly (so an int64 against a decimal, or 5 against 5.0, is a mismatch).
"""
import glob
import json
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "events"]


def _canon(v):
    return None if v is None else (type(v).__name__, repr(v))


def _rows(tbl, drop=()):
    cols = sorted(c for c in tbl.column_names if c not in drop)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, sorted((tuple(_canon(x) for x in r) for r in zip(*data)), key=repr)


def same_rows(got, want, drop=()):
    """None when the tables hold the same rows, else a one-line reason."""
    gc, gr = _rows(got, drop)
    wc, wr = _rows(want, drop)
    if gc != wc:
        return f"columns {gc} != {wc}"
    gt = {f.name: str(f.type) for f in got.schema if f.name in gc}
    wt = {f.name: str(f.type) for f in want.schema if f.name in wc}
    if gt != wt:
        return f"types {gt} != {wt}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    bad = sum(1 for a, b in zip(gr, wr) if a != b)
    return f"{bad}/{len(gr)} rows differ" if bad else None


def read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pq.ParquetDataset(files).read()


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLES:
        p = os.path.join(data_dir, f"{name}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def api_gate(raw, data_dir):
    """Catalog outputs against their DuckDB oracles; parameterised requests
    against the same request replayed alone. Returns (checks, failures)."""
    gate = raw["gate"]
    con = duck(data_dir)
    failures = []
    for name, out in sorted(gate["catalog_outputs"].items()):
        try:
            why = same_rows(read_dir(out), con.execute(gate["oracle_sql"][name]).fetch_arrow_table())
        except Exception as e:  # a broken output is a failed check, not a crash
            why = f"{type(e).__name__}: {e}"
        if why:
            failures.append(f"oracle {name}: {why}")
    measured = {}
    for s in raw["requests"]:
        if not s["error"]:
            measured.setdefault(s["key"], set()).add(s["digest"])
    for r in gate["replays"]:
        if r["error"]:
            failures.append(f"replay {r['key']}: {r['error']}")
        elif measured.get(r["key"], {r["digest"]}) != {r["digest"]}:
            failures.append(f"replay {r['key']}: digest differs from the timed run")
    return len(gate["catalog_outputs"]) + len(gate["replays"]), failures


def dex_gate(raw, data_dir, base_file):
    """Facts against the de-duplicated landed batches; the last rollup
    snapshots against the same queries over a batch-written copy. Returns
    (checks, failures, rows of each final snapshot)."""
    gate = raw["gate"]
    failures = []
    cols = "event_id, ts, user_id, event_type, value, props"
    landed = [os.path.join(gate["landing"], f) for f in gate["landed"]]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW facts AS SELECT {cols} FROM read_parquet('{gate['facts']}/*.parquet')")
    con.execute(f"CREATE VIEW want AS SELECT {cols} FROM read_parquet('{base_file}') "
                f"UNION SELECT {cols} FROM read_parquet({json.dumps(landed)})")
    extra, missing, n_facts, n_want = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM facts EXCEPT ALL SELECT * FROM want)),"
        " (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM facts)),"
        " (SELECT count(*) FROM facts), (SELECT count(*) FROM want)").fetchone()
    if extra or missing:
        failures.append(f"facts: {n_facts} rows vs {n_want} expected "
                        f"({extra} unexpected, {missing} missing)")
    rows = {}
    for q, p in sorted(gate["rollups"].items()):
        try:
            snap = read_dir(p["snapshot"])
            rows[q] = snap.num_rows
            why = same_rows(snap, read_dir(p["batch"]), drop=("rollup",))
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            failures.append(f"rollup {q}: {why}")
    return 1 + len(gate["rollups"]), failures, rows
