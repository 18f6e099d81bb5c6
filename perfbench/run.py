#!/usr/bin/env python3
"""Workload benchmark of the engine: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload api_mix --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It builds the checkout (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
JVM harness (perfbench/src) for `--seconds` of measurement, checks the
outputs (perfbench/check.py) and prints, as the last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The lines
before it give the full report: the metric names of perfbench/README.md,
row counts per operation, the host fingerprint and, when traced, the
per-layer self-time table (spans are written to .bench_build/traces/).
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HEAP = "2g"
HARNESS_TIMEOUT_S = 160

# Serving entries of the api_mix catalog, in warm-up order (the first one is
# the set-up warm-up request).
API_CATALOG = ["api1_token_list", "api2_trades_page", "api3_ohlcv_route",
               "api4_token_detail", "o3_keyset_page", "o5_gainers",
               "a8_leaderboard", "j11_asof_join"]
API_PARAM_TYPES = ["keyset", "candles", "asof_page"]
# a14_multi_bucket is left out: its four eager anchor jobs made it the
# critical path of the concurrent rollup (6.5 of 7 s) on a 4-core host.
ROLLUP_SET = ["a11_token_matrix", "a8_leaderboard",
              "a9_large_trades", "a5_ohlcv_build", "a20_rolling_uniques_hll",
              "job1_price_refresh", "t10_alert_rules"]

WORKLOADS = {
    "api_mix": {
        # Each round of the closed loop's plan holds every catalog entry once
        # and each page type twice.
        "gen": {"sf": 0.02, "plan_requests": 4000, "catalog": API_CATALOG,
                "param_types": API_PARAM_TYPES, "param_weight": 2},
        # The open loop carries page requests only (0.3-0.8 s each on a
        # 4-core host); 2.5 requests/s keeps about one in flight on average,
        # fixed so every commit is offered the same load.
        "run": {"open_rate": 2.5, "max_replays": 2,
                "catalog": API_CATALOG},
    },
    "dex_ingest_rollup": {
        "gen": {"sf": 0.02, "base_events": 100_000, "batch_rows": 5_000,
                "max_batches": 60, "replay_frac": 0.02, "late_frac": 0.02},
        "run": {"batches_per_cycle": 2, "rollup_queries": ROLLUP_SET},
    },
}


def api_phases(gen_cfg, run_cfg, seconds):
    """Sizes of the api_mix phases, in whole rounds: the open loop sends
    about 60% of `seconds` worth of page requests at its rate, the closed
    loop max(1, round(seconds / 8)) rounds of the full mix."""
    params = len(gen_cfg["param_types"])
    per_round = round(0.6 * seconds * run_cfg["open_rate"] / params)
    return {"round": len(gen_cfg["catalog"]) + params * gen_cfg["param_weight"],
            "open_requests": params * max(1, per_round),
            "closed_rounds": max(1, round(seconds / 8))}


E2E_UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
             "cycle_p50_s": "s", "throughput_per_s": "1/s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "queries.build_s": "s", "queries.eager_jobs": "count", "plans.plan_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_queue_s": "s", "exec.slot_busy_frac": "ratio", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_bytes": "B", "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "B", "exec.input_rows_per_result_row": "ratio",
    "driver.collect_s": "s", "driver.result_rows": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_commit_s": "s",
    "streaming.dup_dropped_frac": "ratio",
    "sources.write_s": "s", "sources.files_written": "count", "sources.write_amp": "ratio",
    "sources.files_scanned": "count",
    "gen.lateness_p90_s": "s", "gen.identical_request_frac": "ratio",
    "trace.overhead_frac": "ratio", "trace.unattributed_max_frac": "ratio",
}
LAYER_UNITS.update({f"op.{t}.s": "s" for t in dict.fromkeys(
    API_CATALOG + API_PARAM_TYPES + ROLLUP_SET)})


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cp, tmp, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    flags = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
    # A fixed, pre-touched heap: resident memory then moves with what the
    # engine keeps off-heap and in metaspace, not with when G1 grows.
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m", *flags,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness", *args]


def git_sha(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- end to end

def api_e2e(raw):
    reqs = raw["requests"]
    open_s = [r for r in reqs if r["phase"] == "open"]
    ol = stats.open_loop(open_s, raw["open_planned"])
    closed = [r["end"] - r["start"] if not r["error"] else math.inf
              for r in reqs if r["phase"] == "closed"]
    # Little's law: with every client always busy, completions per second
    # are clients over the mean time per request.
    capacity = raw["clients"] / stats.mean(closed)
    return {
        "latency_p50_s": ol["p50"], "latency_tail_s": ol["tail"],
        "cycle_p50_s": stats.median(closed),
        "throughput_per_s": capacity,
    }, {
        "api_p50_s": ol["p50"], "api_p90_s": ol["tail"], "api_p90_q": ol["tail_q"],
        "api_open_planned": ol["n"], "api_open_rate": raw["open_rate"],
        "api_capacity_rps": capacity,
        "api_closed_requests": len(closed), "gen_lateness_tail_s": ol["lateness_tail"],
    }


def dex_e2e(raw):
    ing = raw["ingests"]
    lat = stats.summary([i["commit"] - i["land"] if not i["error"] else math.inf
                         for i in ing], len(ing))
    rollups = [c["rollup"]["end"] - c["rollup"]["start"] for c in raw["cycles"]]
    wall = raw["measure_end"] - raw["measure_start"]
    rows = sum(i["input_rows"] for i in ing)
    return {
        "latency_p50_s": lat["p50"], "latency_tail_s": lat["tail"],
        "cycle_p50_s": stats.median(rollups), "throughput_per_s": rows / wall,
    }, {
        "ingest_p50_s": lat["p50"], "ingest_p90_s": lat["tail"], "ingest_p90_q": lat["tail_q"],
        "ingests": len(ing), "rollup_p50_s": stats.median(rollups),
        "rollup_cycles": len(rollups), "landed_rows_per_s": rows / wall,
    }


# ---------------------------------------------------------------- per layer

def layer_metrics(workload, raw):
    """Per-layer metrics of a traced run, and its per-operation table."""
    table = stats.layer_table(raw.get("spans", []))
    counts = raw.get("layer_counts", [])

    def total(key, layer=None):
        return sum(c[key] for c in counts if layer in (None, c["layer"]))

    m = {k: 0.0 for k in LAYER_UNITS}
    if workload == "api_mix":
        reqs = [r for r in raw["requests"] if r["phase"] in ("open", "closed")]
        ok = [r for r in reqs if not r["error"]]
        op_times = [(r["type"], r["end"] - r["start"]) for r in ok]
        m["trace.overhead_frac"] = overhead([r for r in ok if r["phase"] == "closed"],
                                            lambda r: r["type"])
        m["gen.lateness_p90_s"] = stats.open_loop(
            [r for r in reqs if r["phase"] == "open"], raw["open_planned"])["lateness_tail"]
        keys = [r["key"] for r in sorted(reqs, key=lambda r: (r["phase"] != "open", r["id"]))]
        m["gen.identical_request_frac"] = 1 - len(set(keys)) / max(1, len(keys))
        result_rows = sum(max(0, r["rows"]) for r in ok if r["traced"])
        result_ops = len(table)
    else:
        ing = raw["ingests"]
        progress = [json.loads(p) for i in ing for p in i["progress"]]
        states = [o for p in progress for o in p.get("stateOperators", [])]
        op_times = [(o["type"], o["end"] - o["start"])
                    for c in raw["cycles"] for o in c["rollup"]["ops"] if not o["error"]]
        per_ingest = lambda total_: total_ / max(1, len(ing))
        for name, key in [("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                          ("query_planning_s", "queryPlanning"), ("wal_commit_s", "walCommit")]:
            m[f"streaming.{name}"] = per_ingest(
                sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1e3)
        m["streaming.state_rows"] = stats.mean((o["numRowsTotal"] for o in states), 0.0)
        m["streaming.state_commit_s"] = per_ingest(sum(o["commitTimeMs"] for o in states) / 1e3)
        n_in = sum(p.get("numInputRows", 0) for p in progress)
        m["streaming.dup_dropped_frac"] = 1 - sum(o["numRowsUpdated"] for o in states) / max(1, n_in)
        m["sources.files_written"] = per_ingest(sum(i["files_written"] for i in ing))
        m["sources.write_amp"] = (sum(i["bytes_written"] for i in ing)
                                  / max(1, sum(i["input_bytes"] for i in ing)))
        m["sources.files_scanned"] = stats.mean(
            (sum(o["files_scanned"] for o in c["rollup"]["ops"]) for c in raw["cycles"]), 0.0)
        m["trace.overhead_frac"] = overhead(raw["cycles"], lambda c: "cycle")
        result_rows = total("output_rows", "exec")
        result_ops = sum(t["name"] == "op" for t in table)
    for t in set(t for t, _ in op_times):
        m[f"op.{t}.s"] = stats.median([d for u, d in op_times if u == t])
    # Means per traced operation: a request, an ingest or one rollup query.
    n_ops = max(1, len(table))
    self_s = {}
    for t in table:
        for layer, v in t["self"].items():
            self_s[layer] = self_s.get(layer, 0.0) + v
    for name, layer in [("queries.build_s", "queries.build"), ("plans.plan_s", "plans.plan"),
                        ("exec.s", "exec"), ("driver.collect_s", "driver.collect")]:
        m[name] = self_s.get(layer, 0.0) / n_ops
    m["sources.write_s"] = self_s.get("sources.write", 0.0) / max(
        1, sum(t["name"] == "ingest" for t in table))
    m["queries.eager_jobs"] = total("jobs", "queries.build") / n_ops
    for name, key in [("exec.jobs", "jobs"), ("exec.stages", "stages"), ("exec.tasks", "tasks"),
                      ("exec.task_cpu_s", "cpu_s"), ("exec.gc_s", "gc_s"),
                      ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                      ("exec.shuffle_fetch_wait_s", "fetch_wait_s"),
                      ("exec.spill_bytes", "spill_bytes")]:
        m[name] = total(key) / n_ops
    m["exec.task_queue_s"] = total("queue_s") / max(1, total("tasks"))
    wall = sum(t["wall"] for t in table)
    m["exec.slot_busy_frac"] = total("run_s") / (wall * raw["host"]["nproc"]) if wall else 0.0
    m["exec.input_rows_per_result_row"] = total("input_rows") / max(1, result_rows)
    m["driver.result_rows"] = result_rows / max(1, result_ops)
    m["trace.unattributed_max_frac"] = max(
        (t["self"].get(t["name"], 0.0) / t["wall"] for t in table if t["wall"] > 0), default=0.0)
    return m, table


def overhead(items, kind):
    """Traced over untraced time, from per-kind medians of each half."""
    on, off = {}, {}
    for it in items:
        (on if it["traced"] else off).setdefault(kind(it), []).append(it["end"] - it["start"])
    kinds = [k for k in on if k in off]
    untraced = sum(stats.median(off[k]) for k in kinds)
    return sum(stats.median(on[k]) for k in kinds) / untraced - 1 if untraced else 0.0


# ---------------------------------------------------------------- main

def row_counts(workload, raw):
    """Output rows per operation type (min and max over the timed run)."""
    out = {}
    if workload == "api_mix":
        pairs = [(r["type"], r["rows"]) for r in raw["requests"] if not r["error"]]
    else:
        pairs = [("ingest", i["input_rows"]) for i in raw["ingests"]]
    for t, n in pairs:
        lo, hi = out.get(t, (n, n))
        out[t] = (min(lo, n), max(hi, n))
    return {t: {"min": lo, "max": hi} for t, (lo, hi) in sorted(out.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    cfg = WORKLOADS[a.workload]
    try:
        cp = build.build(root)
    except Exception as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    runs = os.path.join(root, ".bench_build", "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    os.makedirs(run_dir)
    t_gen = time.time()
    manifest = gen.generate(a.workload, a.seed, run_dir, cfg["gen"])
    gen_s = time.time() - t_gen
    run_cfg = dict(cfg["run"], nproc=nproc(), seconds=a.seconds, trace=a.trace, run_dir=run_dir)
    if a.workload == "api_mix":
        run_cfg.update(api_phases(cfg["gen"], cfg["run"], a.seconds))
    with open(os.path.join(run_dir, "run.json"), "w") as f:
        json.dump(run_cfg, f)
    raw_path = os.path.join(run_dir, "raw.json")
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        try:
            tmp = os.path.join(run_dir, "tmp")
            os.makedirs(tmp)
            r = subprocess.run(java_cmd(cp, tmp, [os.path.join(run_dir, "manifest.json"),
                                             os.path.join(run_dir, "run.json"), raw_path]),
                               stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                               timeout=HARNESS_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(raw_path):
        kept = os.path.join(root, ".bench_build", f"failed-{a.workload}-{a.seed}-{a.trace}.log")
        shutil.copy(log_path, kept)
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: harness failed ({code}); log kept in {kept}; tail:\n{tail}",
              file=sys.stderr)
        return 1
    with open(raw_path) as f:
        raw = json.load(f)

    if a.workload == "api_mix":
        e2e, named = api_e2e(raw)
        checks, failures = check.api_gate(raw, manifest["data"])
        snapshot_rows = None
        ops = raw["requests"]
        op_errors = [f"{r['type']}: {r['error']}" for r in ops if r["error"]]
    else:
        e2e, named = dex_e2e(raw)
        checks, failures, snapshot_rows = check.dex_gate(raw, manifest["data"],
                                                         manifest["base_file"])
        ops = raw["ingests"] + [o for c in raw["cycles"] for o in c["rollup"]["ops"]]
        op_errors = [f"{o.get('type', 'ingest')}: {o['error']}" for o in ops if o["error"]]
    e2e["setup_s"] = stats.median(raw["setup_s"])
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    attempted = len(ops) + checks
    failed = len(op_errors) + len(failures)

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "input": {k: manifest[k] for k in ("sf", "events", "base_events") if k in manifest}
        | {"batches": len(manifest.get("batches", [])), "gen_s": round(gen_s, 3)},
        "named": named, "failed_frac": failed / attempted,
        "errors": (op_errors + failures)[:20], "rows": row_counts(a.workload, raw),
        "snapshot_rows": snapshot_rows,
        "setups_s": raw["setup_s"], "phases_s": raw["phases"],
        "host": dict(raw["host"], heap=HEAP, git_sha=git_sha(root),
                     source_stamp=build.stamp(root, sum(build.sources(root), []))[:16]),
    }
    if a.trace:
        metrics, table = layer_metrics(a.workload, raw)
        units = LAYER_UNITS
        traces = os.path.join(root, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        trace_path = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": raw.get("spans", []), "layer_counts": raw.get("layer_counts", []),
                       "self_time_table": table}, f)
        report["trace_file"] = os.path.relpath(trace_path, root)
        print_layer_table(table)
    else:
        metrics, units = e2e, E2E_UNITS
    print("report " + json.dumps(report, default=str))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": clean(metrics[k]), "unit": u} for k, u in units.items()}}
    print(json.dumps(result))
    return 0


def clean(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def print_layer_table(table):
    """Self time per layer, summed over traced requests of each root kind."""
    by_kind = {}
    for t in table:
        k = by_kind.setdefault(t["name"], {"n": 0, "wall": 0.0, "self": {}})
        k["n"] += 1
        k["wall"] += t["wall"]
        for layer, v in t["self"].items():
            k["self"][layer] = k["self"].get(layer, 0.0) + v
    for kind, k in sorted(by_kind.items()):
        print(f"layer-table {kind}: {k['n']} traced, wall {k['wall']:.3f} s")
        for layer, v in sorted(k["self"].items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<20} {v:9.3f} s  {100 * v / k['wall']:5.1f}%")


if __name__ == "__main__":
    sys.exit(main())
