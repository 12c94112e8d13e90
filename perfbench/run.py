#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles graft and the
benchmark into .bench_build/ (see build.py); every run then generates
its inputs (gen.py: fixed base tables, which the seed only salts and
shuffles), starts one JVM with a local[4] Spark session, runs the
workload as a closed loop for --seconds (PerfBench.scala), and checks
the outputs. A table of every metric and
check goes to stderr; the last line of stdout is the result JSON. With
--trace 1 the metrics are the per-layer counters, and the span tree is
written to .bench_build/trace/.

Workloads in BENCHMARK.json: monthly_export, stream_ingest. Also
runnable here, but too long for the benchmark's run budget (see
README.md): registry_sweep, corpus_prep.
"""
import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
# a listed workload's JVM must end within this; the by-hand ones run long
JVM_TIMEOUT_S = 170
LISTED = [w["name"] for w in BENCH["workloads"]]

# (tables, scale factor, blow-up factor) of each workload's inputs
INPUTS = {
    "monthly_export": (["events", "customer", "nation", "region"], 0.1, 1),
    "stream_ingest": (["documents"], 0.1, 16),
    "corpus_prep": (["documents", "embeddings"], 0.1, 16),
    "registry_sweep": (list(gen.TABLES), 0.01, 1),
}
ITEMS = {"monthly_export": "CSV rows", "stream_ingest": "docs",
         "corpus_prep": "docs", "registry_sweep": "queries"}


def tail(xs):
    """The highest percentile with at least 10 samples beyond it: the
    11th largest value, at percentile (n-10)/n. Below 21 samples that
    percentile lies under the median, so there it is the largest value."""
    s = sorted(xs)
    if len(s) < 21:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def run_jvm(args, cp, data, work):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           *build.JVM_OPENS, "-cp", cp, "perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--root", ROOT]
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(BUILD, "logs", f"{args.workload}-{args.seed}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=JVM_TIMEOUT_S if args.workload in LISTED else None,
                           cwd=work)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        sys.exit(f"benchmark JVM failed (exit {p.returncode}); see {log}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def oracle_failures(r, data, work):
    """registry_sweep: compares every oracle-backed query's parquet
    output with its DuckDB oracle, normalised as tools/check.py does;
    returns the indexes of the ops that ran a query that differs."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    out = os.path.join(work, "oracle_check")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = set()
    for name, sql in oracles.items():
        try:
            s = check.norm(check.load_spark(out, name))
            o = check.norm(con.execute(sql).df())
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
        except Exception as e:  # a mismatch, or an oracle or load error
            r["checks_failed"].append(f"oracle (run.py): {name}: {str(e)[:200]}")
            bad.add(name)
    return {i for i, q in r["labels"] if q in bad}


def end_to_end(r, setup_s):
    ops = r["op_s"]
    t, pct = tail(ops)
    return {
        "op_s.p50": (statistics.median(ops), "s"),
        "op_s.tail": (t, "s"),
        "items_per_s": (sum(r["items"]) / sum(ops), "1/s"),
        "heap_peak_mb": (r["heap_peak_mb"], "MB"),
        "setup_s": (setup_s, "s"),
    }, f"tail = p{pct:.1f} of n={len(ops)}"


def per_layer(r, args):
    """The per-layer metrics BENCHMARK.json lists, and every counter
    (listed or not) for the stderr table and the trace file."""
    traced = [t for t, on in zip(r["op_s"], r["op_traced"]) if on]
    plain = [t for t, on in zip(r["op_s"], r["op_traced"]) if not on]
    layers = dict(r["layers"])
    layers["tracing.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    listed = {k: (layers[k], u) for k, u in units.items()}
    extra = {k: (v, "") for k, v in layers.items() if k not in units}
    out = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(r["spans_file"]) as f:
        spans = json.load(f)
    with open(out, "w") as f:
        json.dump({"layers": r["layers"], "self_times": r["self_times"],
                   "spans": spans}, f)
    return listed, extra, f"{len(traced)} traced / {len(plain)} untraced ops; spans in {out}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build.ensure(ROOT, BUILD)
    t_setup = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tables, scale, factor = INPUTS[args.workload]
    if factor == 1:
        gen.generate(data, scale, tables)
    else:
        base = os.path.join(work, "base")
        gen.generate(base, scale, tables)
        cols = gen.blow_up(base, data, args.seed, factor, "embeddings" in tables)
        if args.workload == "stream_ingest":
            gen.stream_file(cols, data, args.seed)
    try:
        r = run_jvm(args, cp, data, work)
        failed_ops = set(r["failed_ops"])
        if args.workload == "registry_sweep":
            failed_ops |= oracle_failures(r, data, work)
        setup_s = r["setup_end_ms"] / 1000.0 - t_setup
        if args.trace:
            metrics, extra, note = per_layer(r, args)
        else:
            (metrics, note), extra = end_to_end(r, setup_s), {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = r["attempted"], len(failed_ops)
    correct = failed == 0 and not r["checks_failed"] and not r["errors"]
    w = sys.stderr.write
    w(f"{args.workload}  seed={args.seed}  {attempted} ops, "
      f"items = {ITEMS[args.workload]}, {note}\n")
    for k, (v, unit) in metrics.items():
        w(f"  {k:26s} {v:16.6f} {unit}\n")
    for k, (v, _) in extra.items():
        w(f"  ({k:24s} {v:16.6f}  not in BENCHMARK.json)\n")
    for k, t in sorted(r.get("self_times", {}).items()):
        w(f"  span {k:21s} n={t['count']:<5d} total {t['total_s']:10.3f} s"
          f"  self {t['self_s']:10.3f} s\n")
    w(f"  {'failed_frac':26s} {failed / max(attempted, 1):16.6f} "
      f"({failed} of {attempted})\n")
    for c in r["checks"]:
        bad = [f for f in r["checks_failed"] if f.startswith(c + ":")]
        w(f"  check {c}: {'FAIL ' + '; '.join(bad) if bad else 'ok'}\n")
    for e in r["errors"]:
        w(f"  error {e}\n")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
