"""Medallion-pipeline benchmark: one run of one workload.

    python3 pipebench/run.py --workload backfill|daily --seed N --seconds S --trace 0|1

Run from the repository root. The run builds the program from source
(build.py), generates its inputs from the seed (gen.py), starts one JVM that
drives the pipeline through its public functions (src/pipebench/Bench.scala),
checks every output against a DuckDB recomputation from the CSVs (check.py),
and prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. README.md defines every metric.
"""
import argparse
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
import check  # noqa: E402
import gen  # noqa: E402

# S symbols x D trading days; K daily batches (README.md, "Sizes")
SYMBOLS, DAYS, BATCHES = 50, 252, 2
CPUS = max(1, min(4, len(os.sched_getaffinity(0))))  # as `nproc` counts them
DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
LAYERS = ["bronze", "silver", "gold", "dq"]
LAYER_KEYS = ["jobs", "tasks", "shuffle_bytes", "spill_bytes", "rows_out",
              "files_written", "bytes_written", "gc_ms"]
QUERIES = ["q1_latest_snapshot", "q2_top_moves", "q3_volatility_scan", "q4_liquidity_screen",
           "q5_recent_window", "q6_large_move_alert", "q7_volatility_expansion",
           "q8_cross_asset_on", "q9_completeness", "q10_dq_triage"]
END_TO_END = {"setup_s": "s", "pipeline_run_s": "s", "write_amp": "ratio", "space_amp": "ratio"}


def per_layer_units():
    units = {}
    for layer in LAYERS:
        units[f"{layer}.s"] = "s"
        for k in LAYER_KEYS:
            units[f"{layer}.{k}"] = "ms" if k == "gc_ms" else ("bytes" if "bytes" in k else "count")
    units.update({"report.s": "s", "report.jobs": "count",
                  "catalog.listing_jobs": "count", "catalog.listing_tasks": "count",
                  "catalog.listing_s": "s", "catalog.table_files": "count",
                  "catalog.archive_bytes": "bytes"})
    units["analyst.query_p50_ms"] = "ms"
    units.update({f"analyst.{q}.p50_ms": "ms" for q in QUERIES})
    units.update({"analyst.read_s": "s", "analyst.jobs": "count", "session.start_s": "s",
                  "trace.pipeline_run_s": "s", "trace.coverage": "ratio"})
    return units


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """'p<k>=<v>' for the highest percentile with at least 10 samples above it."""
    n = len(xs)
    if n < 11:
        return "no tail percentile (needs 11+ samples)"
    k = (n - 10) * 100 // n
    return f"p{k}={sorted(xs)[(k * n) // 100]:.4f}"


def run_jvm(root, classes, workload, data, work, seconds, trace, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp]
           + [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"),
              "pipebench.Bench", "--workload", workload, "--data", data, "--work", work,
              "--seconds", str(seconds), "--trace", "1" if trace else "0"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), TZ="UTC",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            proc.wait(timeout=max(1.0, budget_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"the benchmark JVM ran longer than {budget_s:.0f} s")
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"the benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def end_to_end(res, gen_s, csv_total):
    runs = [o for o in res["ops"] if o["kind"] == "pipeline"]
    last = {}
    for o in runs:
        last[o["cycle"]] = o  # a cycle's final pipeline op holds its warehouse size
    setup = {"session": res["session_start_s"], "generate": gen_s, "build": res["build_s"]}
    values = {
        "setup_s": sum(setup.values()),
        "pipeline_run_s": median([o["s"] for o in runs]),
        "write_amp": median([o["bytes_written"] / o["csv_bytes"] for o in runs]),
        "space_amp": median([o["space_bytes"] / csv_total for o in last.values()]),
    }
    notes = {
        "setup_s": ", ".join(f"{k} {v:.3f} s" for k, v in setup.items()),
        "pipeline_run_s": f"median of n={len(runs)}; {tail([o['s'] for o in runs])}",
        "write_amp": f"bytes written per CSV byte ingested, median of n={len(runs)}",
        "space_amp": f"warehouse bytes per CSV byte ingested, n={len(last)}",
    }
    return values, notes


def per_layer(res):
    spans = res["spans"]
    ops = res["ops"]
    traced_runs = [i for i, o in enumerate(ops) if o["kind"] == "pipeline"]
    # the second round of analyst queries: warm plans, as in an analyst's session
    traced_queries = [i for i, o in enumerate(ops) if o["kind"] == "query" and o["cycle"].endswith("-r1")]

    def dur(s):
        return s["end_s"] - s["start_s"]

    def spans_of(op, name):
        return [s for s in spans if s["op"] == op and s["name"] == name]

    v = {}
    for layer in LAYERS + ["report"]:
        rows = [s for i in traced_runs for s in spans_of(i, layer)]
        # self time: the catalog's file listing inside a layer is the catalog's
        v[f"{layer}.s"] = median([dur(s) - s.get("listing_ms", 0) / 1000 for s in rows])
        for k in ["jobs"] if layer == "report" else LAYER_KEYS:
            v[f"{layer}.{k}"] = median([s.get(k, 0) for s in rows])
    layer_spans = [[s for s in spans if s["op"] == i and s["parent"] != -1] for i in traced_runs]
    for k, scale in (("listing_jobs", 1), ("listing_tasks", 1), ("listing_ms", 1000)):
        name = "catalog.listing_s" if k == "listing_ms" else f"catalog.{k}"
        v[name] = median([sum(s.get(k, 0) for s in r) / scale for r in layer_spans])
    v["catalog.table_files"] = median([ops[i]["table_files"] for i in traced_runs])
    v["catalog.archive_bytes"] = median([ops[i]["archive_bytes"] for i in traced_runs])
    v["analyst.query_p50_ms"] = median([ops[i]["s"] * 1000 for i in traced_queries])
    for q in QUERIES:
        v[f"analyst.{q}.p50_ms"] = median(
            [dur(s) * 1000 for i in traced_queries for s in spans_of(i, f"analyst.{q}")])
    v["analyst.read_s"] = median([dur(s) for i in traced_queries for s in spans_of(i, "analyst.read")])
    rounds = {}
    for i in traced_queries:
        jobs = sum(s.get("jobs", 0) for s in spans if s["op"] == i)
        rounds[ops[i]["cycle"]] = rounds.get(ops[i]["cycle"], 0) + jobs
    v["analyst.jobs"] = median(list(rounds.values()))
    v["session.start_s"] = res["session_start_s"]
    # traced pipeline_run_s; minus the untraced one it is the cost of tracing
    v["trace.pipeline_run_s"] = median([ops[i]["s"] for i in traced_runs])
    # share of each traced pipeline call that the layer spans account for
    v["trace.coverage"] = median([sum(dur(s) for s in r) / ops[i]["s"]
                                  for i, r in zip(traced_runs, layer_spans)])
    return v


def main():
    ap = argparse.ArgumentParser(description="medallion pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=["backfill", "daily"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()

    try:
        classes = build.build(root)
    except (OSError, subprocess.SubprocessError) as e:
        print(f"pipebench: cannot build the program: {e}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    manifest = gen.generate(data, a.seed, SYMBOLS, DAYS, BATCHES)
    gen_s = time.perf_counter() - t0

    res = run_jvm(root, classes, a.workload, data, work, a.seconds, a.trace == 1,
                  DEADLINE_S - (time.monotonic() - t_start))
    verdict = check.check_run(a.workload, work, data, manifest, res)

    ops = res["ops"]
    failed = {i for i, o in enumerate(ops) if o["error"]} | verdict["failed_ops"]
    batches = manifest["batches"] if a.workload == "daily" else manifest["batches"][:1]
    csv_total = sum(b["csv_bytes"] for b in batches)
    e2e, notes = end_to_end(res, gen_s, csv_total)

    cycles = len({o["cycle"] for o in ops if o["kind"] == "pipeline"})
    print(f"pipebench {a.workload} seed={a.seed} trace={a.trace} S={SYMBOLS} D={DAYS} "
          f"K={BATCHES} cpus={CPUS} cycles={cycles} input_csv_bytes={csv_total}")
    for k, unit in END_TO_END.items():
        print(f"  {k:<16} {e2e[k]:>12.4f} {unit:<6} {notes[k]}")
    print(f"  {'failed_frac':<16} {len(failed) / len(ops):>12.4f} ratio  "
          f"{len(failed)} of {len(ops)} operations failed or gave wrong output")
    for i in sorted(failed):
        if ops[i]["error"]:
            print(f"    {ops[i]['cycle']} {ops[i]['name']}: {ops[i]['error']}")
    for p in verdict["problems"]:
        print(f"    {p}")
    print(f"  outputs_ok       {str(not failed).lower()}")

    if a.trace:
        units = per_layer_units()
        values = per_layer(res)
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        for k in units:
            print(f"  {k:<36} {values[k]:>14.4f} {units[k]}")
        traces = os.path.join(root, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"ops": ops, "spans": res["spans"], "per_layer": values}, f, indent=1)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
