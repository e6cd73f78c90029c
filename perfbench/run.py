#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload etl_dag --seed 1 --seconds 18 --trace 0

Run from the repository root. It builds the library and the harness from
source (``perfbench/build.py``), prepares the inputs from the seed,
starts one JVM that sets up Spark, checks every operation's output, then
measures whole runs of the workload for ``--seconds``. The last line of
stdout is the result as JSON; ``--trace 1`` reports the per-layer metrics
instead of the end-to-end ones. See ``perfbench/README.md``.

``--pin`` rewrites ``perfbench/expected/*.json`` from the current code:
the row lists per workload and each row's expected output digest.
"""
import argparse
import hashlib
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

WORKLOADS = ("etl_dag", "curation_rows", "olap_rows")
ROW_WORKLOADS = ("curation_rows", "olap_rows")
# Copies of the sf0.01 events and customer in the ETL replica: 50,000
# events, so that set-up, the correctness pass, a warm-up and a timed run
# fit the per-run time budget.
ETL_FACTOR = 5
# Oracle SQL per ETL operation; the DAG's written tables are checked too.
ETL_ORACLES = {
    "audience_metrics": "q_audience_metrics",
    "incremental_merge": "q_incremental_merge",
    "upsert_merge": "q_upsert_merge",
    "affected_rebuild": "q_affected_rebuild",
    "panel_windows_merge": "q_panel_windows_merge",
    "dag/panel_windows": "q_panel_windows",
    "dag/weighted_events": "q_weighted_events",
    "dag/viewing_sessions": "q_sessionize",
    "dag/task_control": "q_watermark",
}
DAG_STAGES = ("panel_windows", "raw_events", "weighted_events", "viewing_sessions",
              "control_table", "audience_metrics", "incremental_merge", "upsert_merge",
              "affected_rebuild", "panel_windows_merge")
# Shards per row workload; the benchmark measures shard 0, a systematic
# sample of about 4.5 s of pinned warm time, so that several passes fit in
# one run.
SHARDS = {"curation_rows": 12, "olap_rows": 16}
# Untimed runs between the correctness pass and the timed runs. Run times
# keep falling for about 40 s after the correctness pass while the JIT
# compiles; the timed runs start on the flatter part of that curve.
WARMUP_RUNS = 2
EXIT_BUDGET_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def load_expected():
    out = {}
    for w in ROW_WORKLOADS:
        with open(expected_path(w)) as f:
            out[w] = json.load(f)
    return out


def write_listing(work, expected):
    with open(os.path.join(work, "workloads.tsv"), "w") as f:
        for w, rows in expected.items():
            for name in sorted(rows):
                f.write(f"{name}\t{w}\n")


def run_harness(classes, workload, data, work, seed, seconds, trace, deadline, warm=0):
    """Runs one harness JVM; returns what it wrote to ``harness.json``."""
    cpus = os.cpu_count() or 1
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *build.JVM_FLAGS, *build.JDK_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
           "perfbench.Harness", workload, data, work, str(seed), str(seconds),
           str(trace), str(cpus), str(warm)]
    with open(os.path.join(work, "harness.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness ran past the time limit")
    if code != 0:
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-4000:]
        log(tail)
        raise SystemExit(f"harness exited with {code}")
    if workload in ("registry", "membership"):
        return None
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def etl_expected(con, replica, oracle_sql):
    """Oracle digests for the ETL checks, cached beside the replica."""
    sqls = {k: oracle_sql[q] for k, q in ETL_ORACLES.items()}
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(replica, f"expected-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = {k: list(check.digest(con, sql)) for k, sql in sqls.items()}
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def check_outputs(res, workload, work, data, expected):
    """Names of operations whose output is missing or differs from the
    expected digest, with the reason."""
    bad = dict(res["check_failed"])
    if workload == "etl_dag":
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        con = check.connect(data)
        want = etl_expected(con, data, oracle_sql)
        for key, (rows, digest) in want.items():
            op = "daily_dag" if key.startswith("dag/") else key
            if op in bad:
                continue
            out = os.path.join(work, key if key.startswith("dag/") else f"check/{key}")
            got = check.digest_parquet(con, out)
            if got != (rows, digest):
                bad[op] = f"{key}: {got[0]} rows, digest {got[1]}; oracle {rows} rows, {digest}"
    else:
        con = check.connect()
        for name in res["ops"]:
            if name in bad:
                continue
            got = check.digest_parquet(con, os.path.join(work, "check", name))
            want = expected[name]
            if list(got) != [want["rows"], want["digest"]]:
                bad[name] = (f"{got[0]} rows, digest {got[1]}; expected {want['rows']} rows, "
                             f"{want['digest']} ({want['source']})")
    return bad


def end_to_end(res):
    plain = [r for r in res["runs"] if not r["traced"]]
    # one time per operation, its median over the timed runs, so the
    # quantiles below do not move with the number of runs that fit
    walls = [statistics.median(r["ops"][i]["wall_s"] for r in plain)
             for i in range(len(plain[0]["ops"]))]
    return {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (statistics.median(r["run_s"] for r in plain), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        # inclusive: interpolated between observed times, never beyond the
        # slowest, so it only falls when an operation gets faster
        "query_p90_s": (statistics.quantiles(walls, n=10, method="inclusive")[8], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, {"runs": len(plain), "ops": len(walls)}


def counter_key(op):
    b, e = op["build"], op["exec"]
    return [b["jobs"] + e["jobs"], b["stages"] + e["stages"], b["tasks"] + e["tasks"],
            b["shuffle_w_bytes"] + e["shuffle_w_bytes"]]


def per_layer(res):
    traced = [r for r in res["runs"] if r["traced"]]
    plain = [r for r in res["runs"] if not r["traced"]]
    cpus = res["cpus"]

    def med(f):
        return statistics.median(f(r) for r in traced)

    def tot(r, phase, field):
        return sum(op[phase][field] for op in r["ops"])

    def both(r, field):
        return tot(r, "build", field) + tot(r, "exec", field)

    m = {
        "queries.build_s": (med(lambda r: sum(op["build_s"] for op in r["ops"])), "s"),
        "queries.build_jobs": (med(lambda r: tot(r, "build", "jobs")), "count"),
        "plans.plan_ms": (med(lambda r: both(r, "plan_ms")), "ms"),
        "exec.exec_s": (med(lambda r: sum(op["exec_s"] for op in r["ops"])), "s"),
        "exec.jobs": (med(lambda r: tot(r, "exec", "jobs")), "count"),
        "exec.stages": (med(lambda r: tot(r, "exec", "stages")), "count"),
        "exec.tasks": (med(lambda r: tot(r, "exec", "tasks")), "count"),
        "exec.task_s": (med(lambda r: tot(r, "exec", "task_s")), "s"),
        "exec.cpu_util": (med(lambda r: tot(r, "exec", "task_s") / max(
            1e-9, sum(op["exec_s"] for op in r["ops"]) * cpus)), "ratio"),
        "exec.gc_s": (med(lambda r: tot(r, "exec", "gc_s")), "s"),
        "exec.shuffle_w_bytes": (med(lambda r: tot(r, "exec", "shuffle_w_bytes")), "bytes"),
        "exec.shuffle_r_bytes": (med(lambda r: tot(r, "exec", "shuffle_r_bytes")), "bytes"),
        "exec.spill_bytes": (med(lambda r: tot(r, "exec", "spill_bytes")), "bytes"),
        "exec.failed_tasks": (med(lambda r: both(r, "failed_tasks")), "count"),
        "operators.materialized_bytes": (
            med(lambda r: sum(op["materialized_bytes"] for op in r["ops"])), "bytes"),
        "sources.in_bytes": (med(lambda r: both(r, "in_bytes")), "bytes"),
        "sources.out_bytes": (med(lambda r: both(r, "out_bytes")), "bytes"),
        "sources.resolve_ms": (res["resolve_ms"], "ms"),
    }
    for stage in DAG_STAGES:
        m[f"pipeline.{stage}_s"] = (med(lambda r: sum(
            op["stages"].get(stage, 0.0) for op in r["ops"])), "s")
    traced_run = statistics.median(r["run_s"] for r in traced)
    m["trace.overhead_s"] = (traced_run - statistics.median(r["run_s"] for r in plain), "s")
    drift = sorted({a["name"] for x, y in zip(traced, traced[1:])
                    for a, b in zip(x["ops"], y["ops"]) if counter_key(a) != counter_key(b)})
    m["repeat.drift_ops"] = (len(drift), "count")
    return m, {"traced_runs": len(traced), "plain_runs": len(plain),
               "traced_run_s": traced_run, "drift": drift}


def repeat_against_previous(res, path):
    """Operations whose counters differ from the previous traced run of the
    same build and inputs (the record is replaced by this run's)."""
    last = [r for r in res["runs"] if r["traced"]][-1]
    now = {op["name"]: counter_key(op) for op in last["ops"]}
    drift = None
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        drift = sorted(n for n in now if prev.get(n) != now[n])
    with open(path, "w") as f:
        json.dump(now, f)
    return drift


def prepare_inputs(bdir, workload, seed):
    """The input directory of ``workload``: the sf0.01 tables for the row
    workloads, the seed's replica (written on first use) for ``etl_dag``."""
    if workload != "etl_dag":
        return gen.BASE
    data_root = os.path.join(bdir, "data")
    os.makedirs(data_root, exist_ok=True)
    data = os.path.join(data_root, f"etl_x{ETL_FACTOR}_seed{seed}")
    # keep only the replica of the current seed
    for old in os.listdir(data_root):
        if old != os.path.basename(data):
            shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
    gen.write_replica(gen.BASE, data, ETL_FACTOR, seed)
    return data


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true", help="rewrite expected/*.json")
    args = ap.parse_args()
    deadline = time.monotonic() + EXIT_BUDGET_S
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("run from the repository root: src/main/scala is missing")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.build(root, bdir)
    if args.pin:
        import pin
        pin.pin(classes, bdir)
        return
    if not args.workload:
        ap.error("--workload is required")

    t0 = time.monotonic()
    data = prepare_inputs(bdir, args.workload, args.seed)
    print(f"inputs {args.workload}: " + ", ".join(
        f"{t}={n}" for t, n in gen.row_counts(data).items()))
    log(f"inputs ready in {time.monotonic() - t0:.1f} s")

    expected = load_expected()
    work = os.path.join(bdir, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    write_listing(work, expected)
    if args.workload in ROW_WORKLOADS:
        with open(os.path.join(work, "selected.txt"), "w") as f:
            f.write("\n".join(sorted(
                n for n, r in expected[args.workload].items() if r["shard"] == 0)))
    try:
        res = run_harness(classes, args.workload, data, work, args.seed, args.seconds,
                          args.trace, deadline, WARMUP_RUNS)
        bad = check_outputs(res, args.workload, work, data,
                            expected.get(args.workload, {}))
    finally:
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(bdir, "trace"), exist_ok=True)
            shutil.move(spans, os.path.join(
                bdir, "trace", f"{args.workload}-seed{args.seed}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    with open(os.path.join(bdir, "results", f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(res, f)

    warm = ", ".join(f"{r['run_s']:.2f}" for r in res["warm"])
    runs = ", ".join(f"{r['run_s']:.2f}" for r in res["runs"])
    log(f"setup {res['setup_s']:.2f} s; check pass {res['check_s']:.1f} s; warm-up {warm} s; runs {runs} s")
    executed = res["warm"] + res["runs"]
    timed_fail = {op["name"] for r in executed for op in r["ops"] if op["failed"]}
    attempted = len(res["ops"]) * (1 + len(executed))
    failed = len(bad) + sum(op["failed"] for r in executed for op in r["ops"])
    for name, why in sorted(bad.items()):
        print(f"FAILED {name}: {why}")
    for name in sorted(timed_fail):
        print(f"FAILED {name}: raised in a warm-up or timed run")

    if args.trace:
        metrics, info = per_layer(res)
        with open(os.path.join(bdir, "classes.stamp")) as f:
            stamp = hashlib.sha256(f"{f.read()}:{data}".encode()).hexdigest()[:12]
        prev = repeat_against_previous(res, os.path.join(
            bdir, "trace", f"{args.workload}-{stamp}.counters.json"))
        print(f"traced runs {info['traced_runs']}, untraced {info['plain_runs']}; "
              f"traced run_s {info['traced_run_s']:.3f} s, tracing overhead "
              f"{metrics['trace.overhead_s'][0]:+.3f} s")
        print("counters that did not repeat within this run: "
              + (", ".join(info["drift"]) or "none"))
        print("counters that did not repeat against the previous traced run: "
              + ("no previous run" if prev is None else ", ".join(prev) or "none"))
    else:
        metrics, info = end_to_end(res)
        print(f"runs {info['runs']}, operations {info['ops']}")
    print(f"failed_ops {failed}/{attempted}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
