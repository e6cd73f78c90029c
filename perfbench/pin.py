"""Rewrites ``expected/<workload>.json`` for the two registry workloads.

Membership follows one rule: a registry name starting with ``q`` belongs
to ``olap_rows``, every other name to ``curation_rows``. The rows of a
workload are dealt into shards by warm time (``assign_shards``); the
benchmark measures shard 0. Each row's expected output is the digest of
its DuckDB oracle (``SparkEntry.oracleSql``) run on the sf0.01 test tables,
or, for the rows without an oracle, the digest of the Spark output at the
time of pinning. Rows whose Spark output disagrees with their oracle are
printed; the oracle value is pinned.

    python3 perfbench/run.py --pin
"""
import json
import os
import shutil
import time

import check
import run


def assign_shards(rows, k):
    """Systematic sample: in order of warm time, row ``i`` goes to shard
    ``i % k``, so every shard holds one row from each stratum of ``k``
    rows and spans the workload's whole range of row times."""
    for i, name in enumerate(sorted(rows, key=lambda n: (rows[n]["warm_s"], n))):
        rows[name]["shard"] = i % k


def pin(classes, bdir):
    work = os.path.join(bdir, "work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = run.prepare_inputs(bdir, "curation_rows", 0)
    far = time.monotonic() + 3600
    open(os.path.join(work, "workloads.tsv"), "w").close()
    run.run_harness(classes, "registry", data, work, 0, 0, 0, far)
    with open(os.path.join(work, "registry.json")) as f:
        names = json.load(f)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    lists = {"olap_rows": [n for n in names if n.startswith("q")],
             "curation_rows": [n for n in names if not n.startswith("q")]}
    run.write_listing(work, lists)
    con = check.connect(data)
    for workload, rows in lists.items():
        res = run.run_harness(classes, workload, data, work, 0, 0, 0, far)
        out = {}
        warm = {op["name"]: op["wall_s"] for op in res["runs"][0]["ops"]}
        for name in sorted(rows):
            spark = None
            if name not in res["check_failed"]:
                spark = check.digest_parquet(con, os.path.join(work, "check", name))
            if name in oracle:
                want = check.digest(con, oracle[name])
                if spark != want:
                    print(f"{name}: spark {spark} differs from oracle {want}")
                out[name] = {"rows": want[0], "digest": want[1], "source": "oracle"}
            elif spark is None:
                print(f"{name}: raised ({res['check_failed'][name]}); nothing to pin")
                out[name] = {"rows": -1, "digest": "", "source": "none"}
            else:
                out[name] = {"rows": spark[0], "digest": spark[1], "source": "spark"}
            out[name]["warm_s"] = round(warm[name], 3)
        assign_shards(out, run.SHARDS[workload])
        with open(run.expected_path(workload), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{workload}: {len(out)} rows pinned")
    shutil.rmtree(work, ignore_errors=True)
