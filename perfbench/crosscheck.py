#!/usr/bin/env python3
"""Cross-check the recorded fingerprints against graft's DuckDB twins.

    python3 perfbench/crosscheck.py

For every query of every workload, on the workload's data: graft.Verify
writes the Spark result to parquet, tools/oracle_check.py compares it row
for row with the query's DuckDB twin (each twin gets TWIN_TIMEOUT_S), and
the harness fingerprints the same parquet result. A query counts as
cross-checked when its twin agrees and the fingerprint of the checked
result equals the one in fingerprints.json. The outcome is written to
perfbench/crosscheck.json. Needs the repository's tools/ directory and the
duckdb Python module; it is a maintenance step, not part of a benchmark
run.
"""
import json
import os
import shutil
import subprocess
import sys

import run

TWIN_TIMEOUT_S = 300


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    with open(os.path.join(run.HERE, "fingerprints.json")) as f:
        fps = json.load(f)
    work = os.path.join(run.WORK, "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    jvm = ["java", "-XX:-UsePerfData", f"-Xmx{run.heap()}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *run.ADD_OPENS, "-cp", cp]
    report = {}
    by_data = {}
    for wl in run.CONFIG["workloads"].values():
        by_data.setdefault(wl["data"], set()).update(wl["queries"])
    for data_rel, queries in sorted(by_data.items()):
        data = os.path.join(run.HERE, data_rel)
        dataset = os.path.basename(data)
        out = os.path.join(work, dataset)
        queries = sorted(queries)
        subprocess.run(jvm + ["graft.Verify", data, out, *queries], cwd=work, env=env,
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        dig_file = os.path.join(work, f"{dataset}-digests.json")
        subprocess.run(jvm + ["perfbench.FingerprintFiles", work, dig_file] +
                       [f"{q}={os.path.join(out, q)}" for q in queries], cwd=work, env=env,
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(dig_file) as f:
            digests = json.load(f)
        for q in queries:
            try:
                r = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
                                    data, out, q], capture_output=True, text=True,
                                   timeout=TWIN_TIMEOUT_S, cwd=work)
                line = next((l for l in r.stdout.splitlines() if l.startswith(q + " ")), r.stdout[-200:])
                oracle = line[len(q):].strip()
            except subprocess.TimeoutExpired:
                oracle = f"twin did not finish in {TWIN_TIMEOUT_S} s"
            fp = "match" if digests.get(q) == fps.get(dataset, {}).get(q) else \
                f"mismatch: checked result {digests.get(q)}, recorded {fps.get(dataset, {}).get(q)}"
            report.setdefault(dataset, {})[q] = {"oracle": oracle, "fingerprint": fp,
                                                 "cross_checked": oracle.startswith("OK") and fp == "match"}
            print(f"{dataset} {q:<28} {oracle:<24} fingerprint {fp}")
    with open(os.path.join(run.HERE, "crosscheck.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0 if all(v["cross_checked"] for d in report.values() for v in d.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
