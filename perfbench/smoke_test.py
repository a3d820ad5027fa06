#!/usr/bin/env python3
"""Smoke self-test of the benchmark, on the small sf0.001 corpus.

    python3 perfbench/smoke_test.py

Runs every workload for one timed pass untraced and for two passes traced
(one untraced, one traced), on sf0.001.
Asserts that each run's last stdout line carries every metric named in
BENCHMARK.json with its unit and that the outputs matched their
fingerprints. Then runs one workload against a fingerprint file with one
entry corrupted and asserts that the mismatch is counted as failed.
Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def run(workload, trace, passes, *extra):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--max-passes", str(passes),
           "--data", os.path.join(HERE, CONFIG["smoke_data"]), *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise AssertionError(f"{workload} trace={trace}: exit code {r.returncode}")
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check_metrics(result, spec, label):
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}, f"{label}: metrics {sorted(got)}"
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']} != {m['unit']}"
        assert isinstance(v["value"], (int, float)), f"{label}: {m['name']} = {v['value']!r}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for w in bench["workloads"]:
        name = w["name"]
        for trace, passes, spec in ((0, 1, bench["end_to_end"]), (1, 2, bench["per_layer"])):
            label = f"{name} trace={trace}"
            try:
                lines, res = run(name, trace, passes)
                check_metrics(res, spec, label)
                assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, \
                    f"{label}: {lines[-1]} / " + " ".join(l for l in lines if "FAIL" in l)
                if trace == 0:
                    assert any(l.split()[:1] == ["failed_ratio"] for l in lines), \
                        f"{label}: failed_ratio not printed"
                print(f"ok   {label}: {res['attempted']} executions")
            except AssertionError as e:
                failures.append(str(e))
                print(f"FAIL {e}")

    # a corrupted fingerprint must count as a failed execution
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        fps = json.load(f)
    dataset = os.path.basename(CONFIG["smoke_data"])
    victim = CONFIG["workloads"]["scan_base"]["queries"][0]
    rows, digest = fps[dataset][victim].split(":")
    fps[dataset][victim] = f"{rows}:{int(digest, 16) ^ 1:016x}"
    bad = os.path.join(ROOT, ".bench_work", "smoke-fingerprints.json")
    os.makedirs(os.path.dirname(bad), exist_ok=True)
    with open(bad, "w") as f:
        json.dump(fps, f)
    try:
        lines, res = run("scan_base", 0, 1, "--fingerprints", bad)
        ratio = next(float(l.split()[1]) for l in lines if l.split()[:1] == ["failed_ratio"])
        assert ratio > 0 and res["failed"] >= 1 and not res["correct"], \
            f"corrupted fingerprint not detected: {lines[-1]}"
        print(f"ok   corrupted fingerprint of {victim}: failed_ratio {ratio:.4f}")
    except AssertionError as e:
        failures.append(str(e))
        print(f"FAIL {e}")
    finally:
        os.remove(bad)
    print("smoke test " + ("FAILED" if failures else "passed"))
    return 1 if failures else 0


with open(os.path.join(HERE, "workloads.json")) as _f:
    CONFIG = json.load(_f)

if __name__ == "__main__":
    sys.exit(main())
