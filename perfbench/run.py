#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload loops_base --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles graft's sources
(src/main/scala) and the harness (perfbench/harness) with the Scala
compiler shipped in Spark's jars into .bench_build/; later runs reuse the
build while the sources are unchanged. Everything a run writes (JVM temp
files, Spark local dirs, warehouse, index artifacts,
spans) stays under .bench_work/.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced passes and prints the per-layer metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170  # a run must end within 180 s; the build is not counted
# The end-to-end metrics are taken over the first SAMPLE_PASSES untraced
# timed passes (Main.MinPasses), so every run and every commit report the
# same statistic over the same number of executions.
SAMPLE_PASSES = 4

END_TO_END = {
    "pass_s": "s", "query_s_p50": "s", "query_s_tail": "s",
    "retained_heap_mb": "MB", "setup_s": "s",
}
COUNTERS = {
    "sources.input_rows": "count", "sources.input_bytes": "B",
    "sources.output_bytes": "B", "operators.build_jobs": "count",
    "plans.plan_nodes": "count", "plans.exchanges": "count",
    "plans.broadcast_joins": "count", "plans.sort_merge_joins": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_wait_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_records": "count", "exec.spill_bytes": "B", "exec.gc_s": "s",
    "exec.failed_tasks": "count", "iterates.checkpointed_rdds": "count",
    "iterates.freed_rdds": "count", "iterates.peak_stored_mb": "MB",
    "broadcast.bytes": "B", "broadcast.build_s": "s",
}
PER_LAYER = dict(COUNTERS, **{
    "operators.build_s": "s", "operators.action_s": "s", "plans.plan_s": "s",
    "exec.core_busy_ratio": "ratio", "driver.cpu_s": "s", "driver.gc_s": "s", "driver.jit_s": "s",
    "driver.peak_heap_mb": "MB",
    "posture.round_broadcast_joins": "count",
    "posture.round_sort_merge_joins": "count",
    "setup.session_s": "s", "setup.corpus_s": "s", "setup.warmup_s": "s",
    "trace.overhead_s": "s",
})


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars directory of $SPARK_HOME, else of the first spark-submit on
    PATH, that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(j.startswith("scala-compiler") for j in os.listdir(jars)):
            return jars
    fail("no Spark installation with the Scala compiler found (set SPARK_HOME)")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in out):
        fail(f"graft sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return sorted(out)


def check_build_sbt(jars):
    """Fail unless this build compiles graft as build.sbt does: the same
    Scala version, and no scalacOptions (none are passed here)."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        fail(f"{path} not found")
    with open(path) as f:
        sbt = "\n".join(l.split("//")[0] for l in f)
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    compiler = next((j[len("scala-compiler-"):-len(".jar")] for j in os.listdir(jars)
                     if j.startswith("scala-compiler-")), None)
    if not m or m.group(1) != compiler:
        fail(f"build.sbt scalaVersion {m and m.group(1)} != Spark's Scala compiler {compiler}")
    if "scalacOptions" in sbt:
        fail("build.sbt sets scalacOptions; pass the same options in perfbench/run.py build()")


def build(jars):
    """Compile graft + harness once per source hash; return the classes dir."""
    check_build_sbt(jars)
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    scala = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
             if j.startswith(("scala-compiler", "scala-library-", "scala-reflect-"))]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    return classes


def heap():
    """Tier-1 sizing: half of MemTotal, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, jars, wl, args, data, work, out):
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *ADD_OPENS, "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main", "--data", data,
           "--queries", ",".join(wl["queries"]), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--warmup-passes", str(wl["warmup_passes"]),
           "--trace", str(args.trace),
           "--work", work, "--out", out]
    if args.max_passes:
        cmd += ["--max-passes", str(args.max_passes)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail("timed out" if rc is None else f"JVM exited with code {rc}")


def quantile_rank(xs):
    """Highest nearest-rank percentile with at least ten values beyond it."""
    xs = sorted(xs)
    n = len(xs)
    rank = n - 10 if n >= 11 else n
    return xs[rank - 1], 100.0 * rank / n, n


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="base data directory (default: the workload's)")
    ap.add_argument("--max-passes", type=int, help="stop after this many timed passes")
    ap.add_argument("--fingerprints", default=os.path.join(HERE, "fingerprints.json"))
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="add the observed fingerprints to --fingerprints")
    args = ap.parse_args()

    wl = CONFIG["workloads"][args.workload]
    data = os.path.abspath(args.data or os.path.join(HERE, wl["data"]))
    if not os.path.isdir(data):
        fail(f"data directory {data} not found")
    dataset = os.path.basename(data)
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    run_jvm(classes, jars, wl, args, data, work, out)
    with open(out) as f:
        rec = json.load(f)

    with open(args.fingerprints) as f:
        fps = json.load(f)
    expected = fps.get(dataset, {})
    # every execution is checked, the warm-up passes (with each query's
    # only cold run) included; only timed ones are in the timing samples
    checked = rec["executions"]
    timed = [e for e in checked if e["pass"] > 0]

    def fault(e):
        want = expected.get(e["query"])
        if e["error"]:
            return e["error"]
        if want is None and not args.record_fingerprints:
            return f"no expected fingerprint for {dataset}"
        if want is not None and e["digest"] != want:
            return f"fingerprint {e['digest']} != {want}"
        return None

    problems = [f"{e['query']} (pass {e['pass']}): {fault(e)}" for e in checked if fault(e)]
    failed = len(problems)
    if args.record_fingerprints:
        seen = {}
        for e in rec["executions"]:
            if not e["error"]:
                seen.setdefault(e["query"], set()).add(e["digest"])
        unstable = {q: sorted(d) for q, d in seen.items() if len(d) > 1}
        if unstable:
            fail(f"fingerprints differ between passes: {unstable}")
        fps.setdefault(dataset, {}).update({q: d.pop() for q, d in seen.items()})
        with open(args.fingerprints, "w") as f:
            json.dump({k: dict(sorted(v.items())) for k, v in sorted(fps.items())}, f, indent=1)
            f.write("\n")

    passes = [p for p in rec["passes"] if not p["traced"]][:SAMPLE_PASSES]
    plain = {p["pass"] for p in passes}
    lat = [e["seconds"] for e in timed if e["pass"] in plain]
    tail, pct, n = quantile_rank(lat)
    setup = rec["setup"]
    e2e = {
        "pass_s": median([p["wall_s"] for p in passes]),
        "query_s_p50": median(lat),
        "query_s_tail": tail,
        # lowest over the passes: the broadcast relations of a pass's last
        # queries can stay reachable past its end, so a single pass reads
        # up to ~20 MB higher depending on the seed's query order
        "retained_heap_mb": min(p["retained_heap_mb"] for p in passes),
        "setup_s": setup["setup_s"],
    }
    print(f"workload {args.workload}  data {dataset}  seed {args.seed}  cores {rec['cores']}  "
          f"passes {len(rec['passes'])} (metrics over the first {len(passes)} untraced)")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:12.4f} {END_TO_END[k]}")
    # process CPU is reported but not bounded: it spreads more between runs
    # than a bound may allow (see README.md)
    print(f"  {'cpu_s':<14} {median([p['cpu_s'] for p in passes]):12.4f} s")
    print(f"  {'failed_ratio':<14} {failed / len(checked):12.4f} ratio "
          f"({failed} of {len(checked)}, warm-up included)")
    print(f"  query_s_tail is p{pct:.1f} of {n} executions")
    by_q = {}
    for e in timed:
        by_q.setdefault(e["query"], []).append(e["seconds"])
    for q in sorted(by_q):
        print(f"    {q:<28} median {median(by_q[q]):8.3f} s over {len(by_q[q])}")

    metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    if args.trace:
        traced = [p for p in rec["passes"] if p["traced"]]
        tset = {p["pass"] for p in traced}

        def per_pass(fn):
            return median([fn(p) for p in traced])

        def exec_sum(field):
            return lambda p: sum(e[field] for e in timed if e["pass"] == p["pass"])

        layer = {k: per_pass(lambda p, k=k: p["counters"].get(k, 0.0)) for k in COUNTERS}
        layer.update({
            "operators.build_s": per_pass(exec_sum("build_s")),
            "operators.action_s": per_pass(exec_sum("action_s")),
            "plans.plan_s": per_pass(exec_sum("plan_s")),
            "exec.core_busy_ratio": per_pass(
                lambda p: p["counters"].get("exec.task_run_s", 0.0) / (p["wall_s"] * rec["cores"])),
            "driver.cpu_s": per_pass(lambda p: p["cpu_s"]),
            "driver.gc_s": per_pass(lambda p: p["driver_gc_s"]),
            "driver.jit_s": per_pass(lambda p: p["jit_s"]),
            "driver.peak_heap_mb": per_pass(lambda p: p["peak_heap_mb"]),
            "setup.session_s": setup["session_s"],
            "setup.corpus_s": setup["corpus_s"],
            "setup.warmup_s": setup["warmup_s"],
            "trace.overhead_s": per_pass(lambda p: p["wall_s"]) - e2e["pass_s"],
        })
        joins = rec["round_joins"]
        rounds = {q: sorted(set(js)) for q, js in joins.items()}
        layer["posture.round_broadcast_joins"] = sum(js.count("broadcast") for js in joins.values()) / len(tset)
        layer["posture.round_sort_merge_joins"] = sum(js.count("sort_merge") for js in joins.values()) / len(tset)
        print("  round-kernel joins per query:")
        for q in sorted(wl["queries"]):
            print(f"    {q:<28} {','.join(rounds.get(q, [])) or '-'}")
        for q, want in wl["posture"].items():
            if rounds.get(q) != [want]:
                problems.append(f"posture guard: {q} round joins {rounds.get(q)} are not all {want}")
        for k in PER_LAYER:
            print(f"  {k:<32} {layer[k]:16.4f} {PER_LAYER[k]}")
        metrics = {k: (layer[k], PER_LAYER[k]) for k in PER_LAYER}
        print(f"  spans: {os.path.relpath(os.path.join(work, f'spans-seed{args.seed}.jsonl'), ROOT)}")

    for p in problems:
        print(f"  FAIL {p}")
    print(json.dumps({
        "correct": not problems,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


with open(os.path.join(HERE, "workloads.json")) as _f:
    CONFIG = json.load(_f)

if __name__ == "__main__":
    main()
