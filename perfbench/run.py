#!/usr/bin/env python3
"""One-command runner of the outside-in benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload log_stream --seed 1 --seconds 8 --trace 0

It builds the harness (an sbt build of its own that compiles the engine
from the checkout's sources) on first use, launches one JVM for the
workload with Spark in local mode on every available core, checks the
dashboard results against their DuckDB oracles with the repository's
correctness gate (tools/check.py), prints every metric by
name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the workload-independent end-to-end set;
with --trace 1 they are the per-layer set. Every run's report and JVM log,
and with --trace 1 its spans, are kept under .bench_build/reports/.
Options after the four above are for the benchmark's own tests.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("log_stream", "log_dashboard", "corpus")
END_TO_END = ("latency_p50_ms", "throughput_per_s", "setup_s")
PER_LAYER = ("sched.jobs_per_op", "sched.stages_per_op", "sched.tasks_per_op",
             "sched.shuffle_bytes_per_op", "sched.input_rows_per_op", "sched.core_util",
             "pins.count", "pins.peak_mb")
BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the engine build).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    pats = ["build.sbt", "project/build.properties", "src/main/scala/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/scala/**/*.scala"]
    for p in pats:
        yield from sorted(glob.glob(os.path.join(root, p), recursive=True))


def build(root):
    """Compile the harness and the engine with sbt (offline), once per
    source state; returns the runtime classpath."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed", 1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return lines[-1]


def java_cmd(cp, work, args):
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dlog4j2.level=error"]
            + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + args)


def oracle_check(root, sf_dir, results):
    """Compare each checked query result with its DuckDB oracle over the
    same generated tables, with the repository's own correctness gate
    (tools/check.py); returns (query, ok, detail) triples."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check
    check.TABLES = [t for t in check.TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(sf_dir, results)
    res = []
    for line in out.getvalue().splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("PASS", "FAIL", "WARN"):
            query, _, detail = rest.partition(" ")
            res.append((query.rstrip(":"), verdict == "PASS", "" if verdict == "PASS" else detail))
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", metavar="DIR", help="only write the seeded inputs to DIR")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of an engine checkout (build.sbt and src/main/scala/graft not found)")
    cp = build(root)

    common = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--scale", a.scale, "--corrupt", str(a.corrupt)]
    if a.gen_only:
        work = os.path.abspath(a.gen_only)
        os.makedirs(work, exist_ok=True)
        subprocess.run(java_cmd(cp, work, common + ["--work", work, "--gen-only", "1"]),
                       check=True, timeout=JVM_TIMEOUT_S)
        return

    work = os.path.join(root, BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(java_cmd(cp, work, common + ["--work", work]),
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s", 1)
        res_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(res_path):
            sys.stderr.write(open(log_path).read()[-4000:])
            die(f"{a.workload} JVM exited with {proc.returncode}", 1)
        res = json.load(open(res_path))
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        failed = res["failed"]
        results = os.path.join(work, "results")
        if os.path.exists(os.path.join(results, "oracle_sql.json")):
            for q, ok, detail in oracle_check(root, os.path.join(work, "sf"), results):
                checks.append((f"oracle {q}", ok, detail))
                failed += 0 if ok else 1
        reports = os.path.join(root, BUILD_DIR, "reports")
        os.makedirs(reports, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copy(log_path, os.path.join(reports, f"{tag}.jvm.log"))
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(reports, f"{tag}.spans.jsonl"))
        with open(os.path.join(reports, f"{tag}.json"), "w") as fh:
            json.dump({"named": res["named"], "checks": checks, "extra": res["extra"]}, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, m in res["named"].items():
        print(f"{a.workload} {name} = {m['value']} {m['unit']}")
    print(f"{a.workload} trace.listener_ms = {res['extra'].get('tracer_ms', 0.0)} ms")
    for name, ok, detail in checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}" + (f": {detail}" if detail else ""))
    names = PER_LAYER if a.trace else END_TO_END
    metrics = {n: res["contract"][n] for n in names if n in res["contract"]}
    missing = [n for n in names if n not in metrics]
    correct = failed == 0 and not missing and all(ok for _, ok, _ in checks)
    if missing:
        print(f"missing metrics: {missing}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
