#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-fingerprints

A run builds the program and the harness from source if needed (see
build.py), starts one JVM for the workload, and prints one JSON object as the
last line of standard output: `correct`, `attempted`, `failed` and
`metrics`, the metrics being the `end_to_end` entries of BENCHMARK.json with
`--trace 0` and the `per_layer` entries with `--trace 1`. It exits 0 only
when every correctness check passed.

The sf0.1 and sf0.01 fixture tables are read from the directory TESTDATA.md
names, or from PERFBENCH_FIXTURES; SPARK_JARS as in build.py.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("archive_jdbc", "archive_time", "query_suite")
# per-layer metric groups a workload does not exercise report 0
ARCHIVE_ONLY = ("verify.", "source.", "plan.", "sink.", "dml.", "archive.",
                "spark.jobs_per_batch")
SUITE_ONLY = ("ops.",)
# the JVM gets this long; the run as a whole must end within 180 s
JVM_SECONDS = 170
DRIVER_HEAP = "4g"
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def fixtures():
    d = os.environ.get("PERFBENCH_FIXTURES")
    if d is None:
        try:
            with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
                m = re.search(r"`([^`]+?)/sf0\.1/?`", fh.read())
        except OSError:
            m = None
        if not m:
            fail("no fixture directory in TESTDATA.md; set PERFBENCH_FIXTURES")
        d = m.group(1)
    for sf in ("sf0.1", "sf0.01"):
        if not os.path.isdir(os.path.join(d, sf)):
            fail(f"fixture directory {d}/{sf} not found (set PERFBENCH_FIXTURES)")
    return d


def spec():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


def java_cmd(classpath, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in JVM_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens + [
        f"-Xmx{DRIVER_HEAP}",
        "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, main] + args)


def run_jvm(cmd, timeout, stdout=sys.stderr):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"JVM exceeded {timeout:.0f} s and was killed", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def prepare():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    import build
    return build.build()


def workdir(name):
    work = os.path.join(ROOT, ".bench_build", "work-" + name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def result_line(res, bench, workload, trace):
    """The metrics named in BENCHMARK.json, each with its unit."""
    entries = bench["per_layer" if trace else "end_to_end"]
    other = SUITE_ONLY if workload != "query_suite" else ARCHIVE_ONLY
    got = res["metrics"]
    metrics = {}
    for m in entries:
        name = m["name"]
        if name in got:
            value = got[name]
        elif trace and name.startswith(other):
            value = 0.0
        else:
            fail(f"workload {workload} did not report metric {name}", 1)
        metrics[name] = {"value": value, "unit": m["unit"]}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def measure(args):
    bench = spec()
    fx = fixtures()
    cp = prepare()
    work = workdir(args.workload)
    out = os.path.join(work, "result.json")
    cmd = java_cmd(cp, work, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--fixtures", fx, "--work", work, "--out", out,
        "--queries", os.path.join(HERE, "queries.txt")])
    rc = run_jvm(cmd, JVM_SECONDS)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with code {rc}", rc or 1)
    with open(out) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    for e in res["errors"]:
        print(f"perfbench: correctness: {e}", file=sys.stderr)
    line = result_line(res, bench, args.workload, args.trace == 1)
    print("host: " + json.dumps(res["host"]))
    for k, v in line["metrics"].items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] and line["failed"] == 0 else 1


def selftest():
    fx = fixtures()
    cp = prepare()
    work = workdir("selftest")
    rc = run_jvm(java_cmd(cp, work, "perfbench.SelfTest", [
        "--fixtures", fx, "--work", work,
        "--queries", os.path.join(HERE, "queries.txt")]), JVM_SECONDS,
        stdout=sys.stdout)
    shutil.rmtree(work, ignore_errors=True)
    print("selftest: " + ("passed" if rc == 0 else f"FAILED (code {rc})"))
    return rc


def record_fingerprints():
    """Record each listed query's output twice, in two processes with
    different query orders; a hash that differs between them is recorded as
    `-` (row count only)."""
    fx = fixtures()
    cp = prepare()
    runs = []
    for seed in (1, 2):
        work = workdir("record")
        out = os.path.join(work, "queries.txt")
        rc = run_jvm(java_cmd(cp, work, "perfbench.Main", [
            "--workload", "query_suite", "--seed", str(seed), "--seconds", "0",
            "--trace", "0", "--fixtures", fx, "--work", work, "--out", out,
            "--queries", os.path.join(HERE, "queries.txt"), "--record", out]), 600)
        if rc != 0:
            fail(f"recording JVM exited with code {rc}", rc)
        with open(out) as fh:
            runs.append([l.split() for l in fh if l.strip()])
        shutil.rmtree(work, ignore_errors=True)
    lines = []
    for (fam, name, rows, h), (_, _, rows2, h2) in zip(*runs):
        if rows != rows2:
            fail(f"{name}: row count differs between runs ({rows} vs {rows2})", 1)
        lines.append(f"{fam} {name} {rows} {h if h == h2 else '-'}")
    with open(os.path.join(HERE, "queries.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if args.record_fingerprints:
        return record_fingerprints()
    if None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    return measure(args)


if __name__ == "__main__":
    sys.exit(main())
