#!/usr/bin/env python3
"""Run one workload of the graft engine benchmark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 4 --trace 0

Run from the root of a source checkout. The script compiles the engine
(`src/main/scala`) together with the benchmark driver (`perfbench/src`)
into `$CARGO_TARGET_DIR` (default `.bench_build`), reusing the classes while
the sources are unchanged, then runs the workload in one JVM at
`local[<cores>]`. Spark comes from `$SPARK_HOME` (or the `spark-submit` on
PATH); nothing is downloaded.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the `end_to_end` metrics of BENCHMARK.json, with `--trace 1`
its `per_layer` metrics. Lines above it give the workload's named metrics
(see perfbench/README.md). The exit code is 0 only when every correctness
check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "queries")
RESULT_TAG = "PERFBENCH_RESULT "
# A run must end well inside 180 s; the JVM is killed past this.
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, root)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile engine + driver with the Scala compiler Spark ships; cached
    by a hash of every source file."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    args = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
            "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, jars, work, argv):
    # a fixed, pre-touched heap, so that no run pays for heap growth at a
    # different moment; memory is measured as heap occupancy, not RSS
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}",
            "graft.perfbench.PerfBench"] + argv
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = None
    deadline = time.time() + JVM_TIMEOUT_S

    def on_alarm(*_):
        os.killpg(proc.pid, signal.SIGKILL)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(JVM_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_TAG):
                result = json.loads(line[len(RESULT_TAG):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if time.time() > deadline:
        fail(f"workload exceeded {JVM_TIMEOUT_S}s")
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    return result


def check_queries(out_dir):
    """Compare every query output the JVM wrote against its DuckDB oracle
    SQL over the same generated tables. Returns (checked, failures)."""
    import duckdb
    con = duckdb.connect()
    tables = os.path.join(out_dir, "tables")
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(tables, t)}/*.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    outputs = os.path.join(out_dir, "outputs")
    checked, failures = 0, []
    for name in sorted(os.listdir(outputs)):
        checked += 1
        got = con.sql(f"SELECT * FROM '{os.path.join(outputs, name)}/*.parquet'")
        want = con.sql(oracles[name])
        if sorted(got.columns) != sorted(want.columns):
            failures.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
            continue
        cols = sorted(got.columns)

        def rows(rel):
            return sorted(tuple(str(v) for v in r)
                          for r in rel.select(*[f'"{c}"' for c in cols]).fetchall())
        g, w = rows(got), rows(want)
        if g != w:
            diff = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b),
                        min(len(g), len(w)))
            failures.append(f"{name}: {len(g)} rows vs oracle {len(w)}, first "
                            f"difference at sorted row {diff}")
    return checked, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: seconds-long inputs for the self-tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one stored row before the checks (self-test "
                         "of the correctness gate)")
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the checkout root (BENCHMARK.json not found)")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    jars = spark_jars()
    build_dir = os.path.join(
        os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
        "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)

    work = os.path.join(build_dir, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        argv = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores()), "--scale", a.scale,
                "--work", work, "--trace-dir", os.path.join(build_dir, "traces")]
        if a.corrupt:
            argv.append("--corrupt")
        res = run_jvm(classes, jars, work, argv)
        failed = res["failed"]
        checks = res["checks"]
        if a.workload == "queries":
            n, failures = check_queries(os.path.join(work, "queries"))
            for msg in failures:
                print(f"[perfbench] check failed: duckdb oracle {msg}")
            checks.append({"name": f"duckdb oracle ({n} queries)",
                           "ok": not failures})
            failed += len(failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = all(c["ok"] for c in checks)
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"workload {a.workload} did not report {m['name']} in {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
