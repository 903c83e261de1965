#!/usr/bin/env python3
"""Benchmark of the graft engine: sensor pipeline and query-mix workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first call compiles the engine (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler shipped in Spark's jars, into
.bench_build/perfbench. Each run gets a fresh scratch root there, used for
java.io.tmpdir, the SQL warehouse, Spark's local dir, checkpoints and
exports, and deleted afterwards.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it carries the workload's own named metrics
(rows_per_s, qps, failed_ratio, ...) and, for traced runs, the path of the
trace artifact.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 175          # one run, not counting the build
BUILD_LIMIT_S = 800
ORACLE_TIMEOUT_S = 20
SHM = "/dev/shm"

JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.level=error",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java on PATH")
    return found


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return os.path.realpath(c)
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from the root of a checkout")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(jars):
    """Compile engine + benchmark once per source fingerprint."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, ".stamp")
        if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        t0 = time.time()
        cp = os.path.join(jars, "*")
        cmd = [java_bin(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
        r = run_child(cmd, BUILD_LIMIT_S)
        if r != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"compilation failed (exit {r})")
        with open(os.path.join(tmp, ".stamp"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        print(f"[perfbench] compiled in {time.time() - t0:.1f}s", file=sys.stderr)
        return classes


_child = None


def run_child(cmd, limit_s):
    """Run a child in its own process group, stdout/stderr to our stderr;
    kill the whole group on timeout or when we are terminated."""
    global _child
    _child = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return _child.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] timed out after {limit_s}s", file=sys.stderr)
        return -1
    finally:
        kill_child()


def kill_child():
    global _child
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    _child = None


def shm_entries():
    try:
        return {n for n in os.listdir(SHM) if n.startswith("graft_")}
    except OSError:
        return set()


def remove_new_shm(before):
    """The engine stages streaming inputs and checkpoints on tmpfs when one
    exists; remove what this run left there."""
    for n in shm_entries() - before:
        p = os.path.join(SHM, n)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass


def oracle_rows(entries, deadline):
    """Row count of each oracle SQL in DuckDB over the same tables; None
    for the oracles the run's time limit leaves no room for."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    out = []
    for e in entries:
        budget = min(ORACLE_TIMEOUT_S, deadline - time.time())
        if budget < 1:
            out.append((e["name"], e["rows"], None))
            continue
        timer = threading.Timer(budget, con.interrupt)
        timer.start()
        try:
            n = con.execute(f"SELECT count(*) FROM ({e['sql']}) AS oracle").fetchone()[0]
        except Exception as ex:  # a broken oracle is reported, not fatal
            n = f"error: {str(ex).splitlines()[0][:200]}"
        finally:
            timer.cancel()
        out.append((e["name"], e["rows"], n))
    return out


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    started = time.time()
    cp = classes + os.pathsep + os.path.join(jars, "*")
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    root = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    result_file = os.path.join(root, "result.json")
    shm_before = shm_entries()
    jvm = [java_bin()] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}", "-cp", cp]
    if a.selftest:
        cmd = jvm + ["perfbench.SelfTest", "--root", root]
    else:
        cmd = jvm + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--root", root, "--data", DATA, "--out", result_file]

    def on_signal(signum, _frame):
        kill_child()
        remove_new_shm(shm_before)
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    try:
        code = run_child(cmd, 600 if a.selftest else RUN_LIMIT_S - 15)
        if a.selftest:
            sys.exit(0 if code == 0 else 1)
        if code != 0 or not os.path.isfile(result_file):
            fail(f"benchmark JVM failed (exit {code})")
        with open(result_file) as fh:
            r = json.load(fh)
    finally:
        remove_new_shm(shm_before)
        shutil.rmtree(root, ignore_errors=True)

    failures = list(r["failures"])
    detail = dict(r["detail"])
    if a.trace and r["oracle"]:
        try:
            checked = oracle_rows(r["oracle"], started + RUN_LIMIT_S - 5)
        except ImportError:
            detail["oracle_check"] = "skipped: duckdb is not installed"
        else:
            done = [c for c in checked if c[2] is not None]
            bad = [c for c in done if c[1] != c[2]]
            failures += [f"{n}: spark {s} rows, oracle {o}" for n, s, o in bad]
            detail["oracle_checked"] = len(done)
            detail["oracle_unchecked"] = len(checked) - len(done)
            detail["oracle_mismatches"] = len(bad)
    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        artifact = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
        with open(artifact, "w") as fh:
            json.dump(r["artifact"], fh, indent=1, sort_keys=True)
        detail["artifact"] = os.path.relpath(artifact, ROOT)

    metrics = r["metrics"]
    want = expected_metrics(bool(a.trace))
    if want is not None and set(metrics) != want:
        fail(f"metric set differs from BENCHMARK.json: {sorted(set(metrics) ^ want)}")
    correct = bool(r["correct"]) and not failures
    for f in failures:
        print(f"[perfbench] check failed: {f}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": detail,
                      "failures": failures}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}, sort_keys=True))


if __name__ == "__main__":
    main()
