#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source on first use (sbt, into perfbench/target), runs the workload in a
fresh JVM at local[nproc], checks its outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the workload runs twice, untraced
and traced, and the metrics are the per-layer ones plus the tracing
overhead. `--workload profile [--tables DIR]` profiles every judged query
instead. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ["ingest", "query_cold", "stream_state"]
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# A run (after the one-time build) must end well inside three minutes.
RUN_BUDGET_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs the module openings
# spark-submit would add (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]



def declared_metrics(kind):
    """(name, unit) of the metrics BENCHMARK.json declares; `kind` is
    "end_to_end" or "per_layer"."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            yield base
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)


def build():
    """Compiles the engine and harness unless the classes are newer than
    every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no engine sources (src/main/scala/graft) in this checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("perfbench: SPARK_HOME must point at a Spark install with jars/")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest:
        return
    log("building engine + harness with sbt")
    t0 = time.time()
    # Offline: every dependency (sbt, Scala, Spark) ships with the toolchain.
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                        "compile"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(str(newest))
    log(f"built in {time.time() - t0:.0f}s")


_children = []


def _stop_children(signum, _frame):
    for p in _children:
        try:
            os.killpg(p.pid, signal.SIGKILL)
            os.waitpid(p.pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    sys.exit(128 + signum)


def run_jvm(workload, seed, seconds, trace, work, deadline, tables=None):
    """Runs one workload JVM; returns its result record with peak RSS."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    # A fixed heap keeps G1's resizing decisions out of the peak-RSS
    # figure, which then tracks native and off-heap memory on top of it.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", work] + ([tables] if tables else [])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        _children.append(p)
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                pid, status, usage = os.wait4(p.pid, 0)
                break
            time.sleep(0.05)
        _children.remove(p)
        p.returncode = os.waitstatus_to_exitcode(status)
    result_path = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.exit(f"perfbench: {workload} JVM exited with {p.returncode}\n{tail}")
    with open(result_path) as f:
        res = json.load(f)
    res["peak_rss_kb"] = usage.ru_maxrss
    log(f"{workload} JVM {time.time() - t0:.1f}s")
    return res


def verify(res, work):
    """Runs the DuckDB oracle over the query results; returns
    (failed operations, correct)."""
    oracle_failed = []
    if res["oracle"]:
        t0 = time.time()
        import oracle
        errors, _ = oracle.check(res["tables"], os.path.join(work, "oracle_sql.json"),
                                 [(o["query"], o["dir"]) for o in res["oracle"]])
        for q, e in sorted(errors.items()):
            log(f"oracle mismatch {q}: {e}")
        oracle_failed = list(errors)
        log(f"oracle checked {len(res['oracle'])} results in {time.time() - t0:.1f}s")
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    return stats.count_failures(res["attempted"], res["failed"], oracle_failed,
                                [c["ok"] for c in res["checks"]])


def write_profile(res, work, path):
    """Joins the JVM's per-query layer split with each query's DuckDB
    oracle time and verdict (statements are cut off after 5 s)."""
    import oracle
    errors, seconds = oracle.check(res["tables"], os.path.join(work, "oracle_sql.json"),
                                   [(o["query"], o["dir"]) for o in res["oracle"]],
                                   timeout_s=5.0)
    with open(os.path.join(work, "profile.tsv")) as f, open(path, "w") as out:
        header, *rows = f.read().splitlines()
        out.write(header + "\toracle_s\toracle_ok\n")
        for row in rows:
            q = row.split("\t")[0]
            out.write(f"{row}\t{seconds.get(q, 0.0):.3f}\t{q in seconds and q not in errors}\n")
    log(f"profile written to {path}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["profile"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tables", help="profile only: existing judged tables to profile "
                    "({name}.parquet per table) instead of the seed's generated ones")
    a = ap.parse_args(argv)
    if a.tables and a.workload != "profile":
        ap.error("--tables applies to --workload profile only")

    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    build()
    deadline = time.time() + (3600 if a.workload == "profile" else RUN_BUDGET_S)
    scratch = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(scratch, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = os.path.abspath(a.tables) if a.tables else None
        res = run_jvm(a.workload, a.seed, a.seconds, False, work, deadline, tables)
        if a.workload == "profile":
            write_profile(res, work, os.path.join(scratch, "profile.tsv"))
            return
        failed, correct = verify(res, work)
        attempted = res["attempted"]
        e2e, detail = stats.end_to_end(res)
        log(f"{a.workload} seed={a.seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in e2e.items()) +
            f", tail=p{detail['tail_percentile']:.1f} of {detail['samples']}"
            f", attempted={attempted}, failed={failed}")
        metrics = {k: e2e[k] for k, _ in declared_metrics("end_to_end")}
        if a.trace:
            traced_work = os.path.join(work, "traced")
            os.makedirs(traced_work)
            traced = run_jvm(a.workload, a.seed, a.seconds, True, traced_work, deadline)
            t_failed, t_correct = verify(traced, traced_work)
            attempted += traced["attempted"]
            failed += t_failed
            correct = correct and t_correct
            layers = traced["layers"]
            # Both JVMs make the output checks after their timed windows,
            # so the windows differ only by the tracing.
            base = e2e["throughput_per_s"]["value"]
            t_e2e, _ = stats.end_to_end(traced)
            layers["trace.overhead_pct"] = (
                100.0 * (base - t_e2e["throughput_per_s"]["value"]) / base if base else 0.0)
            # Layers a workload does not reach read 0.
            metrics = {k: stats.metric(float(layers.get(k, 0.0)), u)
                       for k, u in declared_metrics("per_layer")}
        print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
