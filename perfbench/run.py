#!/usr/bin/env python3
"""Run one benchmark workload of the graft sync engine and print its metrics.

    python3 perfbench/run.py --workload sync-parquet --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler shipped in Spark's jars directory (`$SPARK_HOME/jars`), into `.bench_build/` (or
`$CARGO_TARGET_DIR`); later runs reuse the build while the sources are
unchanged. Every file a run writes lives under that directory.

Prints one `name value unit` line per metric, then, as the last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones. Exits 1 when an output check fails, 2 on any other
error.

    python3 perfbench/run.py --selftest     # the generator and check tests
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchstats  # noqa: E402

WORKLOADS = ("sync-parquet", "sync-lineitem", "sync-jdbc")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def spark_home():
    """$SPARK_HOME, or the installation `spark-submit` on PATH belongs to."""
    submit = shutil.which("spark-submit")
    fallback = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    return os.environ.get("SPARK_HOME") or fallback


SPARK_JARS = os.path.join(spark_home(), "jars")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_HEAP = "2g"
JVM_YOUNG = "640m"


class BenchError(Exception):
    pass


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jars():
    if not os.path.isdir(SPARK_JARS):
        raise BenchError("Spark jars not found at " + SPARK_JARS)
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def scalac(srcs, out, classpath, log):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(jars()), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BenchError("compilation failed, see " + log)


def build(build_dir):
    """Compile the program and the benchmark once per source state."""
    program = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        raise BenchError("no program sources under src/main/scala; run from the repository root")
    bench = sources(os.path.join(HERE, "src"))
    h = hashlib.sha256()
    for p in program + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars():
        h.update(os.path.basename(j).encode())
    done = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(done):
        return done
    tmp = done + ".tmp%d" % os.getpid()
    log = os.path.join(build_dir, "build.log")
    started = time.time()
    cp = ":".join(jars())
    scalac(program, os.path.join(tmp, "main"), cp, log)
    scalac(bench, os.path.join(tmp, "bench"), cp + ":" + os.path.join(tmp, "main"), log)
    os.rename(tmp, done)
    print("built in %.1f s" % (time.time() - started), file=sys.stderr)
    return done


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def run_jvm(classes, workload, seed, seconds, trace, work):
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cp = ":".join([os.path.join(classes, "bench"), os.path.join(classes, "main")] + jars())
    flags = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]
    flags += [
        # a fixed heap and young generation keep GC work and resident
        # memory alike from run to run
        "-XX:+UseParallelGC", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-Xmn" + JVM_YOUNG,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    cmd = ["java"] + flags + ["-cp", cp, "graftbench.Main", "--workload", workload,
                              "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", str(trace), "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_ticks()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=seconds + 150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    steal1, total1 = cpu_ticks()
    # time the hypervisor gave this machine's CPUs to other guests; a high
    # share explains slow runs that no change to the program caused
    print("host steal share: %.4f" % ((steal1 - steal0) / max(1, total1 - total0)))
    result = None
    if os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    if result is None or rc not in (0, 1):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise BenchError("benchmark JVM ended with %s and no result" % rc)
    return result


def report(result, trace):
    attempted = len(result["ops"])
    failed = benchstats.failed_ops(result)
    for t, f in sorted(result["tables"].items()):
        print("table %-9s source %d rows %d bytes, destination %d rows %d bytes, delta %d rows"
              % (t, f["sourceRows"], f["sourceBytes"], f["destRows"], f["destBytes"], f["deltaRows"]))
    print("set-up %.2f s: staging %.2f s, warm-up cycles %s s"
          % (result["setup_s"], result["staging_s"], json.dumps([round(w, 2) for w in result["warmup_s"]])))
    walls = benchstats.cycle_walls(result)
    pct, value, above = benchstats.tail(walls)
    if above >= 10:
        print("cycle_s.tail p%d = %.4f s, %d of %d cycles above it" % (pct, value, above, len(walls)))
    else:
        print("cycle_s.tail: no percentile has 10 of the %d cycles above it" % len(walls))
    print("cycle walls: " + json.dumps(walls))
    print("untimed change before each cycle, median %.2f s" % benchstats.median([op["mutate_s"] for op in result["ops"]]))
    if trace:
        layer = benchstats.per_layer(result)
        metrics = {k: (layer.get(k, 0.0), u) for k, u in benchstats.LAYER_UNITS.items()}
    else:
        metrics = benchstats.end_to_end(result)
    for k, (v, u) in metrics.items():
        print("%-36s %.6g %s" % (k, v, u))
    for op in result["ops"]:
        for e in op["error"]:
            print("error: " + e, file=sys.stderr)
    print(json.dumps({
        "correct": bool(result["correct"]) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return failed == 0 and result["correct"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(build_dir, "work", "%s-%d-%d" % (a.workload or "selftest", a.seed, os.getpid()))
    try:
        classes = build(build_dir)
        result = run_jvm(classes, "selftest" if a.selftest else a.workload,
                         a.seed, a.seconds, a.trace, work)
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, "%s-%d.json" % (a.workload, a.seed))
            with open(path, "w") as f:
                json.dump({"spans": result["spans"], "plans": result["plans"]}, f)
            print("spans written to " + os.path.relpath(path, ROOT), file=sys.stderr)
        if a.selftest:
            for name, ok in sorted(result["cases"].items()):
                print("%s %s" % ("PASS" if ok else "FAIL", name))
            return 0 if result["correct"] else 1
        return 0 if report(result, a.trace) else 1
    except BenchError as e:
        print("error: %s" % e, file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
