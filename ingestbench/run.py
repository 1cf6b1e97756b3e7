#!/usr/bin/env python3
"""Benchmark of the Kafka -> Confluent-Avro -> Parquet pipeline and of a
catalog mix read beside it. See README.md in this directory.

    python3 ingestbench/run.py --workload ingest_3x500 --seed 1 --seconds 20 --trace 0
    python3 ingestbench/run.py --check-generator

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the benchmark (ingestbench/src) with the Scala compiler
that ships in Spark's jars into .bench_build/; later runs reuse that build
while the sources are unchanged. Each run starts one JVM with a fixed heap,
writes its artifacts (result, spans, steal share) to .bench_out/ and deletes
its work dir. The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("ingest_3x500", "catalog_mix")
HEAP = "3g"
# JVM module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"ingestbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jar dir: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, srcs, dest, log):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={dest}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", dest, "@" + argfile]
    with open(log, "a") as out:
        if subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode:
            fail(f"compile failed, see {log}")


def build(jars):
    """Compiles program and benchmark once per source content."""
    prog = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"))
    if not prog:
        fail("no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    base = os.path.join(ROOT, ".bench_build", h.hexdigest()[:16])
    done = os.path.join(base, "done")
    if os.path.exists(done):
        return base, False
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    log = os.path.join(base, "compile.log")
    jar_cp = os.path.join(jars, "*")
    scalac(jars, jar_cp, prog, os.path.join(base, "program"), log)
    scalac(jars, os.path.join(base, "program") + os.pathsep + jar_cp, bench,
           os.path.join(base, "bench"), log)
    open(done, "w").close()
    return base, True


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def cpu_probe():
    """Seconds a fixed pure-Python loop takes: the host's single-core speed,
    which can halve without any steal time showing."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i
    return time.perf_counter() - t


def run_jvm(base, jars, args, work, out, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join([os.path.join(base, "bench"),
                          os.path.join(base, "program"), os.path.join(jars, "*")])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xlog:gc:file=" + os.path.join(out, "gc.log")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "ingestbench.Main"] + args)
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log) as lf:
            tail = lf.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM {'timed out' if code is None else 'exited ' + str(code)}")
    return log


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-generator", action="store_true")
    a = ap.parse_args()
    if not a.check_generator and not a.workload:
        fail("--workload is required")

    jars = spark_jars()
    base, built = build(jars)
    limit = (900 if built else 180) - 10
    tag = "check-generator" if a.check_generator else \
        f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out", tag)
    shutil.rmtree(out, ignore_errors=True)
    try:
        if a.check_generator:
            log = run_jvm(base, jars, ["--check-generator", work], work, out,
                          limit - (time.time() - start))
            print(open(log).read().strip().splitlines()[-1])
            return
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        probe0 = cpu_probe()
        steal0, total0 = cpu_times()
        run_jvm(base, jars, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--work", work, "--out", out],
                work, out, limit - (time.time() - start))
        steal1, total1 = cpu_times()
        probe1 = cpu_probe()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    extras = res.pop("extras")
    extras["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    extras["cpu_probe_s"] = [probe0, probe1]
    values = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and not a.trace:
        fail(f"result lacks {missing}")
    if not a.trace:
        empty = [m["name"] for m in wanted if values[m["name"]] is None]
        if empty:
            fail(f"no op succeeded, so {empty} have no value "
                 f"({res['failed']} of {res['attempted']} ops failed)")
    # A layer the workload bypasses, or a median over no ops (null), is 0.
    res["metrics"] = {m["name"]: {"value": values.get(m["name"]) or 0.0, "unit": m["unit"]}
                      for m in wanted}
    extras["unlisted_metrics"] = {k: v for k, v in values.items()
                                  if k not in res["metrics"]}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({"result": res, "extras": extras}, f, indent=1)
    print(f"# {a.workload} seed={a.seed} trace={a.trace}: "
          f"latency_tail_ms is p{extras['tail_percentile']:g} of "
          f"{extras['samples']} ops; steal {extras['steal_share']:.4f}; "
          f"cpu probe {probe0:.3f}/{probe1:.3f} s"
          + (f"; tracing overhead {extras['tracing_overhead']:.4f} "
             f"({extras['traced_ops_per_s']:.3f} vs "
             f"{extras['untraced_ops_per_s']:.3f} ops/s)" if a.trace else ""))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
