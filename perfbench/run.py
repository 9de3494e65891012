#!/usr/bin/env python3
"""Benchmark of the extraction engine: one run of one workload.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 12 --trace 0

Run it from the root of the repository. The first run compiles the engine
and the benchmark together with sbt (perfbench/build.sbt); later runs reuse
the build until a source file changes. One JVM runs Spark at local[nproc].

The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace is 0 and the per-layer metrics when
it is 1. The lines before it name every metric with its unit, and the full
run record (nproc, spark.master, versions, seed, corpus per payload kind,
per-query and per-table detail) is kept under .bench_build/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("extract", "catalog")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    or interrupt, and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """SPARK_HOME, or the install whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found; set SPARK_HOME")
    return home


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles with sbt unless the classes match the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources at src/main/scala; run from the repository root")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    # offline: every dependency must already be in the local caches
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       timeout=800, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (log: {log})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_cmd(work, main_args):
    # a fixed heap size: G1 would otherwise shrink the heap after each
    # forced GC and pay to grow it again in the next iteration
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Dfile.encoding=UTF-8",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main"]
            + main_args)


def run_jvm(work, main_args, timeout=RUN_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        rc = run_group(java_cmd(work, main_args), timeout=timeout, cwd=ROOT,
                       stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-6000:])
        die(f"benchmark JVM exited with {rc} (log: {log})")
    return log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    build()

    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(work, "result.json")
    run_jvm(work, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--work", work, "--result", result])
    res = json.load(open(result))

    stamp = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    records = os.path.join(OUT, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, stamp + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(records, stamp + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    rec = res["record"]
    print(f"workload {a.workload} seed {a.seed} nproc {rec['nproc']} master {rec['spark_master']} "
          f"spark {rec['spark_version']} java {rec['java_version']} scala {rec['scala_version']}")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    frac = res["failed"] / res["attempted"]
    print(f"fail_frac = {frac:.6g} ({res['failed']} of {res['attempted']} operations failed)")
    print(f"record: {os.path.relpath(os.path.join(records, stamp + '.json'), ROOT)}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
