#!/usr/bin/env python3
"""Run one workload of the link-graph benchmark from the checkout root.

    python3 perfbench/run.py --workload closeness-topk --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload filegraph-ingest --seed 1 --seconds 12 --trace 1
    python3 perfbench/run.py --workload closeness-topk --seed 1 --smoke

Builds the engine and harness if needed (perfbench/build.py), then starts
one JVM for the workload. The JVM's standard output is passed through; its
last line is the JSON result. The Spark log goes to .bench_build/logs.
Exits non-zero when an output check fails or the run does not finish.
"""
import argparse
import glob
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# the JVM's limit (the build before it is not counted)
RUN_LIMIT_S = 170
HEAP = "3g"
# C1 only: with C2 a rep keeps getting faster for ~100 s (25 s -> 12 s) as
# Spark's query-planning code is recompiled, longer than a run can wait, so
# each run's figure would depend on how far C2 got; with C1 the second rep
# is already at its steady speed. One serial GC thread keeps GC CPU time,
# part of every metric, from varying with thread scheduling.
JIT_GC = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()

    root = os.getcwd()
    jar, stamp = build.build(root)
    bb = os.path.join(root, ".bench_build")
    logs = os.path.join(bb, "logs")
    tmp = os.path.join(bb, "tmp")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")])
    # class-data archive of the loaded classes: written at exit by the first
    # run of a build, mapped by every later run (faster JVM and Spark start)
    cds = os.path.join(bb, f"classes-{stamp[:16]}.jsa")
    if os.path.isfile(cds):
        cds_opt = f"-XX:SharedArchiveFile={cds}"
    else:
        for old in glob.glob(os.path.join(bb, "classes-*.jsa")):
            os.remove(old)
        cds_opt = f"-XX:ArchiveClassesAtExit={cds}"
    opens = [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cmd = ["java", *JIT_GC, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", cds_opt,
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", *opens, "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--root", root]
    if a.smoke:
        cmd.append("--smoke")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"graftbench: {a.workload} did not finish in {RUN_LIMIT_S} s (log: {log_path})",
                  file=sys.stderr)
            return 3
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        print(f"graftbench: {a.workload} exited with {proc.returncode} (log: {log_path})", file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
