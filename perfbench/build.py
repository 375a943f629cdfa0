#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala of the checkout) together with the
benchmark harness (perfbench/src) into .bench_build/graftbench.jar, using the
Scala compiler that ships in the Spark distribution's jar directory. No sbt,
no dependency resolution, nothing written outside the checkout. A content
hash of every source file is kept beside the jar, so an unchanged tree is not
rebuilt.

    python3 perfbench/build.py            # from the checkout root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Directory of the Spark jars: SPARK_HOME/jars, else the jars of the
    first Spark distribution with a spark-submit on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(j.startswith("scala-compiler") for j in os.listdir(jars)):
            return jars
    raise SystemExit(f"build: no Scala compiler jar under the jars of {homes or 'SPARK_HOME'}")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if any source changed; return (jar, build stamp)."""
    root = os.path.abspath(root)
    bb = os.path.join(root, ".bench_build")
    jar = os.path.join(bb, "graftbench.jar")
    stamp_file = jar + ".stamp"
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isfile(jar) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return jar, stamp
    classes = os.path.join(bb, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(bb, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={bb}",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + args_file]
    print(f"# build: compiling {len(srcs)} sources", flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    # a jar, not a directory, on the class path: the JVM's class-data
    # archive (see run.py) only covers classes loaded from jars
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, stamp


if __name__ == "__main__":
    print(build(os.getcwd())[0])
