"""Build file of the benchmark: compiles the tree under test, then the harness.

    python3 perfbench/build.py [checkout-root]

Both steps call the Scala compiler that ships with Spark
(`$SPARK_HOME/jars/scala-compiler-*.jar`) directly, so `build.sbt` is not
touched and no dependency is resolved: `src/main/scala` compiles against the
Spark jars into `.bench_build/classes`, then `perfbench/src` compiles against
those classes into `.bench_build/bench-classes`. A stamp of every source's
path and content skips the build when nothing changed, so the classes always
belong to the checkout under test.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main, bench


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(out, classpath, files, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed ({r.returncode}); see {log.name}")


def build(root):
    """Returns the harness classpath, compiling first when sources changed."""
    main, bench = sources(root)
    if not main:
        raise RuntimeError(f"no Scala sources under {root}/src/main/scala")
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    bench_classes = os.path.join(out, "bench-classes")
    cp = os.pathsep.join([bench_classes, classes, spark_jars()])
    want = stamp(root, main + bench)
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", classes, bench_classes], check=True)
    with open(os.path.join(out, "build.log"), "w") as log:
        scalac(classes, spark_jars(), main, log)
        scalac(bench_classes, os.pathsep.join([classes, spark_jars()]), bench, log)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
