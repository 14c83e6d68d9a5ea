"""Build file of the benchmark package: compiles graft's main sources and
the benchmark harness with the Scala compiler that ships in the Spark
distribution, so no build tool or network is needed.

    python3 lakebench/build.py        # from the repository root

Output goes to `lakebench/.build/` and is reused while the sources are
unchanged (a content hash of every input file is stamped next to it).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def _has_compiler(home):
    return bool(glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")))


def spark_jars():
    """`<spark home>/jars/*`: SPARK_HOME, else the first Spark
    distribution whose `bin/spark-submit` is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    home = next((h for h in homes if h and _has_compiler(h)), None)
    if home is None:
        raise SystemExit("no Spark distribution with a Scala compiler; set SPARK_HOME")
    return os.path.join(home, "jars", "*")


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "scala/*.scala")))
    res = os.path.join(root, "src/main/resources")
    return main, bench, res


def _stamp(files, res):
    h = hashlib.sha256()
    extra = sorted(glob.glob(os.path.join(res, "**/*"), recursive=True))
    for f in files + [f for f in extra if os.path.isfile(f)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(cp, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", cp, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed ({r.returncode})")


def build(root):
    """Compile if needed; return the runtime classpath."""
    main, bench, res = _sources(root)
    if not main:
        raise SystemExit(f"no graft sources under {root}/src/main/scala")
    graft_out = os.path.join(BUILD_DIR, "graft")
    bench_out = os.path.join(BUILD_DIR, "bench")
    cp = os.pathsep.join([bench_out, graft_out, spark_jars()])
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    stamp = _stamp(main + bench, res)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    _scalac(spark_jars(), graft_out, main)
    if os.path.isdir(res):
        shutil.copytree(res, graft_out, dirs_exist_ok=True)
    _scalac(os.pathsep.join([graft_out, spark_jars()]), bench_out, bench)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build(os.getcwd()))
