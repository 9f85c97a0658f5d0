"""Build of the benchmark: graft's main sources and the benchmark's own
sources compiled together with the Scala compiler that ships in Spark's
jars directory. Outputs go under perfbench/out/build/<source hash>/, so
an unchanged tree is compiled once.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# spark-submit passes, as in the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def sources():
    found = []
    for top in (GRAFT_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: source directory {top} is missing")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles if needed; returns the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    target = os.path.join(OUT, "build", h.hexdigest()[:16])
    classes = os.path.join(target, "classes")
    if os.path.isdir(classes):
        return classes
    staging = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.join(staging, "classes"))
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", os.path.join(staging, "classes"), "-classpath", cp,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    os.makedirs(os.path.dirname(target), exist_ok=True)
    try:
        os.rename(staging, target)
    except OSError:  # built meanwhile by another run
        shutil.rmtree(staging, ignore_errors=True)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


HEAP = "3g"


def java_command(classes, main, args):
    """The JVM command line for one of the benchmark's mains; temporary
    and Spark scratch files stay under perfbench/out/tmp."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", "-Xss8m"] + opens + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
        main] + list(args))


if __name__ == "__main__":
    print(build())
