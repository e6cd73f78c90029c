"""Builds the library and the benchmark harness with the Scala compiler
that ships in the Spark distribution's jars (the same Scala 2.13 and Spark
jars ``build.sbt`` compiles against), so the benchmark needs neither sbt
nor a dependency cache.

The classes go to ``<build dir>/classes``; a stamp over every source file
skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess

# What spark-submit would add for Spark 4 on JDK 17 (build.sbt's list).
JDK_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# A fixed-size heap and the parallel collector: the heap never resizes and
# collections come at the same allocation points run after run, which
# keeps run times and peak memory steadier than the adaptive default.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss16m"]

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main + own


def build(root, bdir):
    """Compiles when the sources changed; returns the classes directory."""
    srcs = sources(root)
    h = hashlib.sha256(spark_jars().encode())
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, *srcs]
    # scalac puts "." on its class path: compile from the build dir so no
    # source directory is mistaken for a package
    done = subprocess.run(cmd, cwd=bdir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if done.returncode != 0:
        raise SystemExit("compile failed:\n" + done.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes
