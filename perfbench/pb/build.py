"""Build the program and the benchmark's JVM harness from source.

One scalac pass over src/main/scala and perfbench/scala, with the Scala
compiler and Spark jars that ship in the Spark distribution (no sbt, so
the build reads nothing but the checkout and the toolchain, and writes
only into the build directory). A digest of every source file decides
whether an earlier build in the same checkout can be reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess


# Spark on JDK 17 outside spark-submit needs these (the list in
# build.sbt). Without sun.util.calendar the memory sink fails to decode
# rows (EXPRESSION_DECODING_FAILED) under a bare `java -cp` launch.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_classpath():
    """Jars of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 distribution")
    return os.path.join(home, "jars", "*")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return files


def source_digest(root):
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compile if the sources changed; return (classes_dir, digest)."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("perfbench: no src/main/scala here; run from the "
                         "root of a checkout of the program")
    digest = source_digest(root)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", spark_classpath(),
           "-d", classes, *sources(root)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise SystemExit("perfbench: build failed\n" + proc.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest
