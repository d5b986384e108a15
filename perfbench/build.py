"""Build file of the benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's JVM side (`perfbench/scala`) with the Scala compiler that ships
in Spark's jar directory, the same jars the repository's own build uses.
Classes go to `.bench_build/perfbench/classes`; a stamp of the source digest
skips the compile when nothing changed.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
OUT = os.path.join(".bench_build", "perfbench")
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]


def spark_jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def scala_files():
    files = []
    for root in SOURCES:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_digest():
    """Content digest of every compiled source: the run's program identity."""
    h = hashlib.sha256()
    for f in scala_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    return os.pathsep.join([os.path.abspath(os.path.join(OUT, "classes"))] + spark_jars())


def ensure():
    """Compile if the sources changed since the last build; return the
    runtime classpath. Raises if the program's sources are absent."""
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        raise FileNotFoundError("program sources src/main/scala/graft not found; "
                                "run from the repository root")
    jars = spark_jars()
    compiler = [j for j in jars if re_name(j, "scala-compiler") or re_name(j, "scala-library")
                or re_name(j, "scala-reflect")]
    if len(compiler) != 3:
        raise FileNotFoundError(f"Scala compiler jars not found in {SPARK_JARS}")
    digest = source_digest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath()
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", classes] + scala_files()
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath()


def re_name(path, artifact):
    return os.path.basename(path).startswith(artifact + "-2.13")


if __name__ == "__main__":
    ensure()
