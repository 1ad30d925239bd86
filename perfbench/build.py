"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) into one class directory with the
Scala compiler that ships in Spark's jars. A build is skipped when no
source file changed since the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha256")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("no Spark installation: set SPARK_HOME or install pyspark")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    files = []
    for root in SOURCE_ROOTS:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the class directory."""
    if not os.path.isdir(SOURCE_ROOTS[0]):
        sys.exit(f"no program sources under {SOURCE_ROOTS[0]}: run from the repository root")
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        sys.exit(f"build failed with exit code {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
