"""Build file of the benchmark: compiles the program (src/main/scala) and
the runner (perfbench/src) into one class directory with the Scala
compiler that ships in the Spark distribution, so no build tool or network
is needed.

    python3 perfbench/build.py        # prints the class directory

The output goes to .bench_build/perfbench/classes-<hash of the sources>;
an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
COMPILER_JARS = ("scala-compiler-", "scala-library-", "scala-reflect-")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution named by SPARK_HOME, or by the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Returns (class directory, Spark jars), compiling if the sources
    changed since the last build."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + [os.path.basename(j) for j in jars]:
        h.update(path.encode())
        if os.path.isfile(path):
            with open(path, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, jars
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(COMPILER_JARS)]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", out, "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if done.returncode != 0:
        shutil.rmtree(out)
        raise BuildError("compilation failed:\n" + done.stdout[-4000:])
    open(os.path.join(out, ".done"), "w").close()
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
