"""Compile the program and the benchmark harness into one class directory.

Sources: every .scala file under src/main/scala (the program) and under
perfbench/harness. The compiler is the Scala 2.13 compiler that ships in
Spark's jars directory, so no build tool or network is needed. The output
is keyed by a hash of all sources and compiler jars and is reused while it
matches.

Usage: python3 perfbench/build.py            (from the repository root)
Prints the class directory on success; exits non-zero if sources or the
compiler are missing or compilation fails.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    exe = shutil.which("spark-submit")
    if not exe:
        sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(exe)))


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        sys.exit(f"build: no scala-compiler jar under {home}/jars")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        sys.exit(f"build: no program sources under {main}")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files + harness


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, key)
    if os.path.exists(os.path.join(out, "OK")):
        return out
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = ":".join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    open(os.path.join(out, "OK"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
