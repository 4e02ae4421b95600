"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/bench-<digest>.jar, using
the Scala compiler and the Spark jars of the Spark distribution (SPARK_HOME,
default /opt/spark). The digest of the sources names the jar, so the compile
is skipped when nothing changed. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {d}")
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root):
    """Returns the benchmark jar, compiling first if sources changed. The
    jar is named by the digest of the sources, so a build is reused exactly
    while they are unchanged."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    jar = os.path.join(root, BUILD_DIR, f"bench-{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    out = os.path.join(root, BUILD_DIR, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {res.returncode}")
    # a jar, not a directory: class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for dirpath, _, names in os.walk(out):
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                z.write(path, os.path.relpath(path, out))
    os.replace(jar + ".tmp", jar)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
