"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) into one class directory, with the Scala
compiler that ships among Spark's jars. The result is stamped with a digest
of every source, so an unchanged tree is not compiled again.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: neither SPARK_HOME nor spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars under {home}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def scala_files() -> list:
    files = []
    for base in SOURCES:
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build() -> str:
    """Compile if the sources changed; return the runtime classpath."""
    if not os.path.isdir(SOURCES[0]):
        raise SystemExit(f"build: program sources missing ({SOURCES[0]})")
    jars = spark_jars()
    files = scala_files()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.stamp")
    want = digest(files)
    have = open(stamp).read() if os.path.exists(stamp) else ""
    if have != want or not os.path.isdir(classes):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(OUT, "scalac.args")
        with open(args, "w") as f:
            f.write("\n".join(files))
        cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("build: compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp, "w") as f:
            f.write(want)
    return os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
