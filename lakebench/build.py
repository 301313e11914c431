"""Build file of the lake benchmark: compiles the program (src/main/scala)
together with the benchmark sources (lakebench/src) with the Scala compiler
that ships in Spark's jar directory and packs classes and resources into
.bench_build/lakebench.jar. A stamp over every source file skips both when
nothing changed.

    python3 lakebench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "lakebench.jar")
STAMP = os.path.join(OUT, "stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found: {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])


def pack(jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for top in (CLASSES, PROGRAM_RES):
            for d, _, files in os.walk(top):
                for f in sorted(files):
                    if f != ".stamp":
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, top))


def build(log=sys.stderr):
    """Compile and pack if the sources changed; returns the stamp."""
    files = sources()
    st = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == st:
        return st
    if os.path.exists(STAMP):
        os.remove(STAMP)
    jars = os.path.join(spark_jars(), "*")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"lakebench: compiling {len(files)} sources", file=log)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BuildError("scalac failed")
    if os.path.exists(JAR):
        os.remove(JAR)
    pack(JAR)
    with open(STAMP, "w") as fh:
        fh.write(st)
    return st


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"lakebench build: {e}", file=sys.stderr)
        sys.exit(2)
