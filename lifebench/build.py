"""Build file of the lifecycle benchmark.

Compiles the program (``src/main/scala`` of the repository) and then the
benchmark package (``lifebench/src``) against it with the Scala compiler
that ships in Spark's ``jars`` directory, so no build tool or network is
needed. Output goes to ``lifebench/.build``; a content stamp skips the
compile when no source changed.

    python3 lifebench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler*.jar")):
        raise BuildError("no Spark jars with a Scala compiler: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable: set JAVA_HOME")
    return exe


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-cp", classpath] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-3000:])


def build():
    """Compile when needed; return the runtime classpath."""
    program = sources(PROGRAM_SRC)
    bench = sources(BENCH_SRC)
    if not program:
        raise BuildError("program sources not found under " + PROGRAM_SRC)
    jars = spark_jars()
    resources = sorted(glob.glob(os.path.join(PROGRAM_RES, "**", "*"),
                                 recursive=True))
    want = stamp(program + bench + [r for r in resources if os.path.isfile(r)])
    stamp_file = os.path.join(OUT, "stamp")
    prog_dir = os.path.join(OUT, "program")
    bench_dir = os.path.join(OUT, "bench")
    spark_cp = os.path.join(jars, "*")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        shutil.rmtree(OUT, ignore_errors=True)
        scalac(jars, spark_cp, prog_dir, program)
        scalac(jars, prog_dir + os.pathsep + spark_cp, bench_dir, bench)
        with open(stamp_file, "w") as f:
            f.write(want)
    return os.pathsep.join([bench_dir, prog_dir, PROGRAM_RES, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
