"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources into one class directory, with the Scala
compiler and Spark jars of the local Spark distribution ($SPARK_HOME/jars,
or the jars next to `spark-submit` on PATH) — the same jars `build.sbt`
compiles against. The repository's sbt build is not used or touched.

    python3 perfbench/build.py      # prints the runtime classpath

The build is skipped when the sources have not changed since the last one
(a digest of their paths and contents is kept next to the classes).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "sources.md5")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for d in candidates:
        if os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA}.jar")):
            return d
    raise BuildError("no Spark distribution with scala-compiler-%s.jar found "
                     "(set SPARK_HOME)" % SCALA)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine + bench


def classpath():
    jars = spark_jars()
    return os.pathsep.join([CLASSES] + sorted(glob.glob(os.path.join(jars, "*.jar"))))


def build():
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    h = hashlib.md5()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    cp = classpath()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return cp
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", cp.split(os.pathsep, 1)[1],
           "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
