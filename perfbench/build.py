"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own JVM harness into `perfbench/.build/classes`.

The program's build declares Spark's jar directory (`unmanagedBase` in the
root `build.sbt`); `SPARK_HOME/jars` takes precedence when set. The Scala
compiler is the one Spark ships. A stamp over every source file keeps the
classes until a source changes.

    python3 perfbench/build.py        # build if stale, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or unmanagedBase in build.sbt")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not program:
        raise BuildError(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + own


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath(jars=None):
    jars = jars or jar_dir()
    return os.pathsep.join([CLASSES, os.path.join(jars, "*")])


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    jars = jar_dir()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath(jars)
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", n)]
    if len(compiler) != 3:
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
