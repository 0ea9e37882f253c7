"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler that ships among
Spark's jars, into perfbench/.build/classes.

The build is skipped when a stamp of every source file's path and bytes
matches the last build, so only the first run in a checkout pays for it.

    python3 perfbench/build.py        # build (or confirm up to date)
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


class BuildError(RuntimeError):
    """The build cannot start: no engine sources or no Spark jars."""


class CompileError(BuildError):
    """The sources are there but do not compile."""


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the repository's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                d = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            d = ""
    if not d or not glob.glob(os.path.join(d, "*.jar")):
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return d


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath as a list."""
    jars = os.path.join(spark_jars_dir(), "*")  # a JVM class-path wildcard
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return [CLASSES, jars]
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(sorted(glob.glob(jars + ".jar")))  # scalac takes no wildcard
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise CompileError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)
    return [CLASSES, jars]


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
