"""Build file of the benchmark: compiles the program (src/main/scala)
and the harness (perfbench/scala) with the Scala compiler that ships
with the Spark distribution, against the distribution's jars (the
ones the program's build.sbt builds against).

Outputs go to <root>/.bench_build/perfbench/, keyed by a hash of the
sources, so a checkout builds once and a changed source rebuilds.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt
    names as its `unmanagedBase`."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise BuildError("no Spark jars: set SPARK_HOME")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(name, files, classpath, jars):
    out = os.path.join(OUT, f"{name}-{_digest(files, classpath.replace(OUT, ''))}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    classes = os.path.join(out, "classes")
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", classpath,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    open(os.path.join(out, ".done"), "w").close()
    return out


def build():
    """Compile what is missing; return the classpath to run with."""
    program = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    prog = os.path.join(_compile("program", program, jar_cp, jars), "classes")
    harness_cp = prog + os.pathsep + jar_cp
    harness = os.path.join(_compile("harness", _sources(os.path.join(HERE, "scala")),
                                    harness_cp, jars), "classes")
    return harness + os.pathsep + harness_cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
