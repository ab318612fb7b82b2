"""Build file of the benchmark harness.

Compiles the program under test (`src/main/scala`), the repo's fixture
invariants (`src/test/scala/graft/FixtureInvariants.scala`, the check its
seeded generator runs on every corpus) and the harness
(`pipebench/harness/src`) with the Scala compiler that ships in Spark's jar
directory (the one build.sbt names), into
`pipebench/.build/<fingerprint>/classes`. The fingerprint covers every source
file, so a changed checkout rebuilds and an unchanged one reuses its classes.

    python3 pipebench/build.py          # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
INVARIANTS = os.path.join(ROOT, "src", "test", "scala", "graft", "FixtureInvariants.scala")

# the module flags Spark needs on JDK 17 outside spark-submit (as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark jar directory the repository's build.sbt compiles against
    (`unmanagedBase`), else `$SPARK_HOME/jars`."""
    jars = None
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else None
    except OSError:
        pass
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not os.path.isdir(jars):
        raise SystemExit(f"pipebench: no Spark jar directory ({jars}); "
                         "run from the repository root or set SPARK_HOME")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"pipebench: program sources not found at {program}; "
                         "run from the repository root")
    files = [INVARIANTS]
    for base in (program, os.path.join(HERE, "harness", "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Return (classes dir, source fingerprint, compiled now), compiling if needed."""
    files = sources()
    fp = fingerprint(files)
    classes = os.path.join(BUILD, fp, "classes")
    if os.path.isdir(classes):
        return classes, fp, False
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars] + files
    print(f"pipebench: compiling {len(files)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("pipebench: compile failed")
    # keep only this build: older fingerprints are stale sources
    for old in os.listdir(BUILD):
        if old != fp:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes, fp, True


if __name__ == "__main__":
    print(build()[0])
