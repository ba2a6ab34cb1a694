"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (echobench/src) using the Scala compiler that ships in
Spark's jars directory, and prints the classes directory:

    python3 echobench/build.py

Output lands in .bench_build/classes-<digest of the sources> at the root of
the checkout; a build whose sources have not changed is reused.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ["src/main/scala", "echobench/src"]
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the engine build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find Spark's jars directory (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.isfile(exe) else "java"


def sources():
    files = []
    for d in SOURCES:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {d}")
        for base, _, names in os.walk(top):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(log=sys.stderr):
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"echobench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # builds of other sources are stale
    for name in os.listdir(BUILD):
        if name.startswith("classes-") and os.path.join(BUILD, name) != out:
            shutil.rmtree(os.path.join(BUILD, name), ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"echobench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
