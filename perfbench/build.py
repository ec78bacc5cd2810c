"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships among the Spark jars `build.sbt` compiles against.
The classes go to `perfbench/.cache/classes-<stamp>`, where the stamp
hashes every compiled source, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py      # prints the classes directory
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
CACHE = os.path.join(HERE, ".cache")


def spark_jars():
    """The jar directory `build.sbt` compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise RuntimeError("build.sbt names no unmanagedBase and SPARK_HOME is unset")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read() + b"\0")
    h.update(",".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()[:16]


def ensure(timeout=600):
    """Return the classes directory for the current sources, compiling
    them first when no build with the same stamp exists."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in files):
        raise RuntimeError("no engine sources under src/main")
    out = os.path.join(CACHE, "classes-" + stamp(files))
    if os.path.isdir(out):
        return out
    os.makedirs(CACHE, exist_ok=True)
    for old in glob.glob(os.path.join(CACHE, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=timeout, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + proc.stdout[-4000:])
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(e, file=sys.stderr)
        sys.exit(1)
