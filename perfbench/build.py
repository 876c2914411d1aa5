#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program's sources (src/main/scala, resources copied) and
the harness (perfbench/harness/*.scala) together with the Scala
compiler that ships in the Spark distribution, into
.perfbench/build/<source digest>/classes. A build is reused while its
digest matches, so only the first run of a checkout compiles.

Usage: python3 perfbench/build.py   (prints the classes directory)
The Spark jars are the ones the root build.sbt compiles against (its
`unmanagedBase`), else $SPARK_HOME/jars.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _spark_jars():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = _spark_jars()


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def sources():
    main = _files(os.path.join(ROOT, "src", "main", "scala"), ".scala")
    harness = _files(os.path.join(ROOT, "perfbench", "harness"), ".scala")
    resources = _files(os.path.join(ROOT, "src", "main", "resources"))
    return main, harness, resources


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def jars():
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: Spark jars not found at {SPARK_JARS}")
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def build():
    """Compile if needed; return (classes dir, source digest)."""
    main, harness, resources = sources()
    if not main:
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    src_digest = digest(main + harness + resources)
    out = os.path.join(WORK, "build", src_digest[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, src_digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars())
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp] + main + harness
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, "ok"), "w").close()
    return classes, src_digest


if __name__ == "__main__":
    print(build()[0])
