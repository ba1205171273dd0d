"""Offline build of the benchmark harness.

Compiles the program's sources (``src/main/scala``) together with the
harness (``appbench/harness``) using the Scala compiler that ships in
Spark's jars directory, against those jars. Nothing is fetched, sbt is not
run, and ``build.sbt`` is only read for its Spark jars directory when
``SPARK_HOME`` is unset. Output goes to
``.bench_build/appbench/classes`` under the checkout root; a digest of the
sources lets later runs reuse it.

Usage: python3 appbench/build.py   (from the checkout root)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory the program's own sbt build
    declares as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(root, "build.sbt")
        found = os.path.isfile(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = found.group(1) if found else ""
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found (set SPARK_HOME)")
    return jars


def one_jar(jars, stem):
    found = sorted(glob.glob(os.path.join(jars, stem + "-2.13.*.jar")))
    if not found:
        raise BuildError(f"{stem} 2.13 jar not found in {jars}")
    return found[-1]


def build_dir(root):
    return os.path.join(root, ".bench_build", "appbench")


def sources(root):
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BuildError(f"no program sources at {src}")
    found = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    return found + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def digest(root, paths):
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Returns the classes directory, compiling only when a source changed."""
    srcs = sources(root)
    jars = spark_jars(root)
    stamp = digest(root, srcs)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes):
        return classes

    print(f"appbench: compiling {len(srcs)} sources", file=log, flush=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler_cp = os.pathsep.join(one_jar(jars, s) for s in
                                  ("scala-compiler", "scala-library",
                                   "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        log.write(proc.stdout[-4000:])
        raise BuildError("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"appbench build: {e}")
