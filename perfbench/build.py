"""Build file of the benchmark: compiles the engine and the benchmark together.

The engine's own build (build.sbt) compiles `src/main/scala` against the
Spark jars named by its `unmanagedBase`; this script compiles the same
sources plus `perfbench/src` with the Scala compiler shipped among those
jars, so a checkout needs no sbt session and writes nothing outside
`.bench_build/`. A stamp over every input file skips the compile when
nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "stamp")
ENGINE_SOURCES = os.path.join("src", "main", "scala")
ENGINE_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SOURCES = os.path.join("perfbench", "src")


class CompileError(Exception):
    pass


def jars_dir(root="."):
    """Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise CompileError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")


def sources(root="."):
    engine = os.path.join(root, ENGINE_SOURCES)
    if not os.path.isdir(engine):
        raise CompileError(f"{engine} not found: run from the root of a checkout")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, BENCH_SOURCES, "*.scala")))
    return files


def _stamp(files):
    h = hashlib.sha256()
    for path in files + [os.path.abspath(__file__)]:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(root="."):
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([
        os.path.join(root, CLASSES),
        os.path.join(root, ENGINE_RESOURCES),
        os.path.join(jars_dir(root), "*"),
    ])


def build(root=".", log=sys.stderr):
    files = sources(root)
    stamp = _stamp(files)
    stamp_path = os.path.join(root, STAMP)
    if os.path.isfile(stamp_path) and open(stamp_path).read() == stamp:
        return
    jars = jars_dir(root)
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = glob.glob(os.path.join(jars, f"{name}-2.13*.jar"))
        if not found:
            raise CompileError(f"{name} jar not found in {jars}")
        compiler.append(found[0])
    out = os.path.join(root, CLASSES)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print(f"[build] compiling {len(files)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.path.join(jars, "*")] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout, file=log)
        raise CompileError("scalac failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except CompileError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
