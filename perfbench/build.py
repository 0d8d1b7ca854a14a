#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark harness.

Usage: python3 perfbench/build.py            (from the repository root)

The program is the root project's `src/main/scala`; the harness is
`perfbench/scala`. Both are compiled with the Scala compiler that ships among
the Spark jars the root project builds against (`unmanagedBase` in
`build.sbt`, or `$SPARK_HOME/jars`), so no dependency resolution and no
network are needed. Classes land in `$CARGO_TARGET_DIR` (default
`.bench_build`) and are rebuilt only when a source file changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The directory of jars the root project compiles against."""
    candidates = []
    build = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME or unmanagedBase in build.sbt)")


def sources(directory):
    found = []
    for base, _, files in os.walk(directory):
        found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    proc = subprocess.run(cmd + files, capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {dest}:\n{proc.stdout[-4000:]}{proc.stderr[-4000:]}")


def build():
    """Compile what changed; returns the runtime classpath."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"program sources not found at {program}; run from the repository root")
    jars = spark_jars()
    out = out_dir()
    parts = [("main", program, []), ("bench", os.path.join(BENCH_DIR, "scala"), ["main"])]
    done = {}
    upstream = ""
    for name, src, deps in parts:
        files = sources(src)
        if not files:
            raise BuildError(f"no Scala sources under {src}")
        dest = os.path.join(out, "classes", name)
        stamp = os.path.join(out, f"{name}.stamp")
        key = digest(files, jars + upstream)
        if not (os.path.isfile(stamp) and open(stamp).read() == key):
            shutil.rmtree(dest, ignore_errors=True)
            scalac(jars, [done[d] for d in deps], dest, files)
            with open(stamp, "w") as fh:
                fh.write(key)
        done[name] = dest
        upstream += key
    return [done["bench"], done["main"], os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
