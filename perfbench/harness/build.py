#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program (src/main/scala) and the harness
(perfbench/harness/src) in one scalac run against the Spark
distribution's jars, into <out>/classes. The build is skipped when a
previous build of the same sources is present (keyed by a hash of
every source file).

Usage: python3 perfbench/harness/build.py <out_dir>
Prints the classes directory on its last line.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[2]
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "harness" / "src"]


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` the sbt build uses."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return pathlib.Path(m.group(1))


def classpath():
    return str(spark_jars() / "*")


def sources():
    files = []
    for d in SOURCES:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def build(out_dir):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    key = h.hexdigest()[:16]
    classes = pathlib.Path(out_dir) / f"classes-{key}"
    if (classes / ".complete").exists():
        return classes
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    (classes / ".complete").write_text(key)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1]))
