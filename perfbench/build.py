#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark's own sources (perfbench/src) into one class directory.

It uses the Scala compiler that ships among the Spark jars the project's
build.sbt names (`unmanagedBase`), run as a plain `java` process, so no
sbt and no dependency resolution takes part. A stamp over every source
file skips the compile when nothing changed.

    python3 perfbench/build.py            # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError("build.sbt not found: run from a checkout of the project")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError("src/main/scala not found: run from a checkout of the project")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def build():
    jars = spark_jars()
    files = sources()
    resources = ROOT / "src" / "main" / "resources"
    digest = hashlib.sha256(str(jars).encode())
    for f in files + sorted(p for p in resources.rglob("*") if p.is_file()):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = CLASSES / ".stamp"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return CLASSES, jars
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-8000:])
    if resources.is_dir():
        shutil.copytree(resources, CLASSES, dirs_exist_ok=True)
    stamp.write_text(digest.hexdigest())
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
