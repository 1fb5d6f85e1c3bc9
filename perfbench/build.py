#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in the Spark distribution, into <build dir>/classes.

The build dir is $CARGO_TARGET_DIR if set, else .bench_build, relative to
the repository root. A stamp of the source and jar listing skips the
compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
HARNESS_SRC = REPO / "perfbench" / "src"
ENGINE_SRC = REPO / "src" / "main" / "scala"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else REPO / d


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = (REPO / "build.sbt").read_text()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not Path(m.group(1)).is_dir():
        sys.exit("build: no Spark jars (set SPARK_HOME)")
    return Path(m.group(1))


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        sys.exit(f"build: engine sources missing ({ENGINE_SRC.relative_to(REPO)})")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def build() -> Path:
    """Compile if needed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = build_dir() / "perfbench"
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = out / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
