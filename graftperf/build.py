"""Builds the benchmark from source: graft's `src/main/scala` plus the
benchmark's own `graftperf/src`, compiled in one pass with the Scala compiler
that ships in the Spark distribution's `jars/` (found through `SPARK_HOME`, or
the `spark-submit` on `PATH`). Nothing is fetched.

    python3 graftperf/build.py        # from the repository root

Classes go to `.bench_build/graftperf/classes`; a hash of every source file
decides whether an existing build is still current.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
OUT = ROOT / ".bench_build" / "graftperf"


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: no Spark distribution (set SPARK_HOME)")
    return Path(home)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def sources():
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"build: graft sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.glob("*.scala"))
    if not any(f.is_relative_to(ENGINE_SRC) for f in files):
        raise SystemExit("build: no graft sources to compile")
    return files


def build(log=sys.stderr):
    """Compiles if any source changed; returns the classes directory."""
    files = sources()
    digest = hashlib.sha256()
    for f in files + [HERE / "log4j2.properties"]:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = OUT / "classes.sha256"
    classes = OUT / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    fresh = OUT / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(spark_home() / "jars" / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(fresh)]
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd + [str(f) for f in files], stdout=log, stderr=log)
    if proc.returncode != 0:
        raise SystemExit(f"build: scalac exited with {proc.returncode}")
    shutil.copy(HERE / "log4j2.properties", fresh / "log4j2.properties")
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
