"""The graft benchmark: one command per workload.

    python3 graftperf/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds graft and the benchmark from source
(`build.py`), runs the workload in one JVM at local[<cores>] with a fixed heap
of half the machine's memory (at least 2g, at most 4g), and prints the metrics.
With `--trace 0` the last stdout line holds the end-to-end metrics, with
`--trace 1` the per-layer ones; the line before it records the seed, the
core count, the heap and the 1-minute load average at start and end. The
traced run also writes its spans as JSONL under `.bench_build/graftperf/`.
Every output is checked against an independent oracle; an operation that
throws or fails a check counts in `failed`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("supersteps_small", "dedup_skew")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# Why these JVM settings: every operation makes Spark generate and compile
# 70-90 new classes (its code cache misses across plans), and the JIT
# compiles them again. With the default tiered compiler that recompilation
# kept each operation's CPU time falling and wandering for over a minute; with
# C1 alone the operations level off from the second one, 10-20% slower than
# C2's eventual level. The default 48 MB code cache of a C1-only JVM fills
# after about six operations, and the flush that follows made one operation
# in five or six take half as long again; 512 MB keeps a run clear of it. A
# fixed-size heap under the parallel collector avoids the shrink-and-regrow
# cycles around the collection each operation ends with.
JVM_FLAGS = ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
             "-XX:+UseParallelGC"]


def heap_gb():
    """Half of MemTotal in whole GiB, clamped to [2, 4]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return min(4, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    classes = build.build()
    load_start = os.getloadavg()[0]
    work = build.OUT / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    n_cores, heap = cores(), heap_gb()
    cmd = [build.java(), *JVM_FLAGS, f"-Xms{heap}g", f"-Xmx{heap}g", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), str(build.spark_home() / "jars" / "*")]),
            "graftperf.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(n_cores), "--work", str(work), "--out", str(raw_path)]
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not raw_path.is_file():
            raise SystemExit(f"run: benchmark JVM exited with {proc.returncode}")
        raw = json.loads(raw_path.read_text())
    except subprocess.TimeoutExpired:
        raise SystemExit("run: benchmark JVM timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result, info, spans = metrics.summarize(raw, args.trace == 1)
    if spans is not None:
        spans_path = build.OUT / f"spans-{args.workload}-seed{args.seed}.jsonl"
        spans_path.write_text("".join(json.dumps(s) + "\n" for s in spans))
        info["spans_jsonl"] = str(spans_path.relative_to(build.ROOT))
    info.update(seed=args.seed, nproc=n_cores, heap_gb=heap, load_1m_start=load_start,
                load_1m_end=os.getloadavg()[0])
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
