#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark program with perfbench/build.py, runs the
workload in one JVM on local[nproc], checks its outputs and prints, as
the last line, {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones in BENCHMARK.json, with
--trace 1 the per-layer ones. Everything the run writes stays under
$CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
from build import HERE, ROOT, build, fail, out_dir, spark_jars

WORKLOADS = ("cdc_trickle", "analytics_suite")
# The heap starts small and grows as the program's retained data needs,
# so peak_rss_mb follows the memory the program uses. The young
# generation has a fixed size: left adaptive, the collector sizes it from
# pause-time predictions, and peak_rss_mb spread by a quarter between
# runs of the same input. Sizes are fixed so they do not depend on the
# machine's memory.
JVM_HEAP_MIN = "256m"
JVM_HEAP_MAX = "2g"
JVM_YOUNG = "128m"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    wanted = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]

    out = out_dir()
    jars = spark_jars()
    classes = build(out, jars)

    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log4j = os.path.join(HERE, "log4j2.properties")
    spans = os.path.join(out, "trace", f"{a.workload}-seed{a.seed}-spans.jsonl")
    cmd = (["java", f"-Xms{JVM_HEAP_MIN}", f"-Xmx{JVM_HEAP_MAX}", f"-Xmn{JVM_YOUNG}", "-Xss8m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile=file:{log4j}", "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graftbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
              os.path.join(HERE, "data", "sf0.01"), os.path.join(HERE, "oracle", "fingerprints.json"),
              spans])
    load_before = os.getloadavg()
    # few malloc arenas: with one per thread, resident memory varies
    # with thread scheduling rather than with what the program allocates
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)

    def stop(signum, _frame):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload did not finish within {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    line = next((l for l in reversed(stdout.splitlines()) if l.startswith("GRAFTBENCH ")), None)
    if proc.returncode != 0 or line is None:
        sys.stdout.write(stdout[-4000:])
        fail(f"workload exited with code {proc.returncode} and no result")
    r = json.loads(line[len("GRAFTBENCH "):])
    metrics = r["metrics"]
    notes = r["notes"]
    notes["env"]["loadavg_before_launch"] = " ".join(f"{x:.2f}" for x in load_before)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print("env " + json.dumps(notes.pop("env"), sort_keys=True))
    print("notes " + json.dumps(notes, sort_keys=True))
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:16.6f} {m['unit']}")

    record = os.path.join(out, "untraced", f"{a.workload}.json")
    if a.trace == 0:
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "w") as fh:
            json.dump({"seed": a.seed, "metrics": metrics}, fh)
    else:
        print(f"spans written to {os.path.relpath(spans, ROOT)}")
        if os.path.exists(record):
            base = json.load(open(record))
            for k in ("batch_p50_s", "read_p50_s", "cpu_s"):
                over = metrics[k]["value"] / base["metrics"][k]["value"] - 1
                print(f"tracing overhead {k}: {100 * over:+.1f}% vs the untraced run of seed {base['seed']}")
        else:
            print("tracing overhead: no untraced run of this workload in this checkout yet")

    missing = [n for n in wanted if n not in metrics]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {n: metrics[n] for n in wanted},
    }))


if __name__ == "__main__":
    main()
