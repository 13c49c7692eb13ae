"""End-to-end benchmark of the streaming bucket counter's loop.

    python3 perfbench/run.py --workload ingest_fewkeys --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (see build.py), then runs
one workload in one JVM: a seeded generator offers messages to
`StreamShell.attach` through a `MemoryStream`, the counts land in a
`RecentStore` or `ParquetStore`, and HTTP clients read them back through
`StoreHttpServer`. The last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). The exit code is 1
when the store's counts differ from the generator's tally, and 2 when the
benchmark cannot build or run. DESIGN.md records the workloads, metrics and
baseline numbers.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_fewkeys", "serve_mixed")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its test and run JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(build.BUILD_DIR, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    # The heap the program's own build gives its run and test JVMs.
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java", f"-Xmx{heap}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out])
    # A SIGTERM to this script must not leave the JVM running.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM failed (exit {code}):\n{tail}")
    with open(out) as f:
        res = json.load(f)
    trace_dir = os.path.join(build.BUILD_DIR, "traces")
    if a.trace:
        os.makedirs(trace_dir, exist_ok=True)
        for name in os.listdir(work):
            if name.startswith("spans-"):
                shutil.move(os.path.join(work, name), os.path.join(trace_dir, name))
    shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        print(f"correctness: {e}", file=sys.stderr)
    # Sample counts and the individual set-up times, ahead of the result line.
    print(json.dumps({"setup_each_s": res["setup_each_s"],
                      "catchup_each_rows_per_s": res["catchup_each_rows_per_s"],
                      "burst_offer_ms": res["burst_offer_ms"],
                      "phase_s": res["phase_s"],
                      "route_p50_ms": res["route_p50_ms"],
                      "samples": res["samples"]}))
    metrics = res["layers"] if a.trace else res["metrics"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
