#!/usr/bin/env python3
"""graft benchmark: runs one workload of BENCHMARK.json at local[4] and
prints its result as the last line of standard output.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 20 --trace 0

--trace 0 reports the end-to-end metrics; --trace 1 runs with Spark and
stream listeners attached, reports the per-layer metrics, prints the
self-time summary on stderr and writes every span to
perfbench/out/trace-<workload>-<seed>.json. --toy runs at toy size
(for the smoke test); --corrupt-expected damages the expected state so the
correctness check must fail; --chunk-rate sets trickle_rw's chunk release
rate (chunks/s) for the one-off rate sweep. See perfbench/NOTES.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded, must end within this
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    sys.stderr.write(f"[run.py] {msg}\n")
    sys.exit(code)


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def stop(proc):
    """Terminate the JVM's whole process group and wait until it has ended."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            pass
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--corrupt-expected", action="store_true")
    ap.add_argument("--chunk-rate", type=float, default=2.0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found at the checkout root", 2)
    spec = json.load(open(bench_file))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    try:
        classes, jars = build.ensure_built()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}", 2)

    t_start = time.monotonic()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    trace_file = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json") if args.trace else ""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: pin both inside the checkout
    env = dict(os.environ, GRAFT_BENCH_TMP=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "graft-spark-local"))
    env.pop("GRAFT_MIN_PART", None)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", os.pathsep.join([classes] + jars), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--toy", "1" if args.toy else "0",
              "--corrupt-expected", "1" if args.corrupt_expected else "0",
              "--chunk-rate", str(args.chunk_rate), "--work", work, "--trace-file", trace_file])
    # a SIGTERM to this script unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env,
                            cwd=work, start_new_session=True)
    result = validity = None
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = DEADLINE_S - (time.monotonic() - t_start)
            if left <= 0:
                fail(f"run exceeded {DEADLINE_S}s; stopped")
            if not sel.select(timeout=min(left, 5)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if line.startswith("@@RESULT "):
                result = json.loads(line[len("@@RESULT "):])
            elif line.startswith("@@VALIDITY "):
                validity = json.loads(line[len("@@VALIDITY "):])
            else:
                sys.stderr.write(line)
        proc.wait(timeout=max(1, DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {DEADLINE_S}s; stopped")
    finally:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark process failed (exit {proc.returncode})")

    layer = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[layer]:
        v = result[layer].get(m["name"])
        if v is None or not math.isfinite(v) or (layer == "end_to_end" and v <= 0):
            fail(f"metric {m['name']} missing or not a positive number: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    validity = dict(validity or {}, git_sha=git_sha(), workload=args.workload, seconds=args.seconds,
                    trace=args.trace)
    print(json.dumps({"validity": validity}))
    if args.trace:
        print(json.dumps({"traced_end_to_end": result["end_to_end"], "trace_file": os.path.relpath(trace_file, ROOT)}))
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
