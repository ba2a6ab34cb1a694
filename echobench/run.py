"""Echo-chamber pipeline benchmark.

    python3 echobench/run.py --workload echo_batch --seed 1 --seconds 10 --trace 0
    python3 echobench/run.py --selftest

Builds the engine and the benchmark from source (see build.py), runs one
workload in a fresh local-mode JVM and relays its output; the last line of
standard output is the result object. Everything it writes stays under
.bench_build/ at the root of the checkout and is removed when the run ends.
See echobench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # a fixed heap: G1 does not resize it while the first operations run
    return [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", *opens,
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-cp", cp, "echobench.Main", *args]


def run_jvm(cmd, limit_s):
    """Runs the JVM, relaying its stdout; returns (exit code, last line)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    deadline = time.time() + limit_s
    last = None

    def kill(sig, frame=None):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGALRM, kill)
    signal.alarm(max(1, int(limit_s)))
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            print(line, flush=True)
            if line.strip():
                last = line
        proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            kill(None)
            proc.wait()
    timed_out = time.time() >= deadline
    return (124 if timed_out else proc.returncode), last


def selftest():
    classes = build.build()
    work = os.path.join(build.BUILD, f"work/selftest-{os.getpid()}")
    try:
        code, _ = run_jvm(jvm(classes, work, ["--selftest", work]), RUN_LIMIT_S)
        ok = code == 0
        code2, listed = run_jvm(jvm(classes, work, ["--list-metrics"]), 60)
        names = json.loads(listed) if code2 == 0 and listed else {}
        spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
        if os.path.isfile(spec_path):
            spec = json.load(open(spec_path))
            for key in ("end_to_end", "per_layer"):
                same = [m["name"] for m in spec[key]] == names.get(key)
                print(f"{'PASS' if same else 'FAIL'} BENCHMARK.json {key} match what the benchmark prints")
                ok = ok and same
            runnable = {w["name"] for w in spec["workloads"]} <= set(names.get("workloads", []))
            print(f"{'PASS' if runnable else 'FAIL'} BENCHMARK.json workloads are runnable")
            ok = ok and runnable
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.selftest:
            return selftest()
        if a.workload is None or a.seed is None or a.seconds is None:
            ap.error("--workload, --seed and --seconds are required")
        classes = build.build()
    except build.BuildError as e:
        print(f"echobench: build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, f"work/{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        code, last = run_jvm(jvm(classes, work, args), RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code not in (0, 3) or last is None or not last.startswith("{"):
        print(f"echobench: run failed (exit {code})", file=sys.stderr)
        return code or 1
    return code


if __name__ == "__main__":
    sys.exit(main())
