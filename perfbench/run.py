#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload build|query-hot --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source on first use (see
build.py), then runs perfbench.Main in one JVM with fixed settings. The
metric names printed are checked against BENCHMARK.json. Exits non-zero,
without a result line, if the build, the run or that check fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Time left for the JVM after the build; a run must end within 180 s.
RUN_TIMEOUT_S = 170
HEAP = "2g"
# A query spends most of its time in driver-side Spark code that the JIT
# compiles only after hundreds of queries at the default thresholds. Lower
# thresholds and a fourth compiler thread bring the query loop near its
# plateau within the warm-up (see README.md, "Sizing evidence").
JIT = ["-XX:CICompilerCount=4", "-XX:CompileThresholdScaling=0.2"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm(classpath, main, args):
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JIT +
            [f"-Djava.io.tmpdir={tmp}",
             f"-Dperfbench.work={os.path.join(build.OUT, 'work')}",
             f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
             "-cp", os.pathsep.join(classpath), main] + args)


def run_child(cmd, timeout):
    """Run `cmd` in its own process group; kill the group on timeout or signal."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True, cwd=build.ROOT)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout:.0f} s", file=sys.stderr)
        kill()
    return proc.returncode, out


def expected_metrics(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    if a.self_test:
        rc, out = run_child(jvm(classpath, "perfbench.OracleSelfTest", []), RUN_TIMEOUT_S)
        sys.stdout.write(out)
        return rc
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    want = expected_metrics(a.trace == 1)
    t0 = time.monotonic()
    rc, out = run_child(jvm(classpath, "perfbench.Main",
                            ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace)]),
                        RUN_TIMEOUT_S)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print(f"perfbench: metrics differ from BENCHMARK.json: missing "
              f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
              f"units {[k for k in want if k in got and got[k] != want[k]]}", file=sys.stderr)
        return 3
    for line in lines[:-1]:
        print(line)
    print(f"# wall_s {time.monotonic() - t0:.1f}")
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
