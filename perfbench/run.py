"""Run one graft benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload web_pipeline --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark from source on first use (see build.py),
then runs the workload in a single JVM with local[<cores>] Spark and a
fixed heap. The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
with ``--trace 0`` it carries every end-to-end metric of BENCHMARK.json,
with ``--trace 1`` every per-layer metric. A traced run also writes its
spans to ``.bench_build/traces/<workload>-seed<seed>.json``.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build file, next to this one)

HEAP = "4g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def load_spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, args, work):
    jars = build.spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC",
           "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=" + work]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", work,
            "--trace-out", os.path.join(build.BUILD_DIR, "traces")]
    # Spark binds the driver to loopback; without these it also probes the
    # host name and the network interfaces.
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True, env=env)

    def stop(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("stopped by signal %d" % signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("workload timed out after %d s" % RUN_TIMEOUT_S)
    if proc.returncode != 0:
        fail("benchmark JVM exited with code %d" % proc.returncode)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("benchmark JVM printed no result")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail("unknown workload " + args.workload)
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e))

    work = os.path.join(build.BUILD_DIR, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(classes, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # The JVM reports values by name; units and the metric set come from
    # BENCHMARK.json. A per-layer metric of a layer the workload does not
    # exercise reads 0.
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    known = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    unknown = sorted(set(raw["metrics"]) - known)
    if unknown:
        fail("metrics missing from BENCHMARK.json: " + ", ".join(unknown))
    metrics = {}
    for m in wanted:
        if m["name"] in raw["metrics"]:
            value = raw["metrics"][m["name"]]
        elif args.trace:
            value = 0.0
        else:
            fail("end-to-end metric not reported: " + m["name"])
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
