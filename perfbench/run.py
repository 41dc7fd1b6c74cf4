#!/usr/bin/env python3
"""The repo benchmark: one command runs one workload at one seed.

    python3 perfbench/run.py --workload pipeline|dashboard|index_churn \\
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the checkout root. It builds the engine and the harness from
source (once per source state, into .bench_build/), generates the seeded
inputs, runs the harness JVM (Spark local[N], N = cores; one closed-loop
client), checks every output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics, --trace 1 the per-layer ones; the line before it holds
the workload's own details. Exits non-zero when a correctness check fails
or anything else goes wrong.
"""
import argparse
import hashlib
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170
WORKLOADS = ["pipeline", "dashboard", "index_churn"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import oracle  # noqa: E402
import report  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise RuntimeError("engine sources (src/main/scala/graft) not found beside the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building engine and harness with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise RuntimeError(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_times():
    """The machine's aggregate CPU tick counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run_jvm(cp, args, work, deadline):
    """Run the harness; kill its process group at the deadline."""
    # a fixed-size heap under the parallel collector: eden is one reused
    # space and the old generation fills from one end, so the peak RSS
    # follows the live data rather than the collector's region choices
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.out"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException as e:  # deadline, or this process told to stop
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError("harness JVM ran past the deadline") from e
            raise
    if code != 0:
        with open(os.path.join(work, "jvm.out")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise RuntimeError(f"harness JVM exited {code}")


def finite(v):
    """NaN (a metric with no samples) is not JSON; it prints as null."""
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, dict):
        return {k: finite(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [finite(x) for x in v]
    return v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke tests)")
    a = ap.parse_args()
    start = time.time()

    cp = build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), a.workload,
                        str(a.seed), data] + (["--tiny"] if a.tiny else [])
                       + (["--kernels"] if a.trace else []),
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
        gen_s = time.time() - t0
        out = os.path.join(work, "report.json")
        launch, ticks0 = time.time(), cpu_times()
        run_jvm(cp, [a.workload, data, work, str(a.seconds), str(a.trace), out], work, deadline)
        ticks = [y - x for x, y in zip(ticks0, cpu_times())]
        with open(out) as f:
            rep = json.load(f)
        if a.workload == "dashboard":
            bad = {q: why for q, why in oracle.check(data, work).items() if why}
            for o in rep["ops"]:
                if o["label"] in bad and o["ok"]:
                    o["ok"], o["why"] = False, "oracle: " + bad[o["label"]]
        with open(os.path.join(data, "sizes.json")) as f:
            sizes = json.load(f)

        e2e, info = report.end_to_end(rep, launch, gen_s)
        # CPU time the hypervisor gave to other guests while the harness ran:
        # a run slowed by a noisy host shows it here
        details = {"workload": a.workload, "seed": a.seed, "inputs": sizes, **info,
                   "host_steal_share": ticks[7] / max(1, sum(ticks)),
                   **report.workload_details(rep)}
        if a.trace:
            metrics, layer = report.per_layer(rep)
            details.update(layer)
            with open(os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"details": details, "trace": rep["trace"], "ops": rep["ops"]}, f)
        else:
            metrics = e2e
        unmeasured = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
        if unmeasured:
            raise RuntimeError(f"no samples for {unmeasured}")
        attempted = len(rep["ops"])
        failures = [o for o in rep["ops"] if not o["ok"]]
        details["fail_ratio"] = len(failures) / attempted if attempted else 1.0
        details["failures"] = sorted({f"{o['kind']} {o['label']}: {o['why']}" for o in failures})[:20]
        details["run_s"] = time.time() - start
        print(json.dumps({"details": finite(details)}, default=str))
        correct = attempted > 0 and not failures
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a stop request unwinds through run_jvm, which kills the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        log(f"error: {e}")
        sys.exit(2)
