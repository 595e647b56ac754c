#!/usr/bin/env python3
"""Benchmark of the graft extraction engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 8 --trace 0

The first run builds the program and the harness from source with sbt
(offline), into `target/` directories and the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`). Later runs reuse that build
while the sources are unchanged.

Each run starts one JVM at local[N], N = min(4, nproc - 1), with a fixed
driver heap and the serial collector. The JVM sets up the workload's input
three times (session start plus input generation and parquet write; set-up
time is their median), runs one cold job, computes the reference digest
with an independent path of the program, then runs warm jobs back to back
(a closed loop, one client) for --seconds, and at least a workload's
minimum count. Every job's output
is checked against the reference. See README.md for the metrics.

--trace 0 prints the end-to-end metrics; --trace 1 runs the traced,
layer-by-layer pass instead, prints the per-layer metrics and writes a span
file under the build directory. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --self-test

plants one-row changes in an extraction output and shows that the output
check rejects each of them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["transcripts", "giant_resumable"]
# One core is left to the driver thread, the JIT and the collector: planning
# and code generation, a large share of every job here, run on the driver
# thread, which should not queue behind the task threads.
CPUS = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
DRIVER_MEM = "3g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HERE = os.path.dirname(os.path.abspath(__file__))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
CHILDREN = []


def kill(p):
    """Kill the process group `p` leads, and wait for it."""
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()


def stop_children(*_):
    for p in CHILDREN:
        kill(p)
    sys.exit(5)


def start(cmd, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(p)
    return p


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, program and harness."""
    out = [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench/build.sbt")]
    for top in ["project", "perfbench/project", "src/main", "perfbench/src"]:
        for d, dirs, files in os.walk(os.path.join(root, top)):
            if top.endswith("project"):
                dirs.clear()  # sbt's own output lives below project/
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def stamp_of(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile program and harness once per source state; return the
    runtime classpath."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = stamp_of(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.server.autostart=false -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as lf:
        p = start(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                  stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}", 4)
        lf.write(out)
    if p.returncode != 0:
        fail(f"build failed; see {log}", 4)
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log}", 4)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, build_dir, jargs, log):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the serial collector: no collector threads competing with the tasks,
    # and a heap that grows the same way from run to run, so peak RSS repeats
    cmd = ["java", f"-Xmx{DRIVER_MEM}", "-XX:+UseSerialGC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-cp", cp, "perfbench.Main", "--cpus", str(CPUS), "--driver-mem", DRIVER_MEM,
    ] + jargs
    with open(log, "w") as lf:
        p = start(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"run timed out after {RUN_TIMEOUT_S}s; see {log}", 3)
    if p.returncode != 0:
        with open(log) as lf:
            tail = lf.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"run failed with code {p.returncode}; see {log}", 3)


def main():
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if os.path.realpath(os.path.join(root, "perfbench")) != HERE:
        fail("run from the root of the checkout: python3 perfbench/run.py ...")
    for need in ["build.sbt", "src/main/scala/graft"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no program sources here ({need} missing); nothing to build")
    if not (a.workload or a.self_test):
        fail("--workload is required")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    name = a.workload or "self-test"
    work = os.path.join(build_dir, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(build_dir, "logs", f"{name}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    jargs = ["--work", work, "--out", out, "--seed", str(a.seed)]
    if a.self_test:
        run_jvm(cp, build_dir, jargs + ["--self-test"], log)
        with open(log) as f:
            print("".join(l for l in f if l.startswith("self-test")), end="")
        shutil.rmtree(work, ignore_errors=True)
        return
    jargs += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    run_jvm(cp, build_dir, jargs, log)
    with open(out) as f:
        context, result = [json.loads(l) for l in f.read().splitlines()[:2]]
    print("context " + json.dumps(context["context"]))
    if a.trace:
        spans = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
        print(f"spans {os.path.relpath(spans, root)}")
    shutil.rmtree(work, ignore_errors=True)
    for k, v in result["metrics"].items():
        print(f"{a.workload:16s} {k:48s} {v['value']:>16.6g} {v['unit']}")
    print(f"{a.workload:16s} output check: {result['attempted'] - result['failed']} of "
          f"{result['attempted']} jobs match the reference")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
