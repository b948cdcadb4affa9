"""Benchmark of the transcript pipeline and the curation library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The first run compiles the program and
the benchmark (perfbench/build.py) into .bench_build/, which later runs reuse.
Each run starts one JVM at local[nproc] that sets up (session plus warm-up,
timed from JVM start), generates the seeded corpus unless this seed's is
already under .bench_build/work/data/<digest of perfbench/src>/, measures
the workload for about --seconds seconds, checks the outputs, and prints
report lines starting with "#". The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

The exit code is 0 only when every correctness check passed. Seed 1000 is
held out: do not tune against it; use it to confirm a claim.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("batch_agent_logs", "curate_docs")
HEAP = "3g"
# Past this the JVM is killed, so that no JVM outlives a run that hangs.
# On 4 cores an untraced run takes about 60 s and a traced one about 115 s.
DEADLINE_S = 175.0
WORK = os.path.join(build.BUILD_DIR, "work")
KEEP_CORPORA = 4  # seeds whose corpora stay cached

# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, args):
    work = os.path.abspath(WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    props = {
        "java.io.tmpdir": tmp,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    jars = os.path.join(os.path.dirname(build.spark_jars()[0]), "*")
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + opens
            + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", os.pathsep.join([classes, jars]), "perfbench.Main"]
            + args + ["--work", work])


def data_dir(seed):
    """This seed's corpus directory, keyed by a digest of the benchmark's
    sources (its generators and their parameters live there), so a changed
    generator never reuses an old corpus. Evicts all but the newest
    KEEP_CORPORA seeds."""
    h = hashlib.sha256()
    for path in build.sources(build.BENCH_SOURCES, ".scala"):
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    root = os.path.join(WORK, "data")
    key = h.hexdigest()[:16]
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old != key:
            shutil.rmtree(os.path.join(root, old))
    mine = os.path.join(root, key, f"s{seed}")
    os.makedirs(mine, exist_ok=True)
    os.utime(mine)
    seeds = sorted((os.path.join(root, key, d) for d in os.listdir(os.path.join(root, key))),
                   key=os.path.getmtime, reverse=True)
    for old in seeds[KEEP_CORPORA:]:
        shutil.rmtree(old)
    return mine


_child = None


def _stop_child(signum, _frame):
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    sys.exit(128 + signum)


def run_jvm(cmd, log_path, deadline):
    """Run one JVM to completion; return its stdout lines."""
    global _child
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(log_path, "w") as log:
        _child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = _child.communicate(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if _child.poll() is None:
                _child.kill()
                _child.wait()
    if _child.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {_child.returncode}; log tail:\n{tail}")
    return out.splitlines()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    deadline = time.monotonic() + DEADLINE_S
    logs = os.path.join(build.BUILD_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.abspath(data_dir(a.seed))]
    log = os.path.join(logs, f"{a.workload}-{a.seed}-t{a.trace}.log")
    try:
        result = None
        for line in run_jvm(java_cmd(classes, args), log, deadline):
            if line.startswith("#"):
                print(line)
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
        if result is None:
            raise RuntimeError("the JVM printed no result")
    except (RuntimeError, subprocess.TimeoutExpired, ValueError) as e:
        sys.exit(f"perfbench: {a.workload} failed: {e}")
    print(f"# failed_ratio = {result['failed'] / result['attempted']}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
