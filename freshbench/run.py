"""Benchmark entry point.

    python3 freshbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 freshbench/run.py --small [--corrupt cell|dup-row|drop-edge]

Builds the program and the benchmark from source when needed (build.py),
then runs one workload in a fresh JVM with a fixed heap and prints, as the
last line of standard output, one JSON object with the keys correct,
attempted, failed and metrics. --small runs every workload on tiny inputs
with every check on; --corrupt damages one output on purpose, so the run
must report correct=false.

Inputs are generated from the seed into a scratch directory under
.bench_build/runs, which is removed when the run ends, whatever the outcome.
Exit code 0 means every check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("freshen-batch", "fresh-get", "dedup-corpus")
HEAP = "2g"
# dedup-corpus runs q35's 35 small jobs per operation, so its time is mostly
# Spark's own planning and scheduling code. With the default tiered JIT, C2
# was still compiling 1-5 s of that code per operation after eleven
# operations, and how far it had got set the operation time of the run;
# with the JIT stopped at C1, compilation settles within three (README.md)
JIT = {"dedup-corpus": ["-XX:TieredStopAtLevel=1"]}
TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 outside spark-submit (as build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", choices=("0", "1"), default="0")
    p.add_argument("--small", action="store_true")
    p.add_argument("--corrupt", choices=("cell", "dup-row", "drop-edge"))
    a = p.parse_args()
    if a.workload is None:
        if not a.small:
            p.error("--workload is required")
        a.workload = "all"
    if a.seconds is None:
        # the small mode runs its minimum number of operations only
        a.seconds = 0 if a.small else 10
    return a


def stop(signum, _frame):
    # unwinds through the finally blocks below, which stop the children
    raise SystemExit(128 + signum)


def main():
    a = parse()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    cp = build.ensure_built()
    runs = os.path.join(build.ROOT, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=runs)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    proc = None
    try:
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"] +
               JIT.get(a.workload, []) +
               [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
               [f"-Dlog4j2.configurationFile={os.path.join(build.ROOT, 'freshbench', 'log4j2.properties')}",
                f"-Djava.io.tmpdir={tmp}", "-cp", cp, "freshbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--cpus", str(len(os.sched_getaffinity(0))),
                "--work-dir", os.path.join(work, "data")])
        if a.small:
            cmd.append("--small")
        if a.corrupt:
            cmd += ["--corrupt", a.corrupt]
        cmd += ["--launch-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        deadline = time.monotonic() + TIMEOUT_S
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        try:
            result = json.loads(lines[-1]) if lines else None
        except json.JSONDecodeError:
            result = None
        if not isinstance(result, dict) or "correct" not in result:
            print("freshbench: the JVM printed no result", file=sys.stderr)
            return 2
        print(json.dumps(result))
        return proc.returncode
    except subprocess.TimeoutExpired:
        print(f"freshbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
