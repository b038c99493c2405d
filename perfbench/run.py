#!/usr/bin/env python3
"""graft log-search benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cat_window --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the harness from source (perfbench/build.py), then runs the
harness JVM with Spark in local mode on every available core. The last line of
standard output is the result object; everything the harness logs goes to
standard error. Run from the repository root; all files it writes stay under
.bench_build/. See perfbench/README.md for workloads and metrics.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["cat_window", "search_selective", "grep_scan"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the output checker against graft on a tiny corpus")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    try:
        classes = build.build()
    except (build.BuildError, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    out = build.OUT
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main", "--work", os.path.join(out, "work", f"{tag}-{os.getpid()}")])
    if a.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--trace-out", os.path.join(out, "trace", f"{a.workload}-seed{a.seed}.json")]
    env = dict(os.environ, GRAFT_SPARK_MASTER=f"local[{cores()}]", LANG="C.UTF-8",
               LC_ALL="C.UTF-8", TMPDIR=tmp)

    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=out,
                         start_new_session=True, text=True, encoding="utf-8")
    try:
        stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[perfbench] harness did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = stdout.splitlines()
    if a.selftest:
        print(stdout, end="")
        return p.returncode
    if p.returncode != 0 or not lines:
        print(stdout, end="", file=sys.stderr)
        print(f"[perfbench] harness exited with {p.returncode}", file=sys.stderr)
        return p.returncode or 1
    try:
        result = json.loads(lines[-1])
        if set(result) != RESULT_KEYS:
            raise ValueError(f"result keys {sorted(result)}")
    except ValueError as e:
        print(stdout, end="", file=sys.stderr)
        print(f"[perfbench] malformed result line: {e}", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
