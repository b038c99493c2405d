#!/usr/bin/env python3
"""Build file for the benchmark: compiles graft's main sources together with
the harness under perfbench/src into .bench_build/classes.

Uses the Scala compiler that ships in Spark's jars directory ($SPARK_HOME, or
the Spark whose spark-submit is on PATH), so no build tool or network access
is needed. The build is skipped when the sources, the JDK and the jar set are
unchanged since the last one.

    python3 perfbench/build.py          # build if needed, print the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on PATH
    that has them (wrappers such as pip's pyspark script have none)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return jars
    raise BuildError("Spark jars not found; set SPARK_HOME")


def _files(top, suffix=""):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft sources not found at {main}")
    return _files(main, ".scala") + _files(os.path.join(HERE, "src"), ".scala")


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    return [(f, os.path.relpath(f, res)) for f in _files(res)] if os.path.isdir(res) else []


def _stamp(srcs, res, jars):
    h = hashlib.sha256()
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    h.update(java.stderr.encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in srcs + [r for r, _ in res]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the class directory, compiling first when anything changed."""
    jars = spark_jars()
    srcs, res = sources(), resources()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    stamp = _stamp(srcs, res, jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=log, flush=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                        "@" + argfile], stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    for f, rel in res:
        dst = os.path.join(tmp, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
