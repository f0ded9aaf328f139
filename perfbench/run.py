#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <arb_scan|curate_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program (src/main/scala)
and the harness (perfbench/src) with the Scala compiler that ships in
the Spark distribution, then runs the harness in one JVM. The last line
of stdout is the JSON result. See perfbench/NOTES.md.
"""
import argparse
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["arb_scan", "curate_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    a = p.parse_args()

    root = os.getcwd()
    try:
        classes = build.ensure_built(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(root, "perfbench", ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xss8m", f"-Xms{build.HEAP}", f"-Xmx{build.HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.work={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.ADD_OPENS
           + ["-cp", os.pathsep.join([classes, build.spark_jars_glob()]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    proc = subprocess.Popen(cmd, cwd=root, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.terminate()
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        code = 3
    finally:
        build.rmtree(work)
    return code


if __name__ == "__main__":
    sys.exit(main())
