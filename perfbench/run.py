#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
benchmark (see build.py); later runs reuse the build. Everything the run
writes stays under perfbench/: build outputs in .build/, scratch files in
.work/ (removed when the run ends) and traced runs' spans in out/.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("etl", "catalog_store")
JVM_TIMEOUT_S = 170
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def validate(result):
    """The result object's contract; raises ValueError when broken."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(result)}")
    if not isinstance(result["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or result[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if result["attempted"] < 1:
        raise ValueError("nothing attempted")
    for name, m in result["metrics"].items():
        if not NAME.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return result


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args(argv)
    # a SIGTERM must still reach the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false"]
           + build.JAVA_OPENS
           + ["-cp", ":".join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--root", ROOT, "--work", work,
              "--launch-ms", str(int(time.time() * 1000))])
    env = dict(os.environ, LC_ALL="C.UTF-8")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    if proc.returncode != 0:
        print(f"[perfbench] benchmark JVM exited {proc.returncode}", file=sys.stderr)
        return 4
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = validate(json.loads(lines[-1]))
    except (IndexError, ValueError) as e:
        print(f"[perfbench] no valid result line: {e}", file=sys.stderr)
        return 5
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
