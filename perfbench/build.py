#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (the repository's `src/main/scala`) and the
benchmark (`perfbench/src/main/scala`) with the Scala compiler that the
Spark distribution ships in its `jars/` directory ($SPARK_HOME, else the
installation of the `spark-submit` on PATH), so no build tool has to
resolve anything. Outputs land under `perfbench/.build/`:

    program/   the program's classes plus its `src/main/resources`
    bench/     the benchmark's classes
    test/      the benchmark's own tests (only with `test`)

Each stage is rebuilt only when the hash of its sources changes.

    python3 perfbench/build.py          # build program + benchmark
    python3 perfbench/build.py test     # build and run the benchmark's tests
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")

JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        raise BuildError("Spark not found: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    d = os.path.join(spark_home(), "jars")
    if not os.path.isdir(d):
        raise BuildError(f"Spark jars not found at {d} (set SPARK_HOME)")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_stage(name, sources, classpath, extra_inputs=()):
    """Compile `sources` into .build/<name>; skip when the stamp matches."""
    if not sources:
        raise BuildError(f"no sources for stage {name}")
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, f"{name}.stamp")
    key = digest(list(sources) + list(extra_inputs)) + ":" + ":".join(classpath)
    if os.path.isfile(stamp) and open(stamp).read() == key:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = os.path.join(OUT, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_home(), "jars", "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-cp", ":".join(classpath), "@" + argfile]
    print(f"[build] compiling {name}: {len(sources)} files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for stage {name}")
    with open(stamp, "w") as f:
        f.write(key)
    return dest


def build():
    """Build program and benchmark; return the runtime classpath list."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BuildError(f"program sources not found at {src}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    res = os.path.join(ROOT, "src", "main", "resources")
    res_files = []
    for base, _, files in os.walk(res):
        res_files += [os.path.join(base, f) for f in files]
    program = compile_stage("program", scala_files(src), jars, sorted(res_files))
    for p in res_files:
        d = os.path.join(program, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(d), exist_ok=True)
        shutil.copyfile(p, d)
    # each stage's key includes the stamp of the stage it compiles against
    bench = compile_stage(
        "bench", scala_files(os.path.join(HERE, "src", "main", "scala")),
        [program] + jars, [os.path.join(OUT, "program.stamp")])
    return [bench, program] + jars


def run_tests():
    cp = build()
    test = compile_stage(
        "test", scala_files(os.path.join(HERE, "src", "test", "scala")), cp,
        [os.path.join(OUT, "bench.stamp")])
    env = dict(os.environ, LC_ALL="C.UTF-8")
    cmd = (["java", "-Xmx1g", "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8"]
           + JAVA_OPENS + ["-cp", ":".join([test] + cp), "perfbench.SelfTest", ROOT])
    return subprocess.run(cmd, env=env, cwd=ROOT).returncode


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(run_tests())
        build()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
