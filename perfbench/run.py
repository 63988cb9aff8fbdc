#!/usr/bin/env python3
"""Build the engine with the benchmark harness and run one benchmark workload.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Workloads: `serve` (build, cache and query one index) and `refresh`
(checkpointed build, then resume after slice changes). `--docs` sets the
corpus size. The first run compiles `src/main/scala` and the harness with sbt
into `perfbench/target`; later runs reuse the classes while the sources are
unchanged. Scratch data lives in `perfbench/.work/` and is deleted when the
run ends. The last line of stdout is the JSON result; the exit code is
non-zero if the build fails, an output check fails or the result does not
carry the metrics that BENCHMARK.json names.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

child = None


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def find_spark_home():
    """$SPARK_HOME, else the first Spark installation (a bin/spark-submit
    beside a jars/ directory) found through the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    return None


def build(spark_home):
    want = stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    env = dict(os.environ, SPARK_HOME=spark_home)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("compiling engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit(f"perfbench: sbt compile failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def expected_metrics(trace):
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as fh:
        b = json.load(fh)
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def stop_child(*_):
    if child is not None and child.poll() is None:
        child.terminate()
        try:
            child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
    raise SystemExit(1)


def main():
    global child
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "refresh"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--docs", type=int, default=2000)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    spark_home = find_spark_home()
    if spark_home is None:
        sys.exit("perfbench: set SPARK_HOME or put Spark's bin/ on the PATH")

    build(spark_home)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--docs", str(a.docs), "--work", work]

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    last = None
    try:
        env = dict(os.environ)
        env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch in the checkout
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 text=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S, child.kill)
        watchdog.daemon = True
        watchdog.start()
        # hold back one line: the result is printed only once it is checked
        for line in child.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        code = child.wait()
        watchdog.cancel()
    finally:
        if child is not None and child.poll() is None:
            child.kill()
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    try:
        result = json.loads(last or "")
    except ValueError:
        sys.exit(f"perfbench: no result (exit code {code})")
    want = expected_metrics(a.trace == "1")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want is not None and got != want:
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(got))}, "
                 f"extra {sorted(set(got) - set(want))}")
    print(last, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
