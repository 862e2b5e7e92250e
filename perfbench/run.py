#!/usr/bin/env python3
"""Benchmark entry point: build if needed, run one workload, print the result.

    python3 perfbench/run.py --workload etl_update --seed 3 --seconds 20 --trace 0
    python3 perfbench/run.py --all [--seed N] [--seconds S]   # every workload, table
    python3 perfbench/run.py --selftest                         # the benchmark's own tests

Run it from the root of a checkout. The last line of standard output is one
JSON object with `correct`, `attempted`, `failed` and `metrics`; the line
before it is the run detail. Build and run outputs stay under perfbench/.build
and perfbench/.out. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
WORKLOADS = ["etl_backfill", "etl_update"]
RUN_TIMEOUT_S = 170
# the self test makes three full runs in one JVM
SELFTEST_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        fail(f"program sources not found under {roots[0]}")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + [os.path.join(HERE, "build.sh")]


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return digest
    print("perfbench: building", file=sys.stderr)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return digest


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME to a Spark install")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def commit(digest):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest[:16]


def java(main, args, digest, timeout=RUN_TIMEOUT_S):
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dderby.system.home={os.path.join(OUT, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(OUT, 'derby.log')}",
        "-cp", os.path.join(BUILD, "classes") + os.pathsep + os.path.join(spark_jars(), "*"),
        main,
    ] + args + ["--root", ROOT]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, PERFBENCH_COMMIT=commit(digest))
    env.pop("SPARK_CONF_DIR", None)
    proc = subprocess.Popen(cmd, cwd=OUT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{main} did not finish within {timeout} s", 3)
    finally:
        if proc.poll() is None:  # timed out or interrupted: never leave the JVM behind
            proc.kill()
            proc.wait()
    return subprocess.CompletedProcess(cmd, proc.returncode, out, None)


def run_one(workload, seed, seconds, trace, digest):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)]
    r = java("perfbench.Main", args, digest)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stdout)
        fail(f"run of {workload} failed (exit {r.returncode})", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"unexpected result line: {lines[-1]}", 1)
    return lines[-2], result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload and print a table")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    digest = ensure_built()
    os.makedirs(OUT, exist_ok=True)

    if a.selftest:
        r = java("perfbench.SelfTest", [], digest, SELFTEST_TIMEOUT_S)
        sys.stdout.write(r.stdout)
        sys.exit(r.returncode)

    if a.all:
        bad = False
        print(f"{'workload':16} {'metric':22} {'value':>14} unit")
        for w in WORKLOADS:
            detail, result = run_one(w, a.seed, a.seconds, a.trace, digest)
            d = json.loads(detail)["detail"]
            for name, m in result["metrics"].items():
                print(f"{w:16} {name:22} {m['value']:>14.6g} {m['unit']}")
            print(f"{w:16} {'error_rate':22} {d['error_rate']:>14.6g} ratio"
                  f"   (attempted {result['attempted']}, failed {result['failed']},"
                  f" correct {result['correct']}, tail {d['tail']['percentile']} of {d['tail']['samples']})")
            bad |= not result["correct"]
        sys.exit(1 if bad else 0)

    if not a.workload:
        fail("--workload is required (or --all / --selftest)")
    detail, result = run_one(a.workload, a.seed, a.seconds, a.trace, digest)
    print(detail)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
