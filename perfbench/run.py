#!/usr/bin/env python3
"""The repo benchmark: builds the library and the benchmark from source,
runs one workload in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. Everything it writes goes under
`.bench_build/` there: compiled classes, the per-run work directory
(inputs, stores, Spark scratch; deleted after the run) and the span
files of traced runs. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("oneshot", "store_lifecycle")
# A run must end within 180 s; leave room for JVM start and clean-up.
JVM_TIMEOUT_S = 175
# Self-test run length: one untraced and one traced pass. Its runs do two
# passes, so they get more time than a benchmark run.
SELFTEST_SECONDS = 0
SELFTEST_TIMEOUT_S = 900

JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The library's own allocator settings (build.sbt, mallocTuning).
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
    "MALLOC_TOP_PAD_": "67108864",
    "MALLOC_ARENA_MAX": "64",
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(roots[0]):
        die(f"no library sources at {roots[0]}: run from a full checkout")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            die("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not os.path.isdir(jars):
        die(f"no Spark jars at {jars}")
    return jars


def build():
    """Compile library + benchmark with the Scala compiler that ships in
    Spark's jars; skip when the sources are unchanged."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "SOURCES.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    with open(os.path.join(tmp, "SOURCES.sha256"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def driver_mem():
    """Half of RAM, clamped to 2..8 GiB: the tier-1 SPARK_DRIVER_MEM rule."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def run_jvm(classes, args, tag, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main in a fresh JVM; return (exit code, stdout lines)."""
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    mem = driver_mem()
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_ADD_OPENS] +
           [f"-Xms{mem}", f"-Xmx{mem}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}",
            "perfbench.Main", "--work", work] + args)
    env = dict(os.environ, **MALLOC_ENV,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, cwd=work, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
        return 1, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def bench(a):
    classes = build()
    spans = os.path.join(BUILD, "spans", f"{a.workload}-seed{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.trace:
        args += ["--spans-out", spans]
    code, lines = run_jvm(classes, args, a.workload)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        die(f"no result line (exit {code})")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = expected_metrics(a.trace)
    if got != want:
        die(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, "
            f"unit mismatch {sorted(k for k in got if k in want and got[k] != want[k])}")
    print(json.dumps(result))
    return 0 if code == 0 and result["correct"] else 1


def selftest():
    """Run each workload twice at a tiny size and require the counters
    that should repeat exactly to be equal in both runs."""
    classes = build()
    ok = True
    for w in WORKLOADS:
        runs = []
        for i in range(2):
            exact = os.path.join(BUILD, "selftest", f"{w}-{i}.json")
            if os.path.exists(exact):
                os.remove(exact)
            code, _ = run_jvm(classes, ["--workload", w, "--seed", "7", "--scale", "tiny",
                                        "--seconds", str(SELFTEST_SECONDS), "--trace", "1",
                                        "--exact-out", exact], f"selftest-{w}-{i}",
                              SELFTEST_TIMEOUT_S)
            if code != 0 or not os.path.exists(exact):
                print(f"selftest {w}: run {i} failed (exit {code})")
                ok = False
                break
            with open(exact) as fh:
                runs.append(json.load(fh))
        if len(runs) < 2:
            continue
        a, b = runs
        for k in sorted(set(a) | set(b)):
            same = a.get(k) == b.get(k)
            ok &= same
            print(f"selftest {w}: {k} = {a.get(k)}" + ("" if same else f" != {b.get(k)}  MISMATCH"))
        if a.get("untagged_jobs") != "0":
            print(f"selftest {w}: {a.get('untagged_jobs')} Spark jobs carried no span")
            ok = False
    print("selftest: " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        p.error("--workload is required")
    return bench(a)


if __name__ == "__main__":
    sys.exit(main())
