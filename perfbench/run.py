#!/usr/bin/env python3
"""graft perfbench: build graft from source, run one workload, print one
JSON result line.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 the per_layer
metrics. The full result (quartiles, per-key times, failures by name) is
written to .bench_build/perfbench/results/, one file per configuration
(workload, seed, cores, trace) and run. See perfbench/README.md.

Other modes:
    --workload all    every workload, one table of metrics by name and unit
    --selftest        run the harness's own tests
    --build-only      build and exit
    --expected-from DIR  rewrite expected/fingerprints.tsv from a graft.Verify
                         output directory that tools/validate.py passed
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
import time

T_START = time.monotonic()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(BENCH_DIR, "harness")
DATA = os.path.join(BENCH_DIR, "data")
EXPECTED = os.path.join(BENCH_DIR, "expected", "fingerprints.tsv")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 175.0       # one run, build excluded
BUILD_LIMIT_S = 700.0
WORKLOADS = ("marts", "curation", "vectors", "refresh")

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# spark-submit injects, as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one next to spark-submit on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        jars = os.path.join(h, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a scala-compiler jar found "
         "(set SPARK_HOME)")


def sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_key(main_srcs, harness_srcs, jars):
    h = hashlib.sha256()
    for p in main_srcs + harness_srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, srcs, deadline):
    compiler = [glob.glob(os.path.join(jars, "scala-%s-*.jar" % n))[0]
                for n in ("compiler", "library", "reflect")]
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath,
           "@" + argfile]
    code, _ = run_child(cmd, ROOT, None, deadline, out + ".log")
    if code != 0:
        with open(out + ".log") as f:
            sys.stderr.write(f.read()[-4000:])
        fail("compile failed (%s)" % os.path.basename(out))


def build(jars):
    if not os.path.isdir(SRC) or not sources(SRC):
        fail("no graft sources under src/main/scala: run from the "
             "repository root")
    main_srcs, harness_srcs = sources(SRC), sources(HARNESS)
    key = build_key(main_srcs, harness_srcs, jars)
    home = os.path.join(BUILD, "build-" + key)
    if os.path.exists(os.path.join(home, "ok")):
        return home
    if os.path.isdir(BUILD):
        for old in glob.glob(os.path.join(BUILD, "build-*")):
            shutil.rmtree(old, ignore_errors=True)
    deadline = time.monotonic() + BUILD_LIMIT_S
    t0 = time.monotonic()
    main_out = os.path.join(home, "main")
    scalac(jars, os.path.join(jars, "*"), main_out, main_srcs, deadline)
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, main_out, dirs_exist_ok=True)
    scalac(jars, os.pathsep.join([main_out, os.path.join(jars, "*")]),
           os.path.join(home, "harness"), harness_srcs, deadline)
    open(os.path.join(home, "ok"), "w").close()
    print("perfbench: built graft + harness in %.1fs" % (time.monotonic() - t0),
          file=sys.stderr)
    return home


def run_child(cmd, cwd, env, deadline, log):
    """Run cmd in its own process group; on timeout kill the whole group.
    Always waits for the child to end."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic())), False
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9, True
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def java_cmd(home, jars, work, main, args):
    opens = sum([["--add-opens", p + "=ALL-UNNAMED"] for p in ADD_OPENS], [])
    cp = os.pathsep.join([os.path.join(home, "harness"),
                          os.path.join(home, "main"),
                          os.path.join(jars, "*")])
    # a fixed-size heap, so GC sizing does not differ between runs
    return (["java", "-Xms3g", "-Xmx3g", "-Xss8m"] +
            opens +
            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-cp", cp, main] + args)


def child_env(work):
    env = dict(os.environ)
    env["GRAFT_MODEL_DIR"] = os.path.join(work, "models")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def selftest(home, jars):
    work = os.path.join(BUILD, "work", "selftest-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "selftest.log")
    code, timed_out = run_child(
        java_cmd(home, jars, work, "graftbench.SelfTest", [work]), work,
        child_env(work), time.monotonic() + RUN_LIMIT_S, log)
    with open(log) as f:
        lines = [l for l in f.read().splitlines() if l.startswith("[selftest]")]
    print("\n".join(lines))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if code == 0 and not timed_out else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",),
                    help="one workload, or all of them with a summary table")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument("--expected-from", metavar="VERIFY_OUT",
                    help="rewrite the expected fingerprints from a graft.Verify "
                    "output directory that tools/validate.py passed")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.build_only or a.expected_from):
        ap.error("--workload is required")

    jars = spark_jars()
    if not os.path.isdir(DATA):
        fail("no input data under %s" % DATA)
    home = build(jars)
    if a.build_only:
        return
    if a.selftest:
        selftest(home, jars)
    if a.expected_from:
        work = os.path.join(BUILD, "work", "expected-%d" % os.getpid())
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        code, _ = run_child(
            java_cmd(home, jars, work, "graftbench.Fingerprint",
                     [os.path.abspath(a.expected_from), EXPECTED]),
            work, child_env(work), time.monotonic() + RUN_LIMIT_S,
            os.path.join(work, "jvm.log"))
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)

    if a.workload == "all":
        summary(a, home, jars)
        return
    try:
        result = run_workload(a, a.workload, home, jars)
    except RuntimeError as e:
        fail(str(e), 1)
    section = result["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for name in declared_metrics(a.trace):
        if name not in section:
            fail("harness did not report metric %s" % name, 1)
        metrics[name] = section[name]
    for f in result["failures"]:
        print("FAILED %s: %s" % (f["op"], f["error"]))
    for name, m in result["end_to_end"].items():
        print("%-16s %14.6f %s" % (name, m["value"], m["unit"]))
    print("result file: %s" % result["result_file"])
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


def cpu_times():
    """(steal, total) jiffies of the whole machine, where /proc/stat exists."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_workload(a, workload, home, jars):
    """One harness process for one workload; returns its result, which is
    also written to a result file named after the configuration."""
    t0 = time.monotonic()
    n = cores()
    config = "%s_seed%d_c%d_trace%d" % (workload, a.seed, n, a.trace)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    work = os.path.join(BUILD, "work", "%s_%d" % (config, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "models", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, "%s_%s_%d" % (config, stamp, os.getpid()))
    args = ["--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--work", work, "--out", out,
            "--cores", str(n), "--expected", EXPECTED]
    if a.trace:
        args += ["--spans-out", base + ".spans.json"]
    deadline = time.monotonic() + RUN_LIMIT_S
    steal0, total0 = cpu_times()
    args += ["--launched-epoch-ns", str(time.time_ns())]
    code, timed_out = run_child(
        java_cmd(home, jars, work, "graftbench.Main", args), work,
        child_env(work), deadline, os.path.join(work, "jvm.log"))
    shutil.copy(os.path.join(work, "jvm.log"), base + ".log")
    if code != 0 or not os.path.exists(out):
        with open(base + ".log") as f:
            sys.stderr.write(f.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        raise RuntimeError("harness %s (exit %d); log in %s" % (
            "timed out" if timed_out else "failed", code, base + ".log"))
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    result["wall_s"] = time.monotonic() - t0
    steal1, total1 = cpu_times()
    # CPU time the hypervisor gave to other guests: a noisy-neighbour sign
    result["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    result["result_file"] = os.path.relpath(base + ".json", ROOT)
    with open(base + ".json", "w") as f:
        json.dump(result, f, indent=1)
    return result


def summary(a, home, jars):
    """Every workload once: each end-to-end metric (and with --trace 1
    each per-layer metric) by name with its unit, plus the output check."""
    for w in WORKLOADS:
        try:
            r = run_workload(a, w, home, jars)
        except RuntimeError as e:
            print("%-9s RUN FAILED: %s" % (w, e))
            continue
        print("%-9s correct=%s attempted=%d failed=%d  (%s)" % (
            w, r["correct"], r["attempted"], r["failed"], r["result_file"]))
        for f in r["failures"]:
            print("%-9s FAILED %s: %s" % (w, f["op"], f["error"]))
        for section in ("end_to_end", "per_layer") if a.trace else ("end_to_end",):
            for name, m in r[section].items():
                print("%-9s %-34s %16.6f %s" % (w, name, m["value"], m["unit"]))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
