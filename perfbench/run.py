#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run compiles graft's
sources (src/main/scala) together with the harness (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in the Spark
jars; later runs reuse the classes while the sources are unchanged.
Each run works in a fresh temporary directory under .bench_build/tmp
that is deleted when it ends, and leaves its record (environment,
metrics, failures, samples) and, when traced, its spans under
.bench_build/runs. The last line of standard output is the JSON result.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("kv_mixed", "batch_analytics")
E2E = {"setup_s": "s", "read_cpu_ms": "ms", "write_cpu_ms": "ms", "pass_cpu_s": "s",
       "write_amp": "B/B", "peak_rss_mb": "MB"}
RUN_TIMEOUT_S = 170
JVM_FLAGS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of $SPARK_HOME, or of the first Spark distribution whose
    bin/spark-submit is on the PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    die("no Spark jars found: set SPARK_HOME")


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        die("no graft sources at %s: run from the root of a graft checkout" % graft)
    files = []
    for base in (graft, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile graft + harness unless the classes match the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp \
            and os.path.isdir(CLASSES):
        return stamp
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        die("the Spark jars lack scala-compiler/library/reflect")
    os.makedirs(BUILD, exist_ok=True)
    out = tempfile.mkdtemp(prefix="classes.", dir=BUILD)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    t = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
                        "-d", out, "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        die("compilation failed", 3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    print("perfbench: compiled in %.0f s" % (time.time() - t), file=sys.stderr)
    return stamp


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_java(jars, main, args, timeout):
    """Run a harness main in its own process group; kill the group on
    timeout so no Spark thread outlives the run."""
    cp = ":".join([CLASSES] + jars)
    proc = subprocess.Popen(["java"] + JVM_FLAGS + ["-cp", cp, main] + args,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run exceeded %d s" % timeout, 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated run still stops its JVM and removes its temporary dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the input generators and the result checks, then exit")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    t_start = time.time()
    jars = spark_jars()
    stamp = build(jars)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run.", dir=os.path.join(BUILD, "tmp"))
    try:
        if a.selftest:
            rc = run_java(jars, "graftbench.SelfTest", [tmp], RUN_TIMEOUT_S)
            sys.exit(rc)
        name = "%s_s%d_t%d_%d" % (a.workload, a.seed, a.trace, int(time.time() * 1000))
        record_file = os.path.join(runs, name + ".json")
        spans_file = os.path.join(runs, name + ".spans.jsonl")
        budget = RUN_TIMEOUT_S - (time.time() - t_start) if time.time() - t_start < 60 \
            else RUN_TIMEOUT_S
        rc = run_java(jars, "graftbench.Main",
                      [a.workload, str(a.seed), str(a.seconds), str(a.trace), tmp,
                       record_file, spans_file], budget)
        if rc != 0 or not os.path.exists(record_file):
            die("benchmark process failed (exit %d)" % rc, 5)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    with open(record_file) as fh:
        rec = json.load(fh)
    rec["env"]["git_commit"] = git_commit()
    rec["env"]["source_sha256"] = stamp
    rec["env"]["nproc_os"] = os.cpu_count()
    with open(record_file, "w") as fh:
        json.dump(rec, fh)

    env = rec["env"]
    print("env: nproc=%s N=%s spark=%s jvm=%s commit=%s steal_ms=%.0f" % (
        env["nproc"], env["local_n"], env["spark_version"], env["jvm"],
        env["git_commit"] or "n/a (source sha256 %s)" % stamp[:12], env["steal_ms_timed"]))
    print("confs: " + " ".join("%s=%s" % kv for kv in sorted(env["session_confs"].items())))
    s = rec["samples"]
    writes = sum(1 for op in s["ops"] if op[1])
    print("samples: reads=%d writes=%d passes=%d timed_ops=%d" % (
        len(s["ops"]) - writes, writes, len(s["pass_s"]), s["timed_ops"]))
    print("secondary: " + " ".join("%s=%.4f" % kv for kv in sorted(rec["secondary"].items())))
    for f in rec["failures"]:
        print("FAILED %s: %s" % (f["op"], f["error"]))
    print("error_rate: %.4f (%d of %d ops or jobs)" % (rec["error_rate"], rec["failed"], rec["attempted"]))
    if a.trace:
        layers = rec["layers"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
        for k, v in sorted(rec["class_self_ms"].items()):
            parts = sum(x for n, x in v.items() if n not in ("wall", "ops"))
            print("self %-20s wall=%9.2f ms  layers+remainder=%9.2f ms  ops=%d  %s" % (
                k, v["wall"], parts, v["ops"], " ".join(
                    "%s=%.2f" % (n, x) for n, x in sorted(v.items()) if n not in ("wall", "ops"))))
        overhead(rec, runs)
    else:
        metrics = {k: {"value": rec["metrics"][k], "unit": u} for k, u in E2E.items()}
    for k, m in metrics.items():
        print("%-32s %14.4f %s" % (k, m["value"] if m["value"] is not None else float("nan"), m["unit"]))
    missing = [k for k, m in metrics.items() if m["value"] is None]
    if missing:
        die("no value for " + ", ".join(missing), 6)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def layer_unit(k):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if k.endswith(suffix):
            return unit
    return "count"


def overhead(rec, runs):
    """Tracing overhead: this traced run's end-to-end numbers minus the
    newest untraced run of the same workload and seed, if there is one."""
    pat = os.path.join(runs, "%s_s%d_t0_*.json" % (rec["workload"], rec["seed"]))
    base = sorted(glob.glob(pat))
    if not base:
        print("tracing overhead: no untraced run of this workload and seed to compare")
        return
    with open(base[-1]) as fh:
        b = json.load(fh)["metrics"]
    print("tracing overhead (traced - untraced): " + " ".join(
        "%s=%+.2f" % (k, rec["metrics"][k] - b[k]) for k in E2E
        if rec["metrics"].get(k) is not None and b.get(k) is not None))


if __name__ == "__main__":
    main()
