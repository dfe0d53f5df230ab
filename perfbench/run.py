#!/usr/bin/env python3
"""graft end-to-end pipeline benchmark.

    python3 perfbench/run.py --workload curate|analytics|stream_window|all \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft's
src/main and the benchmark's own perfbench/src with the Scala compiler that
ships in Spark's jars directory ($SPARK_HOME/jars, else that of the Spark
install whose spark-submit is on PATH)
into .bench_build/; later runs reuse that build while the sources are
unchanged. Inputs are generated from --seed by perfbench/gen.py into
.bench_work/. Every execution's output is checked.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. A readable report of every metric (and
why a per-layer metric is absent on a workload) goes to stderr.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
RUN_LIMIT_S = 170
HEAP = "3g"
YOUNG = "512m"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.dont_write_bytecode = True  # leave nothing behind under perfbench/
sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(srcs, out_dir, classpath):
    os.makedirs(out_dir, exist_ok=True)
    argfile = out_dir + ".srcs"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", out_dir, "-classpath", classpath, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        fail("compilation failed: " + " ".join(cmd[:6]))


def build():
    """Compile graft + the benchmark once per source state; returns the classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(graft_src) or not sources(graft_src):
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found at '%s' (set SPARK_HOME)" % SPARK_JARS)
    h = hashlib.sha256()
    for p in sources(graft_src, bench_src):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    tag = h.hexdigest()[:16]
    out = os.path.join(BUILD, tag)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "ok")):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            log("building graft + perfbench into " + os.path.relpath(out, ROOT))
            scalac(sources(graft_src), os.path.join(out, "graft"), SPARK_JARS + "/*")
            scalac(sources(bench_src), os.path.join(out, "bench"),
                   os.path.join(out, "graft") + ":" + SPARK_JARS + "/*")
            open(os.path.join(out, "ok"), "w").close()
            log("build took %.1f s" % (time.time() - t0))
    return ":".join([os.path.join(out, "bench"), os.path.join(out, "graft"), SPARK_JARS + "/*"])


def generate(name, cfg, seed, data):
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    t0 = time.time()
    g = cfg["gen"]
    # batch workloads also get a tenth-size copy to warm the JVM up on
    warm = os.path.join(data, "warm")
    if name == "curate":
        rows = gen.gen_curate(seed, data, n_docs=g["docs"])
        gen.gen_curate(seed, warm, n_docs=g["docs"] // 10)
    elif name == "analytics":
        rows = gen.gen_analytics(seed, data, sf=g["sf"])
        gen.gen_analytics(seed, warm, sf=g["sf"] / 10)
    else:
        # StreamBench moves in the files its schedule needs, and fails if
        # there are too few for --seconds
        rows = gen.gen_stream(seed, data, g["files"], g["rows_per_file"])
    log("generated %s inputs for seed %d in %.1f s (%d rows)" % (name, seed, time.time() - t0, rows))
    return rows


def run_workload(name, args, bench, cfg, classpath, deadline):
    work = os.path.join(WORK, name)
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)
    rows = generate(name, cfg, args.seed, data)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    jvm = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           # a fixed heap size, so G1 never resizes it mid-run, but not
           # pre-touched, so VmHWM counts only the pages the run touched; a
           # fixed young gen, so adaptive young sizing does not sweep the
           # whole heap: peak RSS is then the young gen plus the old-gen
           # regions the run retained plus what it holds off-heap
           ["-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-Dfile.encoding=UTF-8",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main"])
    pinned = cfg.get("pinned_sha256", {}).get(str(args.seed), "")
    jargs = ["--workload", name, "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--data", data, "--work", os.path.join(work, "run"),
             "--out", out, "--input-rows", str(rows)]
    if pinned:
        jargs += ["--pinned", pinned]
    proc = subprocess.Popen(jvm + jargs, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("%s did not finish within the run's time limit" % name)
    if rc != 0 or not os.path.exists(out):
        fail("%s: benchmark JVM exited with code %d" % (name, rc))
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    want = bench["end_to_end"] if args.trace == 0 else bench["per_layer"]
    absent = cfg.get("absent", {})
    metrics = {}
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            why = next((v for k, v in absent.items() if m["name"].startswith(k)), None)
            if why is None:
                fail("%s did not report %s" % (name, m["name"]))
            res["notes"][m["name"]] = "absent (0): " + why
            got = {"value": 0, "unit": m["unit"]}
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    report(name, res, metrics)
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def report(name, res, metrics):
    log("%s: correct=%s attempted=%d failed=%d fail_ratio=%.4f" % (
        name, res["correct"], res["attempted"], res["failed"],
        res["failed"] / max(1, res["attempted"])))
    for k, v in res["metrics"].items():
        if k not in metrics:
            log("  %-40s %16.6g %s   (extra)" % (k, v["value"] or 0, v["unit"]))
    for k, v in metrics.items():
        log("  %-40s %16.6g %s%s" % (k, v["value"], v["unit"],
                                     ("   " + res["notes"][k]) if k in res["notes"] else ""))
    for k, v in res["notes"].items():
        if k not in metrics:
            log("  note %s: %s" % (k, v))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    bpath = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bpath):
        fail("BENCHMARK.json not found: run from the root of a graft checkout")
    with open(bpath) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    names = list(workloads) if args.workload == "all" else [args.workload]
    for n in names:
        if n not in workloads:
            fail("unknown workload %s (one of %s, all)" % (n, ", ".join(workloads)))
    classpath = build()
    results = []
    for n in names:
        # the run limit covers data generation and the JVM, not the one-off build
        results.append(run_workload(n, args, bench, workloads[n], classpath,
                                    time.time() + RUN_LIMIT_S))
    if len(results) == 1:
        out = results[0]
    else:
        out = {"correct": all(r["correct"] for r in results),
               "attempted": sum(r["attempted"] for r in results),
               "failed": sum(r["failed"] for r in results),
               "metrics": {"%s.%s" % (n, k): v for n, r in zip(names, results)
                           for k, v in r["metrics"].items()}}
    log("total %.1f s" % (time.time() - start))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
