#!/usr/bin/env python3
"""graft's benchmark: one command for every workload.

    python3 perfbench/run.py --workload <etl_curate|iter_train|serve_rw> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the engine (src/main/scala)
and the harness (perfbench/src) with the Scala compiler that ships in
Spark's jars into .bench_build/, runs the workload in one JVM on local[N]
(N = min(4, nproc)), checks every result, and prints one JSON line last on stdout:

    {"correct": true, "attempted": n, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones named in BENCHMARK.json,
with --trace 1 the per-layer ones. A failed query, request or write, or a
result that does not match the oracle, makes the run exit non-zero.
Detail (host stamp, pass lists, percentiles) goes to stderr and to
.bench_build/results/. See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
# a run of a BENCHMARK.json workload must end within 180 s; iter_train,
# run only by hand, takes about 160 s in the JVM on a 4-core host
JVM_TIMEOUT_S = {"iter_train": 600}
JVM_TIMEOUT_DEFAULT_S = 160
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")
# end-to-end figures printed on stderr but not gated (see README.md)
UNGATED_UNITS = {"read_tail_ms": "ms", "failed_ratio": "failed/attempted", "peak_rss_mb": "MB"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    d = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(d):
        die("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            die(f"missing sources: {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile engine + harness once per source hash; return the class dir."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(root, BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(SCALA_JARS)]
    t0 = time.time()
    log(f"compiling {len(srcs)} sources into {os.path.relpath(classes, root)}")
    argfile = os.path.join(root, BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-usejavacp:false", "-nowarn", "-classpath", ":".join(jars), "-d", tmp] + srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(root, BUILD, 'tmp')}",
         "-cp", ":".join(compiler), "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def java_cmd(root, classpath, main, args, heap="2g"):
    tmp = os.path.join(root, BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -Xmx is only a ceiling: the heap grows with use, so peak RSS moves
    # with the program's memory
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.sql.warehouse.dir={os.path.join(root, BUILD, 'warehouse')}"]
            + opens + ["-cp", classpath, main] + args)


def run_jvm(cmd, logpath, env=None, timeout=JVM_TIMEOUT_DEFAULT_S):
    """Run a JVM to completion (killing and reaping it on timeout)."""
    with open(logpath, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def tail(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def host_stamp(root, classpath, cores):
    """nproc, memory and graft.HostCheck's calibration, measured once per checkout."""
    path = os.path.join(root, BUILD, f"hostcheck-c{cores}.json")
    if not os.path.exists(path):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        rc = run_jvm(java_cmd(root, classpath, "graft.HostCheck", [path]),
                     os.path.join(root, BUILD, "hostcheck.log"), env=env)
        if rc != 0:
            log("HostCheck failed; stamping without it")
    try:
        with open(path) as f:
            hc = json.load(f)
    except (OSError, ValueError):
        hc = None
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024, "hostcheck": hc}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    cores = min(4, len(os.sched_getaffinity(0)))

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        die(f"cannot read BENCHMARK.json: {e}")
    for d in ("tmp", "results", "verified", "work"):
        os.makedirs(os.path.join(root, BUILD, d), exist_ok=True)

    jars = spark_jars()
    classes = build(root, jars)
    classpath = classes + ":" + os.path.join(os.path.dirname(jars[0]), "*")
    host = host_stamp(root, classpath, cores)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(root, BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # verified digests hold for one build of one checkout's sources
    vdir = os.path.join(root, BUILD, "verified", os.path.basename(classes))
    os.makedirs(vdir, exist_ok=True)
    verified = os.path.join(vdir, f"{a.workload}-s{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores),
            "--verified", verified]
    logpath = os.path.join(root, BUILD, "results", tag + ".log")
    t0 = time.time()
    rc = run_jvm(java_cmd(root, classpath, "graft.perfbench.Main", args), logpath,
                 timeout=JVM_TIMEOUT_S.get(a.workload, JVM_TIMEOUT_DEFAULT_S))
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(tail(logpath))
        die(f"benchmark JVM exited with {rc}", 1)
    with open(res_path) as f:
        res = json.load(f)
    log(f"JVM done in {time.time() - t0:.1f} s")

    failed = int(res["failed"])
    errors = list(res["errors"])
    oracle = res["oracle"]
    if oracle["kind"] == "duckdb" and oracle["needed"] and failed == 0:
        import oracle as duck  # noqa: E402  (perfbench/oracle.py)
        bad = duck.check(oracle["input_dir"], oracle["results_dir"], oracle["sql"],
                         os.path.join(root, BUILD, "tmp"))
        failed += len(bad)
        errors += bad
    if oracle["needed"] and failed == 0:
        with open(verified, "w") as f:
            json.dump(oracle["digests"], f, indent=1, sort_keys=True)

    section = "per_layer" if a.trace else "end_to_end"
    values = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in bench[section]:
        v = values.get(m["name"])
        if v is None and a.trace:
            v = 0.0  # the layer is not on this workload's path
        if v is None:
            failed += 1
            errors.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0

    detail = {"host": host, "result": res, "errors": errors}
    with open(os.path.join(root, BUILD, "results", tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    log(f"host {json.dumps(host)}")
    if not a.trace:
        e2e = dict(res["e2e"])
        e2e["read_tail_ms"] = res["detail"].get("read_tail_ms")
        e2e["peak_rss_mb"] = res["detail"].get("peak_rss_mb")
        e2e["failed_ratio"] = failed / max(1, int(res["attempted"]))
        units = dict(UNGATED_UNITS, **{m["name"]: m["unit"] for m in bench["end_to_end"]})
        for k, v in sorted(e2e.items()):
            log(f"{k} = {v} {units.get(k, '')}")
    for k, v in sorted(res["detail"].items()):
        log(f"{k}: {json.dumps(v)[:300]}")
    for e in errors:
        log(f"FAILED {e}")
    if os.path.exists(os.path.join(work, "spans.json")):
        os.replace(os.path.join(work, "spans.json"),
                   os.path.join(root, BUILD, "results", tag + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
