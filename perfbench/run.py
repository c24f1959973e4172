#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver (perfbench/jvm, an sbt build that depends on the root
project) and caches the classpath under perfbench/.build; later runs reuse
it until a source file changes. Each run is a fresh JVM. Inputs come from
gen.py (seeded) and the test tables copied under perfbench/data; scratch
files go to perfbench/.work and are removed afterwards.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end figures; with --trace 1
they are the per-layer figures of a traced run, whose spans and full
layer table are also kept under perfbench/out/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracestats  # noqa: E402

ROOT = os.getcwd()
JVM_DIR = os.path.join(HERE, "jvm")
BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, "out")
DATA_DIR = os.path.join(HERE, "data")
GOLDEN = os.path.join(HERE, "golden", "query_pack_sf0.01.json")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
               "-Dsbt.offline=true -Xmx3g" % os.path.expanduser("~/.sbt/repositories"))

# end-to-end metrics: name -> (unit, how it is taken from the run's samples)
END_TO_END = {
    "setup_s": ("s", lambda r: tracestats.median(r["samples"]["setup_s"])),
    "op_p50_ms": ("ms", lambda r: tracestats.percentile(r["samples"]["op_ms"], 0.5)),
    "op_tail_ms": ("ms", lambda r: tracestats.percentile(r["samples"]["op_ms"], gen.TAIL[r["workload"]])),
    "pass_s": ("s", lambda r: tracestats.median(r["samples"]["pass_s"])),
    "heap_retained_mb": ("MB", lambda r: r["values"]["heap_retained_mb"]),
}
# per-layer metrics every workload reports in a traced run
PER_LAYER = ("calls", "call_ms", "call_job_ms", "call_driver_ms", "jobs_per_call",
             "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
             "spark.ms_per_stage", "spark.input_bytes", "jvm.gc_ms")


def die(msg, code=1):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(JVM_DIR, "build.sbt"), os.path.join(JVM_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def run_child(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group; kill the group on timeout or when
    this script is terminated, and wait for it. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def build():
    """Compile engine + driver once per source state; return the classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath-%s.txt" % stamp[:16])
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                return f.read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", SBT_OFFLINE)
        log_path = os.path.join(BUILD_DIR, "build.log")
        with open(log_path, "w") as log:
            code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], JVM_DIR, env, log, BUILD_TIMEOUT_S)
        with open(log_path) as f:
            lines = f.read().splitlines()
        cps = [l for l in lines if not l.startswith("[") and "classes" in l and os.pathsep in l]
        if code != 0 or not cps:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            die("build failed (%s), see %s" % (code, log_path))
        cp = cps[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        return cp


def run_jvm(cp, args, work, deadline, inputs=None):
    inp = os.path.join(work, "input.json")
    with open(inp, "w") as f:
        json.dump(gen.generate(args.workload, args.seed, args.seconds) if inputs is None else inputs, f)
    out = os.path.join(work, "result.json")
    spans = os.path.join(work, "spans.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx" + JVM_HEAP]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + tmp,
              "-Dderby.system.home=" + os.path.join(work, "derby"),
              "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--input", inp, "--data", DATA_DIR,
              "--work", work, "--trace", str(args.trace), "--out", out, "--spans", spans,
              "--golden", GOLDEN])
    # A run writes only inside its checkout. The engine's default scratch
    # tier for gate queries is /dev/shm, outside it, so gate scratch goes to
    # java.io.tmpdir (under the work directory) instead.
    env = dict(os.environ, SPARK_GRAFT_SHM="0")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        code = run_child(cmd, work, env, log, deadline - time.time())
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die("workload %s failed (%s)" % (args.workload, code))
    with open(out) as f:
        result = json.load(f)
    result["spans_path"] = spans
    result["workload"] = args.workload
    return result


def end_to_end(result):
    return {name: {"value": fn(result), "unit": unit} for name, (unit, fn) in END_TO_END.items()}


def per_layer(args, result):
    spans = tracestats.load_spans(result["spans_path"])
    layers = tracestats.layer_metrics(args.workload, spans, result["values"], result["samples"])
    os.makedirs(OUT_DIR, exist_ok=True)
    base = os.path.join(OUT_DIR, "%s-seed%d" % (args.workload, args.seed))
    shutil.copyfile(result["spans_path"], base + ".spans.jsonl")
    table = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    traced = {}
    for name in END_TO_END:
        try:
            traced[name] = END_TO_END[name][1](result)
        except (KeyError, tracestats.InsufficientSamples):
            pass
    with open(base + ".layers.json", "w") as f:
        json.dump({"layers": table, "summary": tracestats.summarize(spans),
                   "end_to_end_traced": traced}, f, indent=1, sort_keys=True)
    for k in sorted(table):
        print("layer %-34s %16.3f %s" % (k, table[k]["value"], table[k]["unit"]), file=sys.stderr)
    return {k: table[k] for k in PER_LAYER}


def make_golden(cp):
    """Write the goldens: row count and content hash of every query at sf0.01."""
    work = os.path.join(WORK_ROOT, "golden-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = argparse.Namespace(workload="query_golden", seed=0, seconds=0.0, trace=0)
        run_jvm(cp, args, work, time.time() + 3600, inputs={})
        with open(os.path.join(work, "result.json.golden")) as f:
            per_query = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump(per_query, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-golden", action="store_true",
                    help="rewrite golden/query_pack_sf0.01.json from this checkout's engine")
    args = ap.parse_args()
    if not args.make_golden and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no engine sources here: run from the root of a repository checkout", 2)
    cp = build()
    if args.make_golden:
        return make_golden(cp)
    deadline = time.time() + RUN_TIMEOUT_S
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(cp, args, work, deadline)
        for e in result["errors"]:
            print("perfbench: failed op: %s" % e, file=sys.stderr)
        metrics = per_layer(args, result) if args.trace else end_to_end(result)
    except (tracestats.InsufficientSamples, KeyError) as e:
        die("too few samples: %s" % e)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = int(result["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(result["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
