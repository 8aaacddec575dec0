#!/usr/bin/env python3
"""CDC drain benchmark: drives CdcPipeline.start / startWire end to end.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program once per checkout (cdcbench/build.sh, outside every timed
region), generates the workload's inputs from the seed, runs one JVM
(CdcDrainBench) with local[N] (N = min(4, usable cores)) and a heap sized
from /proc/meminfo, checks the outputs (checks.py) and prints one JSON
object as the last line of standard output. Every run does the same fixed
work (gen.WORKLOADS), sized so the measured phase lasts well over the
`--seconds` of the benchmark's configuration on a 4-core machine; a run
that ends sooner says so on standard error. Every file a run makes lives in
cdcbench/.scratch/run-*/, which is deleted when the run ends; the JVM runs
in its own process group and is killed if the launcher is interrupted.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402

END_TO_END = {
    "setup_s": "s", "drain_eps": "events/s", "batch_p50_ms": "ms",
    "restart_catchup_s": "s", "out_bytes_per_msg": "bytes", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "engine.latest_offset_ms_p50": "ms", "engine.planning_ms_p50": "ms",
    "engine.wal_commit_ms_p50": "ms", "engine.commit_ms_p50": "ms",
    "engine.query_start_ms": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count", "streaming.tasks_per_batch": "count",
    "streaming.shuffle_write_bytes_per_batch": "bytes",
    "streaming.out_files_per_batch": "count", "streaming.state_json_bytes": "bytes",
    "streaming.load_state_ms": "ms",
    "wire.jobs_per_ddl_batch": "count", "wire.jobs_per_plain_batch": "count",
    "wire.parse_eps": "records/s",
    "cdc.chain_eps": "events/s", "cdc.cpu_ms_per_kevent": "ms",
    "catalog.apply_ddl_us_p50": "us", "catalog.snapshot_ms": "ms",
    "catalog.snapshot_bytes": "bytes", "catalog.restore_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.heap_used_peak_mb": "MB",
}
RUN_LIMIT_S = 165  # the JVM is killed past this many seconds after the build

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[cdcbench] %s" % msg, file=sys.stderr, flush=True)


def heap_mb():
    """A fifth of physical memory, 1 to 3 GB: the drains need well under a
    gigabyte of live heap, and a heap that can outgrow RAM on a shared
    machine without swap is how a run gets killed."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return 1024 * max(1, min(3, total_kb // (5 * 1024 * 1024)))


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def spark_home():
    """$SPARK_HOME, else the first Spark installation on PATH whose jars
    include the Scala compiler (a pip-installed spark-submit may come first)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((h for h in homes
                 if h and glob.glob(os.path.join(h, "jars", "scala-compiler-*.jar"))), "")


def java_cmd(run_dir, work, args, t0):
    jars = os.path.join(spark_home(), "jars")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    heap = heap_mb()
    return (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in JAVA_OPENS] + [
        # a fixed heap and young generation: with adaptive sizing, when the
        # heap grows and how much of it is touched varied from run to run,
        # and so did batch times and peak RSS
        "-Xms%dm" % heap, "-Xmx%dm" % heap, "-Xmn%dm" % (heap // 5),
        "-XX:-UsePerfData",  # no perf-data file outside the run directory
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-cp", os.path.join(HERE, ".build", "classes") + ":" + os.path.join(jars, "*"),
        "cdcbench.CdcDrainBench",
        "--work", work, "--cpus", str(cores()), "--trace", str(args.trace),
        "--t0-ms", str(int(t0 * 1000)),
    ])


def run(args):
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "streaming",
                                       "CdcPipeline.scala")):
        log("no program sources next to the benchmark (expected src/main/scala)")
        return 2
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh")], stdout=sys.stderr,
                           env=dict(os.environ, SPARK_HOME=spark_home()))
    if build.returncode != 0:
        log("build failed")
        return 1
    t0 = time.time()  # set-up is timed from here: after the build
    scratch = os.path.join(HERE, ".scratch")
    os.makedirs(scratch, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=scratch)
    proc = None
    try:
        work = os.path.join(run_dir, "work")
        plan = gen.generate(args.workload, args.seed, work)
        inputs_s = time.time() - t0
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as out:
            proc = subprocess.Popen(java_cmd(run_dir, work, args, t0), stdout=out,
                                    stderr=subprocess.STDOUT, cwd=run_dir,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(1.0, t0 + RUN_LIMIT_S - time.time()))
            except subprocess.TimeoutExpired:
                rc = None
        with open(jvm_log) as f:
            lines = f.readlines()
        sys.stderr.write("".join(l for l in lines if l.startswith("[cdcbench]")))
        if rc != 0:
            sys.stderr.write("".join(lines[-40:]))
            log("the JVM %s" % ("timed out" if rc is None else "exited with %d" % rc))
            return 1
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        con = duckdb.connect()
        con.execute("SET temp_directory = '%s'" % os.path.join(run_dir, "tmp"))
        check = checks.check_replay if plan["kind"] == "replay" else checks.check_wire
        failures = check(con, work, plan, res)
        n_msgs = con.execute("SELECT count(*) FROM act").fetchone()[0]
        con.close()
        for f in failures:
            log("CHECK FAILED: " + f)
        out_bytes, out_files, out_batches = checks.output_stats(os.path.join(work, "main", "out"))

        e2e = dict(res["e2e"], out_bytes_per_msg=out_bytes / max(1, n_msgs))
        layers = dict(res["layers"], **{
            "setup.inputs_s": inputs_s,
            "streaming.out_files_per_batch": out_files / max(1, out_batches)})
        if res["measured_s"] < args.seconds:
            log("the fixed work took %.1f s, less than --seconds %d"
                % (res["measured_s"], args.seconds))
        names = PER_LAYER if args.trace else END_TO_END
        if args.trace:
            log("traced run, end-to-end figures: %s" % json.dumps(e2e))
        log("%d drain batches, %d restart cycles, %.1f s measured, %d messages checked"
            % (len(res["drain_batches"]), res["cycles"], res["measured_s"], n_msgs))
        metrics = {k: {"value": (e2e if not args.trace else layers)[k], "unit": u}
                   for k, u in names.items()}
        print(json.dumps({
            "correct": not failures,
            "attempted": len(res["drain_batches"]) + res["cycles"],
            "failed": 0,
            "metrics": metrics,
        }))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into an exception so the JVM is killed and the run
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(run(args))


if __name__ == "__main__":
    main()
