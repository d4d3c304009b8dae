#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_trickle|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the benchmark harness with sbt (`perfbench/build.sbt`) and generates the
input tables (`perfbench/gendata.py`); both are cached under
`.bench_build/` and rebuilt when their sources change. Each run then
starts one JVM (`perfbench.Main`) under a fresh scratch root in
`.bench_build/runs/`, reads its run record, checks outputs, and prints
a record line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (`perfbench/metrics.py`). The scratch root is deleted at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("backfill_trickle", "query_mix")
# Spark task threads (local[N]) of each workload. A pipeline trigger is
# bound by its driver thread and runs a few small tasks per job, so one
# task thread leaves the other cores to the JIT compiler threads.
CPUS = {"backfill_trickle": 1,
        "query_mix": min(4, os.cpu_count() or 1)}
HEAP = "3g"
# JIT settings for a short run: more compiler threads than the default
# (3 on 4 cores), so the driver code is compiled sooner, and a code
# cache large enough that compiled code is never flushed and compiled
# again.
JIT = ["-XX:CICompilerCount=6", "-XX:ReservedCodeCacheSize=512m",
       "-XX:-UseCodeCacheFlushing"]
# (name, gendata.generate arguments) of each workload's tables. The
# pipeline source ships on 75 days with 240 trips each, the reference
# fixtures' per-day volume at sf0.1; its first 45 days, the backfill,
# carry 1,500 more each. query_mix reads sf0.01-sized tables.
DATA = {"backfill_trickle": ("pipeline", dict(sf=0.003, ship_days=75,
                                              dense_days=45, dense_rows=1500)),
        "query_mix": ("mix", dict(sf=0.01))}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when sources changed; returns the classpath."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = digest(sources)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building with sbt")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Xmx2g -Dsbt.offline=true -Dsbt.server.autostart=false "
                        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tables(workload):
    """Generate (once) the workload's input tables; returns their dir."""
    name, args = DATA[workload]
    out = os.path.join(BUILD, "data", name)
    stamp = f"{digest([os.path.join(HERE, 'gendata.py')])} {sorted(args.items())}"
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    log(f"generating {name} tables")
    shutil.rmtree(out, ignore_errors=True)
    import gendata
    gendata.generate(out, **args)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def run_jvm(cp, args, work, timeout_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xmx{HEAP}", *JIT, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        code = "interrupted"
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:  # timed out, or this run was stopped
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed: {code}")


def oracle_failures(rec, data):
    """Entries whose dumped output the repo's oracle checker
    (`tools/oracle_check.py`) rejects, or which, without an oracle SQL,
    came back empty."""
    out = rec["check_dir"]
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump(rec["oracle_sql"], f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), data, out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    return metrics.oracle_rejections(p.stdout, rec["pack_of"])


def main():
    # a stopped run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("library sources (src/main/scala/graft) not found")
    cp = build()
    data = tables(a.workload)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        rec_path = os.path.join(work, "record.json")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data, "--work", work, "--out", rec_path,
                     "--cpus", str(CPUS[a.workload])], work, timeout_s=150 + 2 * a.seconds)
        with open(rec_path) as f:
            rec = json.load(f)
        bad = oracle_failures(rec, data) if a.workload == "query_mix" else {}
        attempted, failed = metrics.outcome(rec, bad)
        if a.trace:
            values = metrics.per_layer(rec)
            units = metrics.per_layer_units()
            extra = {}
        else:
            values, extra = metrics.end_to_end(rec)
            units = metrics.END_TO_END
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "host": rec["host"], "timed_part": rec["timed_part"],
            "setup_s": rec["setup_s"], "uptime_s": rec.get("uptime_s"),
            "failed_frac": metrics.failed_frac(attempted, failed),
            "failures": [o["detail"] for o in rec["ops"] if not o["ok"]] +
                        [c["name"] + ": " + c["detail"] for c in rec["checks"] if not c["ok"]] +
                        [f"{k}: {v}" for k, v in bad.items()],
            "wall_s": time.time() - t0, **extra}
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
