#!/usr/bin/env python3
"""Benchmark of the graft engine on three workloads.

    python3 perfbench/run.py --workload {fan_etl,ops_mix,stream_replay} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into ``.bench_build/``; later runs reuse the
build while the sources are unchanged. Each run:

1. generates its inputs from ``--seed`` (``perfbench/gen.py``);
2. starts one JVM with ``local[N]``, N = the number of cores, and drives
   the engine's public entry points in a closed loop, one operation in
   flight: two warm-up passes (set-up), then whole passes for
   ``--seconds``; with ``--trace 1`` also a traced section and one more
   untraced one;
3. checks the outputs: the pipeline's shard against the generator's
   counts, the outputs of the second warm-up call of each query and replay
   against the DuckDB oracle of ``tools/compare_oracle.py``;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   metrics (end-to-end ones untraced, per-layer ones traced).

It exits 1 when an output is wrong and 2 when it cannot run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(BUILD, "run")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

sys.path.insert(0, BENCH)
import gen  # noqa: E402
import layers  # noqa: E402


def read(path):
    with open(path) as f:
        return f.read()


SPEC = json.loads(read(os.path.join(BENCH, "spec.json")))
CONTRACT = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))

# The JVM flags build.sbt gives forked runs (Spark 4 on JDK 17).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_PROPS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.sql.legacy.parquet.nanosAsLong=true"]


def java(cp, heap, work, args):
    """The command line of one harness JVM (``graft.perfbench.Main``)."""
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", *ADD_OPENS, *JVM_PROPS,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "graft.perfbench.Main",
            "--cores", str(cores()), "--work", work, *args]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run ``cmd`` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and read(stamp) == digest:
        return read(cp_file)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx1g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT)
    lines = read(log_path).splitlines()
    cp = next((l for l in reversed(lines) if "classes" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (rc={rc}), see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def cores():
    return len(os.sched_getaffinity(0))


def workload_ops(w):
    mods = SPEC["workloads"][w].get("ops", {})
    return {op: mod for mod, ops in mods.items() for op in ops}


def check_board(tables, ops):
    """Names of queries whose warm-up output fails the oracle compare."""
    out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                          tables, os.path.join(WORK, "verify")],
                         capture_output=True, text=True, timeout=120, cwd=ROOT)
    verdicts = {}
    for line in out.stdout.splitlines():
        parts = line.split(None, 2)
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            verdicts[parts[1]] = (parts[0], line)
    bad = {op for op in ops if verdicts.get(op, ("FAIL",))[0] != "PASS"}
    for op in sorted(bad):
        print(f"perfbench: output check failed: {verdicts.get(op, (None, op + ' not compared'))[1]}",
              file=sys.stderr)
    return bad


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (the benchmark's own tests)")
    ap.add_argument("--corrupt", metavar="OP:CALL[,...]",
                    help="empty the result of these calls (the benchmark's own tests)")
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found next to perfbench/; run from a repository checkout")
    w = a.workload

    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "warehouse", "spark-local", "verify", "fan_out"):
        os.makedirs(os.path.join(WORK, d))

    t_gen = time.time()
    tables = os.path.join(WORK, "data", "tables")
    fan = None
    size = (lambda k: SPEC["tiny_" + k]) if a.tiny else (lambda k: SPEC[k])
    if w == "fan_etl":
        fan = gen.gen_fan(a.seed, size("fan_rows"), os.path.join(WORK, "data", "fan"))
    if w != "fan_etl" or a.trace:  # fan_etl reads the tables only for the calibration probe
        gen.gen_tables(a.seed, size("sf"), tables)
    gen_s = time.time() - t_gen

    ops = workload_ops(w)
    result_path = os.path.join(WORK, "result.json")
    cmd = java(cp, SPEC["heap"], WORK, [
        "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--tables", tables, "--out", result_path,
        "--ops", ",".join(ops) or "-"] + (["--fan-glob", fan["glob"], "--fan-csv", fan["csv"]]
                                          if fan else []) + (["--corrupt", a.corrupt] if a.corrupt else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    t_launch = time.time()
    log_path = os.path.join(WORK, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = run_group(cmd, RUN_LIMIT_S - gen_s, cwd=WORK, env=env, stdout=log,
                           stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_LIMIT_S} s, see {log_path}")
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write("\n".join(read(log_path).splitlines()[-40:]) + "\n")
        fail(f"benchmark JVM exited with {rc}, see {log_path}")
    r = json.loads(read(result_path))

    runs = r["ops"]
    failed = sum(1 for o in runs if not o["ok"])
    for op, msg in r["failures"].items():
        print(f"perfbench: {op} failed: {msg}", file=sys.stderr)
    if fan:
        problems = gen.check_fan_shard(os.path.join(WORK, "fan_out"), "result", fan["expected"])
        for p in problems:
            print(f"perfbench: fan_etl output: {p}", file=sys.stderr)
        failed += bool(problems)
    else:
        warm_failed = {o["op"] for o in runs if o["section"] == "warmup" and not o["ok"]}
        failed += len(check_board(tables, ops) - warm_failed)

    if a.trace:
        values = layers.layer_metrics(r, ops)
        report = os.path.join(WORK, "layers.json")
        with open(report, "w") as f:
            json.dump(values, f, indent=1, sort_keys=True)
        print(f"perfbench: all per-layer figures in {report}", file=sys.stderr)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in CONTRACT["per_layer"]}
    else:
        timed = [o["s"] for o in runs if o["section"] == "timed"]
        values = {
            "setup_s": gen_s + r["warmup_end_us"] / 1e6 - t_launch,
            "wall_s": statistics.median(p["s"] for p in r["passes"] if p["section"] == "timed"),
            "op_gmean_s": math.exp(statistics.fmean(math.log(s) for s in timed)),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in CONTRACT["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
