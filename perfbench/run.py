#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the engine and the harness from source on first use (into
.bench_build/), generates the workload's inputs from the seed, runs the
workload in a fresh JVM at local[4], checks every output, and prints each
metric by name and unit. The last stdout line is the JSON result; with
--trace 0 it carries the end-to-end metrics, with --trace 1 the per-layer
ones. The full record (host, every metric, the correctness verdicts) goes
to a bare JSON file under .bench_build/results/, and a traced run also
writes its spans there.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Input sizes. The batch workload is sized so that the laps of its query
# list fit the run; the stream's offered rate sits well below the drain
# capacity measured on a 4-core host, so its backlog does not grow.
BATCH_SF, DOCS, VECS = 0.01, 120, 500
TINY_SF, TINY_DOCS, TINY_VECS = 0.001, 60, 60
DRAIN_CHUNKS, CHUNK_ROWS = 8, 4000
OPEN_RATE = 1000
P1_THRESHOLD = 0.8


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    roots = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness")]
    out = []
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out.extend(os.path.join(d, f) for f in files)
    out.append(os.path.join(HERE, "harness", "project", "build.properties"))
    return sorted(out)


def build(root, work):
    """Compile the engine and the harness once per source state; returns the
    class directory."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(work, "build.stamp")
    classes = os.path.join(work, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    if r.returncode != 0:
        die(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def heap_gb():
    """A quarter of host memory, between 2 and 4 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(4, kb // (4 * 1024 * 1024)))


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def prepare(workload, seed, seconds, run_dir):
    """Generate the inputs; returns the JVM's workload arguments and the
    directory of the generated tables (None for the stream)."""
    if workload == "batch":
        data, tiny = os.path.join(run_dir, "data"), os.path.join(run_dir, "tiny")
        gen.tables(data, seed, BATCH_SF, DOCS, VECS)
        gen.tables(tiny, seed + 1, TINY_SF, TINY_DOCS, TINY_VECS)
        return [f"data={data}", f"tiny={tiny}", f"seed={seed}"], data
    streams = os.path.join(run_dir, "stream-input")
    gen.stream(streams, seed, DRAIN_CHUNKS, CHUNK_ROWS, OPEN_RATE, seconds)
    return [f"stream={streams}"], None


def spark_jars(root):
    """SPARK_HOME/jars, else the jars directory the engine's build names."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def run_jvm(classes, jars, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", f"{classes}:{jars}/*", "graftbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload did not finish within {JVM_TIMEOUT_S} s, see {run_dir}/jvm.log")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(os.path.join(run_dir, "jvm_result.json")):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        die(f"workload JVM exited with {code}:\n{tail}")
    with open(os.path.join(run_dir, "jvm_result.json")) as f:
        return json.load(f)


def main():
    # a terminated benchmark still stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch", "sensor_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    classes = build(root, work)

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    run_dir = os.path.join(work, "runs", run_id)
    os.makedirs(run_dir)
    try:
        host0 = (os.getloadavg()[0], cpu_times())
        clock = [time.monotonic()]
        args, data = prepare(a.workload, a.seed, a.seconds, run_dir)
        clock.append(time.monotonic())
        jvm = run_jvm(classes, spark_jars(root), [f"workload={a.workload}", f"seconds={a.seconds}",
                                f"trace={a.trace}", f"cores={CORES}", f"out={run_dir}"] + args,
                      run_dir)
        clock.append(time.monotonic())
        total1, steal1 = cpu_times()
        host = {
            "configured_cores": CORES, "nproc": len(os.sched_getaffinity(0)),
            "heap_max_mb": jvm["max_heap_mb"], "java_version": jvm["java_version"],
            "loadavg_start": host0[0], "loadavg_end": os.getloadavg()[0],
            "steal_share": (steal1 - host0[1][1]) / max(1, total1 - host0[1][0]),
            "calibration_s": jvm["calibration_s"]}
        rec = jvm["workload_record"]
        if a.workload == "sensor_stream":
            layers.add_schedule(rec, os.path.join(run_dir, "stream-input", "open.csv"))
            problems, facts = check.stream(run_dir, os.path.join(run_dir, "stream-input"),
                                           rec, P1_THRESHOLD)
            verdicts = {"W1+P1": "; ".join(problems) or None}
            attempted, failed = layers.stream_ops(rec, problems)
        else:
            verdicts = check.queries(data, os.path.join(run_dir, "results"),
                                     rec["oracle"], rec["ops"])
            facts = {}
            attempted = len(rec["ops"])
            bad = {n for n, v in verdicts.items() if v}
            failed = sum(1 for o in rec["ops"] if o["error"] or o["name"] in bad)
        clock.append(time.monotonic())
        report = layers.end_to_end(a.workload, jvm)
        report["failed_frac"] = (failed / attempted, "ratio")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "host": host, "end_to_end": report,
                  "verdicts": verdicts, "facts": facts,
                  "phases_s": dict(zip(("generate", "jvm", "check"),
                                       (b - a for a, b in zip(clock, clock[1:])))),
                  "setups": jvm["setups"], "timed_s": jvm["timed_s"],
                  "ops": [{k: o[k] for k in ("name", "lap", "build_ms", "exec_ms", "error")}
                          for o in rec.get("ops", [])]}
        results = os.path.join(work, "results")
        os.makedirs(results, exist_ok=True)
        if a.trace:
            per_layer, spans = layers.per_layer(a.workload, jvm, CORES)
            record["per_layer"] = per_layer
            record["tracing_overhead_s"] = layers.overhead(results, a.workload, a.seed,
                                                           report["wall_s"][0])
            with open(os.path.join(results, f"{run_id}.trace.json"), "w") as f:
                json.dump({"spans": spans}, f)
            metrics = per_layer
        else:
            metrics = {m["name"]: report[m["name"]] for m in spec["end_to_end"]}
        with open(os.path.join(results, f"{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)

        for name, (value, unit) in report.items():
            print(f"{a.workload} {name} = {value:.6g} {unit}")
        if a.trace:
            print(f"{a.workload} tracing_overhead_s = {record['tracing_overhead_s']}")
        for name, why in verdicts.items():
            if why:
                print(f"WRONG {name}: {why}")
        result["metrics"] = {n: {"value": metrics[n][0], "unit": metrics[n][1]}
                             for n in sorted(metrics)}
        problems = stats.check_result(result, spec, a.trace == 1)
        if problems:
            die("result does not match BENCHMARK.json: " + "; ".join(problems))
        print(json.dumps(result))
    except BaseException:
        print(f"perfbench: the run's files are kept in {run_dir}", file=sys.stderr)
        raise
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
