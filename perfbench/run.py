#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (once per checkout,
into .bench_build/), starts one JVM with one SparkSession on
local[nproc], warms the workload, then issues the workload's keys one
at a time (one client, closed loop) in a seed-permuted order, pass
after pass, for S seconds. Every key's result is checked against the
expected digest in expected_digests.json.

The last stdout line is one JSON object:
  {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics for --trace 0 and the per-layer metrics
for --trace 1 (see BENCHMARK.json). The full run record, including
the host-contamination snapshot, quartiles and spans, is written to
.bench_build/runs/.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import stats  # noqa: E402


def _spark_jars():
    """The jars of SPARK_HOME, else of the first Spark distribution whose
    bin/ is on PATH ("" when there is none; the build then fails)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if (home and os.path.isdir(jars) and
                os.path.isfile(os.path.join(home, "bin", "spark-submit"))):
            return jars
    return ""


SPARK_JARS = _spark_jars()
# what spark-submit adds for Spark on JDK 17 (build.sbt keeps the same list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# a fixed heap keeps peak RSS from following G1's resize decisions;
# no perf-data file, so the JVM writes nothing outside the checkout.
# C1 only: with C2 the JIT was still compiling (about 10 s of CPU per
# 7 s pass) through every measured pass, and pass times kept falling.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 170


class BenchError(Exception):
    pass


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def _sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"no program sources under {main}")
    prog = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    res = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"),
                                            recursive=True) if os.path.isfile(p))
    if not prog or not harness:
        raise BenchError("program or harness sources missing")
    return prog, harness, res, resources


def _scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def _all_keys():
    return sorted({k for w in load_json("workloads.json")["workloads"].values()
                   for k in w["keys"]})


def build():
    """Compile src/main and the harness with the scalac that ships in the
    Spark distribution, pack them as jars, and make the class-data-sharing
    archive; skipped when the source digest is unchanged. Returns the
    directory holding main.jar, bench.jar and classes.jsa."""
    if not SPARK_JARS:
        raise BenchError("no Spark distribution found: set SPARK_HOME")
    prog, harness, res, resources = _sources()
    h = hashlib.sha256()
    for p in prog + harness + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    # the workload keys decide what the class-data-sharing archive holds
    h.update(" ".join(_all_keys()).encode())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    main_out, bench_out = (os.path.join(classes, d) for d in ("main", "bench"))
    jars = os.path.join(SPARK_JARS, "*")
    _scalac(main_out, jars, prog)
    for p in resources:
        dst = os.path.join(main_out, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _scalac(bench_out, f"{main_out}{os.pathsep}{jars}", harness)
    for name, d in (("main", main_out), ("bench", bench_out)):
        subprocess.run(["jar", "cf", os.path.join(classes, f"{name}.jar"),
                        "-C", d, "."], check=True)
    _archive_classes(classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def _archive_classes(classes):
    """Class-data-sharing archive of every class a run loads from the
    jars (Spark's and the program's), dumped at the exit of one run of
    all workload keys on the smallest data. Runs map it at start, which
    takes class loading and verification, about 15 s of a cold run,
    out of set-up."""
    out = os.path.join(BUILD, "tmp", "archive-run.json")
    run_jvm(classes, {"keys": _all_keys(), "passes": 1},
            os.path.join(HERE, "data", "sf0.001"), 0, 0, False, out,
            archive="dump")
    os.remove(out)


def java_cmd(classes, archive="use"):
    """java with the run's options and class path; `archive` is "use"
    (map the archive), "dump" (write it at exit) or None."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([os.path.join(classes, "bench.jar"),
                          os.path.join(classes, "main.jar"),
                          os.path.join(SPARK_JARS, "*")])
    jsa = os.path.join(classes, "classes.jsa")
    flag = {"use": [f"-XX:SharedArchiveFile={jsa}"],
            "dump": [f"-XX:ArchiveClassesAtExit={jsa}"], None: []}[archive]
    return (["java"] + ADD_OPENS + JVM_OPTS + flag +
            [f"-Djava.io.tmpdir={tmp}", "-cp", cp])


# ------------------------------------------------------------------- host

def _cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return sum(v[:8]), v[3] + v[4], v[7] if len(v) > 7 else 0


def _other_jvms():
    n = 0
    for d in glob.glob("/proc/[0-9]*"):
        if int(os.path.basename(d)) == os.getpid():
            continue
        try:
            with open(os.path.join(d, "cmdline"), "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def host_snapshot(sample_s=0.0):
    """loadavg, other JVMs, and CPU busy/steal shares. With sample_s > 0
    the shares are measured over that interval (the start-of-run check);
    otherwise raw counters are returned for a later delta."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    snap = {"loadavg": load, "other_jvms": _other_jvms(),
            "nproc": os.cpu_count(), "cpu_times": _cpu_times()}
    if sample_s > 0:
        t0, i0, s0 = snap["cpu_times"]
        time.sleep(sample_s)
        t1, i1, s1 = _cpu_times()
        dt = max(t1 - t0, 1)
        snap["busy_share"] = 1.0 - (i1 - i0) / dt
        snap["steal_share"] = (s1 - s0) / dt
    return snap


def busy_reasons(start):
    """Why the box was busy when the run began (empty when it was idle)."""
    why = []
    if start.get("busy_share", 0.0) > 0.25:
        why.append(f"cpu busy {start['busy_share']:.0%} before start")
    if start.get("steal_share", 0.0) > 0.05:
        why.append(f"cpu steal {start['steal_share']:.0%}")
    if start["other_jvms"] > 0:
        why.append(f"{start['other_jvms']} other JVM(s) running")
    return why


# -------------------------------------------------------------------- run

def run_jvm(classes, workload, sf_dir, seed, seconds, trace, out,
            archive="use"):
    tmp = os.path.join(BUILD, "tmp")
    cmd = java_cmd(classes, archive) + [
        "graft.perfbench.Harness", "run", out, sf_dir, str(seed),
        str(seconds), str(workload["passes"]), "1" if trace else "0",
        ",".join(workload["keys"])]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside the checkout
    log_path = os.path.join(BUILD, "logs", f"jvm-{os.getpid()}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        t_launch = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, cwd=tmp, env=env)
        timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        timer.start()
        setup_s = None
        try:
            for line in proc.stdout:
                if line.strip() == "READY" and setup_s is None:
                    setup_s = time.monotonic() - t_launch
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if time.monotonic() - t_launch >= JVM_TIMEOUT_S:
        raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or setup_s is None or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM failed (exit {proc.returncode}):\n{tail}")
    os.remove(log_path)
    return setup_s


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=None,
                    help="data dir under perfbench/data (default: the "
                         "workload's); the tests use the small one")
    args = ap.parse_args(argv)
    # on SIGTERM unwind through run_jvm's cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        workloads = load_json("workloads.json")
        if args.workload not in workloads["workloads"]:
            raise BenchError(f"unknown workload {args.workload}")
        workload = workloads["workloads"][args.workload]
        scale = args.scale or workloads["scale"]
        sf_dir = os.path.join(HERE, "data", scale)
        expected = load_json("expected_digests.json")[scale]
        classes = build()
        start = host_snapshot(sample_s=0.25)
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        raw = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}"
                                 f"-{stamp}-{os.getpid()}.raw.json")
        setup_s = run_jvm(classes, workload, sf_dir, args.seed,
                                   args.seconds, bool(args.trace), raw)
        end = host_snapshot()
        with open(raw) as f:
            record = json.load(f)
        os.remove(raw)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    checked = stats.check_outputs(record["samples"], expected)
    e2e = stats.end_to_end(record, setup_s)
    layers = stats.per_layer(record) if args.trace else None
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted, values = ((bench["per_layer"], layers) if args.trace
                      else (bench["end_to_end"], e2e["metrics"]))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    result = {"correct": checked["failed"] == 0,
              "attempted": checked["attempted"], "failed": checked["failed"],
              "metrics": metrics}
    full = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "scale": scale,
            "result": result, "detail": e2e["detail"],
            "failures": checked["failures"], "host": host_record(start, end),
            "layers": layers, "record": record}
    path = raw.replace(".raw.json", ".json")
    with open(path, "w") as f:
        json.dump(full, f)
    print(stats.summary(full), file=sys.stderr)
    print(json.dumps(result))
    return 0


def host_record(start, end):
    """Start and end snapshots, the start-of-run busy flag, and the CPU
    steal share over the whole run. Flagged runs are kept, not dropped."""
    t0, _, s0 = start["cpu_times"]
    t1, _, s1 = end["cpu_times"]
    steal = (s1 - s0) / max(t1 - t0, 1)
    why = busy_reasons(start)
    return {"start": start, "end": end, "busy_at_start": bool(why),
            "busy_reasons": why, "steal_share_run": steal,
            "contended_run": steal > 0.05}


if __name__ == "__main__":
    sys.exit(main())
