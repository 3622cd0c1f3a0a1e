#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution, launches one JVM for the workload, stamps the host
(load average and a fixed CPU calibration loop) before and after it,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones; every workload
measures all of them, and a run that cannot exits 2 without a result
line. The workload's own detail metrics are printed to stderr. The full
record of each run is kept in <build dir>/records/, one per workload,
seed, length and trace mode; a traced run reports its overhead as
trace.delta.<metric> (stderr and record) against the untraced record of
the same workload, seed and length.
Everything the run writes stays under the build dir (CARGO_TARGET_DIR
if set, else .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def spark_home():
    """$SPARK_HOME, else the Spark install whose spark-submit is on PATH,
    else the one bundled with an installed pyspark."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    homes = []
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    return next((h for h in homes if os.path.isdir(os.path.join(h, "jars"))), "")


SPARK_JARS = os.path.join(spark_home(), "jars")
JVM_TIMEOUT_S = 170
# Calibration drift past this share flags the run: contention that
# arrives mid-run moves every timing of the run, and a start-only stamp
# cannot see it. It is the bound of the timed end-to-end metrics: a
# drift past it can move a run's timings by more than a regression may.
DRIFT_FLAG = 0.25

# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(prog):
        die(f"no program sources at {prog}: run from the repository root")
    out = []
    for base in (prog, bench):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def java_opts(work):
    """JVM options shared by every JVM the benchmark starts."""
    opts = ["-Xss16m", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def classpath(build_dir):
    return os.pathsep.join([os.path.join(build_dir, "app.jar"), os.path.join(SPARK_JARS, "*")])


def package(build_dir, classes):
    """Classes plus program resources in one jar: the class-data-sharing
    archive accepts jars on the class path, not directories."""
    jar = os.path.join(build_dir, "app.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base in (classes, os.path.join(ROOT, "src", "main", "resources")):
            for d, _, fs in os.walk(base):
                for f in sorted(fs):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, base))


def train_cds(build_dir, cores):
    """Dump the class-data-sharing archive from a short Spark session.
    Every workload JVM maps it: JVM plus Spark start-up takes ~6 s
    instead of ~12 s on 4 cores, which the run budget needs. A failed
    dump fails the build, so no run launches without the archive."""
    archive = os.path.join(build_dir, "app.jsa")
    work = os.path.join(build_dir, "work", "cds-training")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["java", f"-XX:ArchiveClassesAtExit={archive}"] + java_opts(work) +
            ["-cp", classpath(build_dir), "graft.perfbench.ClassTraining", str(cores), work],
            stdout=lf, stderr=subprocess.STDOUT, cwd=work, timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(open(log).read()[-4000:])
        die("class-data-sharing archive dump failed")
    shutil.rmtree(work, ignore_errors=True)


def build(build_dir, cores):
    """Compile library + benchmark once per source state."""
    srcs = sources()
    os.makedirs(build_dir, exist_ok=True)
    res = os.path.join(ROOT, "src", "main", "resources")
    inputs = srcs + sorted(os.path.join(d, f) for d, _, fs in os.walk(res) for f in fs)
    h = hashlib.sha256()
    for f in inputs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if not os.path.isdir(SPARK_JARS):
        die(f"no Spark jars at '{SPARK_JARS}' (set SPARK_HOME)")
    for f in ("app.jar", "app.jsa", "classes.stamp"):
        if os.path.exists(os.path.join(build_dir, f)):
            os.remove(os.path.join(build_dir, f))
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(SPARK_JARS, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    package(build_dir, classes)
    train_cds(build_dir, cores)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built {len(srcs)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)


def calibrate():
    """Seconds for a fixed pure-CPU loop (median of five)."""
    def once():
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFF
        return time.perf_counter() - t0
    return statistics.median(once() for _ in range(5))


def host_stamp():
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    # aggregate CPU ticks: user nice system idle iowait irq softirq steal
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return {"loadavg": load, "calib_s": calibrate(), "cpu_ticks": ticks, "time": time.time()}


def run_jvm(args, build_dir, cores):
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ)
    if args.trace:
        env["SPARK_GRAFT_SEARCH_PROFILE"] = "1"
    else:
        env.pop("SPARK_GRAFT_SEARCH_PROFILE", None)
    # -Xlog:cds tells whether the archive was mapped; the record says so
    cds_log = os.path.join(work, "cds.log")
    cmd = ["java", f"-XX:SharedArchiveFile={os.path.join(build_dir, 'app.jsa')}",
           f"-Xlog:cds=info:file={cds_log}"] + java_opts(work)
    cmd += ["-cp", classpath(build_dir), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work,
            "--data", os.path.join(HERE, "data"), "--out", out]
    if args.record_golden:
        cmd += ["--record-golden", "1"]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"perfbench: JVM timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
    rec = json.load(open(out)) if os.path.exists(out) else None
    if rec is None:
        sys.stderr.write(open(log).read()[-6000:])
        return None, work
    rec["cds_archive_mapped"] = (os.path.exists(cds_log) and
                                 "Mapped dynamic region" in open(cds_log).read())
    if not rec["cds_archive_mapped"]:
        rec["notes"].append("the class-data-sharing archive was not mapped: JVM start-up, "
                            "the first set-up and the first pass ran slower than usual")
    return rec, work


def trace_delta(rec, untraced_path):
    """Tracing overhead: each metric this traced run shares with the
    untraced run of the same workload, seed and length, traced minus
    untraced, each from its own fresh JVM. Absent, with a note, when no
    such untraced run is recorded in this build dir."""
    if not os.path.exists(untraced_path):
        rec["notes"].append("trace.delta.* absent: no untraced record "
                            f"{os.path.basename(untraced_path)}; run --trace 0 with the "
                            "same workload, seed and --seconds first")
        return {}
    base = json.load(open(untraced_path))["metrics"]
    return {f"trace.delta.{k}": {"value": v["value"] - base[k]["value"], "unit": v["unit"]}
            for k, v in rec["metrics"].items() if k != "setup_s" and k in base}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="rewrite perfbench/data/golden.tsv from this commit's outputs")
    args = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cores = os.cpu_count() or 1
    build(build_dir, cores)

    pre = host_stamp()
    rec, work = run_jvm(args, build_dir, cores)
    post = host_stamp()
    shutil.rmtree(work, ignore_errors=True)
    if rec is None:
        die("the workload JVM produced no record")

    drift = post["calib_s"] / pre["calib_s"] - 1.0
    # share of the run's CPU time the hypervisor gave to other guests: on
    # a virtual machine this, not the load average, shows neighbours
    ticks = [b - a for a, b in zip(pre["cpu_ticks"], post["cpu_ticks"])]
    steal = ticks[7] / max(1, sum(ticks))
    rec["host"] = {"pre": pre, "post": post, "calib_drift_frac": drift, "steal_frac": steal,
                   "drift_flag": abs(drift) > DRIFT_FLAG, "cores": cores}
    if abs(drift) > DRIFT_FLAG:
        print(f"perfbench: HOST DRIFT: calibration moved {drift:+.1%} during the run "
              f"(load {pre['loadavg'][0]:.2f} -> {post['loadavg'][0]:.2f}, "
              f"steal {steal:.1%}); "
              "treat this run's timings as suspect", file=sys.stderr)
    got = dict(rec["metrics"])
    got["host.calib_drift_frac"] = {"value": drift, "unit": "ratio"}
    got["host.load1_post"] = {"value": post["loadavg"][0], "unit": "count"}
    got["host.steal_frac"] = {"value": steal, "unit": "ratio"}
    rec_dir = os.path.join(build_dir, "records")
    os.makedirs(rec_dir, exist_ok=True)

    def rec_path(trace):
        return os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-"
                                     f"s{args.seconds:g}-trace{trace}.json")

    if args.trace:
        rec["trace_delta"] = trace_delta(rec, rec_path(0))
        got.update(rec["trace_delta"])
    with open(rec_path(args.trace), "w") as fh:
        json.dump(rec, fh, indent=1)
    # the result line holds exactly the manifest's metrics of this mode;
    # the workload's own detail (the record's other metrics) goes to stderr
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    metrics = {k: got[k] for k in wanted if k in got}
    for n in rec.get("notes", []):
        print(f"perfbench: {n}", file=sys.stderr)
    for k in sorted(set(got) - set(wanted)):
        print(f"perfbench: detail {k} = {got[k]['value']} {got[k]['unit']}", file=sys.stderr)
    missing = [k for k in wanted if k not in metrics]
    if missing:
        die(f"no value for {', '.join(missing)} ({rec['failed']} failed operations); "
            "see the notes above")
    failed = int(rec["failed"])
    print(json.dumps({"correct": failed == 0 and int(rec["attempted"]) > 0,
                      "attempted": max(1, int(rec["attempted"])),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
