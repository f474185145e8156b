#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the program
and the benchmark's own mains with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. A run generates its
inputs from --seed, launches one JVM on local[nproc] with the heap sized
from the host's memory, runs the workload for --seconds, checks the
outputs and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Any failed operation or gate makes
the run exit 1; a missing program or build makes it exit 2 without a
result. perfbench/METRICS.md describes the workloads and the metrics.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen    # noqa: E402
import gates  # noqa: E402

WORKLOADS = ["daily_etl", "analyst_sweep", "lake_dml"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# sizes of the generated inputs (see METRICS.md)
ANALYST_SF = 0.01
ETL_AIRCRAFT = 2_000
ETL_DAYS = 40
ETL_FLIGHTS_PER_DIRECTION = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = []
    for pattern in ("build.sbt", "project/*.sbt", "project/build.properties",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/build.properties",
                    "perfbench/src/main/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build():
    """Compile the program and the benchmark; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not here; "
             "run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.forcestart=false", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc})")
    # the class-data archives belong to the previous classpath
    for w in WORKLOADS:
        if os.path.exists(cds_archive(w)):
            os.remove(cds_archive(w))
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def cds_archive(workload):
    """One archive per workload, so a run maps the classes its own
    workload loads whichever workload ran first after the build."""
    return os.path.join(HERE, "target", f"classes-{workload}.jsa")


def class_data_sharing(workload):
    """JVM flags that share the classes a run loads across runs: the first
    run after a build dumps them into an archive at exit, later runs map
    the archive instead of loading and verifying every class. No metric
    depends on it: it shortens the untimed first set-up and warm-up, on a
    4-core host a lake_dml run from 48 to 39 s of wall time, while the
    run that writes the archive takes about 30 s longer. The archive
    holds only classes from jars, hence the packaged classpath of
    build.sbt."""
    archive = cds_archive(workload)
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off"]
    return [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off"]


def heap_gb():
    """The test suite's heap sizing: half the host's memory in GiB, within
    [2, 8]."""
    kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return min(8, max(2, kb // 2097152))


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        return measure(a, classpath, work, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, classpath, work, inputs):
    load_before = os.getloadavg()[0]
    t0 = time.time()
    if a.workload == "analyst_sweep":
        gen.analyst_tables(os.path.join(inputs, "analyst"), a.seed, ANALYST_SF)
    if a.workload == "daily_etl":
        gen.etl_inputs(os.path.join(inputs, "etl"), a.seed, ETL_AIRCRAFT,
                       ETL_DAYS, ETL_FLIGHTS_PER_DIRECTION)
    gen_s = time.time() - t0
    log(f"inputs generated in {gen_s:.1f} s")

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    out_file = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData"] + class_data_sharing(a.workload)
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--inputs", inputs, "--work", work, "--out", out_file])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    rc, _ = run_bounded(cmd, RUN_TIMEOUT_S - (time.time() - t0), cwd=work,
                        env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out_file):
        fail(f"the benchmark JVM failed (exit {rc})", code=1)
    log(f"JVM done after {time.time() - t0:.1f} s")
    with open(out_file) as f:
        res = json.load(f)
    detail = res["detail"]

    # every model check of the lake stream is a gate
    attempted = res["attempted"] + detail.get("lake_checks", 0)
    failures = list(res["failures"])
    g_attempted, g_failures = gates.run(a.workload, ROOT, inputs, detail)
    attempted += g_attempted
    failures += g_failures
    log(f"gates done after {time.time() - t0:.1f} s")
    for msg in failures:
        log(f"FAILED: {msg}")

    measured = dict(res["per_layer"] if a.trace == "1" else res["end_to_end"])
    measured["success_ratio"] = 1.0 - len(failures) / max(1, attempted)
    spec = bench_spec()["per_layer" if a.trace == "1" else "end_to_end"]
    metrics = {m["name"]: (measured.get(m["name"]), m["unit"]) for m in spec}

    host = {"nproc": nproc, "heap_gb": heap_gb(),
            "mem_total_gb": round(os.sysconf("SC_PAGE_SIZE") *
                                  os.sysconf("SC_PHYS_PAGES") / 2**30, 2),
            "git_head": git_head(), "load_1m_before": load_before,
            "load_1m_after": os.getloadavg()[0], "generate_s": round(gen_s, 3)}
    print(json.dumps({"detail": "host", **host, **{k: detail.get(k) for k in (
        "jvm", "spark_version", "master", "phases_s", "setup_times_s", "setup_wall_s", "unit_times_s", "unit_wall_s",
        "traced_units", "op_tail")}}))
    print(json.dumps({"detail": "workload_metrics", "workload": a.workload,
                      "metrics": res["named"]}))
    if "lake_bytes" in detail:
        print(json.dumps({"detail": "lake_bytes", **detail["lake_bytes"]}))
    if "op_medians_s" in detail:
        print(json.dumps({"detail": "op_medians_s", "ops": detail["op_medians_s"]}))
    if "plan_fingerprints" in detail:
        print(json.dumps({"detail": "plan_fingerprints",
                          "queries": detail["plan_fingerprints"]}))
    missing = [k for k, (v, _) in metrics.items() if v is None]
    if missing:
        log(f"metrics not measured: {', '.join(missing)}")
        return 1
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if not failures else 1


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
