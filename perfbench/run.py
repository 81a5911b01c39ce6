#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload gtfs_daily --seed 1 --seconds 20 --trace 0

The program is compiled from `src/main/scala` plus `perfbench/src` with the
Scala compiler that ships in Spark's jars (`$SPARK_HOME/jars`, else the
repository build's `unmanagedBase`) into `.bench_build/`; the build is
reused while the sources are unchanged. Each run gets a fresh working directory (warehouse,
Spark local dir and temp dir inside it) that is deleted afterwards.
See perfbench/README.md for the workloads and the output.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory the repository's
    own build takes them from (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        fail("no Spark jars found (set SPARK_HOME)")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def scala_sources():
    if not os.path.isdir(MAIN_SRC):
        fail(f"program sources not found at {MAIN_SRC}: run from a full checkout")
    out = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(jars):
    """Compile program + benchmark once per source content into one jar;
    returns the build directory, which holds `app.jar`."""
    srcs = scala_sources()
    key = hashlib.sha256()
    for s in srcs:
        key.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            key.update(f.read())
    out = os.path.join(BUILD, "perfbench", key.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "app.jar")):
        return out
    tmp = out + ".tmp"
    classes = os.path.join(tmp, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    # a jar, not a directory: the JVM shares archived classes only from jars
    with zipfile.ZipFile(os.path.join(tmp, "app.jar"), "w") as jar:
        for d, _, files in os.walk(classes):
            for f in files:
                jar.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def run_jvm(build_dir, jars, run_dir, jvm_args, main="perfbench.Main", timeout=JVM_TIMEOUT_S):
    """Runs `main` in a fresh JVM in `run_dir`. The first run of a build
    writes the classes it loaded to a class-data-sharing archive as it
    exits; later runs of the build map that archive instead of loading
    and verifying Spark's classes one by one, which takes about half of a
    cold session start. Only the first set-up of a run is cold, and
    `setup_s` is the median of several set-ups.
    """
    props = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "java.io.tmpdir": os.path.join(run_dir, "tmp"),
        "derby.system.home": run_dir,
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "perfbench.home": HERE,
    }
    os.makedirs(props["java.io.tmpdir"])
    archive = os.path.join(build_dir, "classes.jsa")
    dump = f"{archive}.{os.getpid()}.tmp"
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", cds]
           + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", os.pathsep.join([os.path.join(build_dir, "app.jar")] + jars), main]
           + jvm_args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if os.path.exists(dump):
        if rc == 0:
            os.replace(dump, archive)
        else:
            os.remove(dump)
    return rc, log_path


def record(sf, dump):
    """Re-record the expected analytics fingerprints at scale factor `sf`."""
    jars = spark_jars()
    build_dir = build(jars)
    work = os.path.join(BUILD, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(HERE, "expected", f"analytics_sf{sf}.tsv")
    dump = os.path.abspath(dump) if dump else "-"
    rc, log_path = run_jvm(build_dir, jars, work, [sf, out, dump],
                           main="perfbench.Record", timeout=1800)
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("recording failed")
    print(f"perfbench: wrote {out} (tables in {work}/inputs/sf)", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (smoke tests only)")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one result to prove the checks (smoke tests only)")
    ap.add_argument("--record", metavar="SF",
                    help="re-record perfbench/expected/analytics_sf<SF>.tsv")
    ap.add_argument("--dump", metavar="DIR",
                    help="with --record: also write results for tools/oracle_check.py")
    a = ap.parse_args()
    if a.record:
        record(a.record, a.dump)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    jars = spark_jars()
    build_dir = build(jars)

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace]
    jvm_args += ["--smoke"] if a.smoke else []
    jvm_args += ["--plant-wrong"] if a.plant_wrong else []
    try:
        rc, log_path = run_jvm(build_dir, jars, run_dir, jvm_args)
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}")
        with open(result_path) as f:
            report = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # tracing overhead: traced wall_s minus the untraced wall_s of the same
    # build, workload and seed, when that run was made in this checkout on
    # a host of the same speed (single-thread canary within 5%)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "-".join(
        [os.path.basename(build_dir), a.workload, str(a.seed)] + (["smoke"] if a.smoke else [])))
    noise = report["host_noise"]
    this = {"wall_s": report["metrics"]["wall_s"]["value"],
            "canary_sec": (noise["start"]["canary_sec"] + noise["end"]["canary_sec"]) / 2}
    with open(f"{stem}-trace{a.trace}.json", "w") as f:
        json.dump(this, f)
    if a.trace == "1":
        report["trace_overhead_s"] = None
        if not os.path.exists(f"{stem}-trace0.json"):
            report["trace_overhead_note"] = "unresolved: no untraced run of this build and seed"
        else:
            with open(f"{stem}-trace0.json") as f:
                base = json.load(f)
            drift = this["canary_sec"] / base["canary_sec"] - 1
            if abs(drift) > 0.05:
                report["trace_overhead_note"] = (
                    f"unresolved: host speed differs from the untraced run "
                    f"(canary_sec {this['canary_sec']:.3f} vs {base['canary_sec']:.3f})")
            else:
                report["trace_overhead_s"] = this["wall_s"] - base["wall_s"]

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = report["metrics"].get(m["name"])
        if got is None:
            fail(f"metric {m['name']} missing from the report")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    attempted, failed = report["attempted"], report["failed"]
    for msg in report.get("failures", []):
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
