#!/usr/bin/env python3
"""Benchmark for the gate registry and the serving path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <registry|serve> --seed <n> \
        --seconds <s> --trace <0|1>

It compiles the engine (src/main/scala) and the harness (perfbench/harness)
with the Scala compiler shipped in the Spark distribution, caches the classes
under .bench_build, runs the workload in one JVM, checks its outputs, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list. Everything it writes stays under .bench_build.
"""

import argparse
import glob
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import layers  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")

RUN_TIMEOUT_S = 175
JAVA_OPENS = [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the sbt build compiles against (its unmanagedBase),
    or $SPARK_HOME/jars."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def jars():
    d = spark_jars()
    js = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in js):
        raise BenchError(f"no Spark distribution with a Scala compiler under {d}")
    return js


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not main:
        raise BenchError("no engine sources under src/main/scala: run from the root of a checkout")
    if not harness:
        raise BenchError("no harness sources under perfbench/harness")
    return main, harness


def scalac(files, out, classpath):
    os.makedirs(out, exist_ok=True)
    cp = ":".join(classpath)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise BenchError(f"compilation into {out} failed")


def jar(classes, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))


def jvm(classpath, work, archive_flag):
    """The harness JVM's command line up to its main class."""
    return (["java", "-XX:-UsePerfData", archive_flag,
             # compiler threads that came and went would take their CPU
             # time out of the per-thread accounting (layers.cpu_shares)
             "-XX:-UseDynamicNumberOfCompilerThreads"] + JAVA_OPENS +
            ["-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-cp", ":".join(classpath), "perfbench.Main"])


def dump_classes(classpath, out):
    """Class-data sharing: a short untimed run (a Spark session and one gate
    call) records the classes it loads into an archive that every measured
    run of this build then maps, instead of loading and verifying ~20k
    Spark classes again (JVM and Spark start-up take ~3 s instead of ~7 s).
    JIT state is not archived. Without an archive, runs load classes as
    usual."""
    work = os.path.join(out, "dump")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm(classpath, work, "-XX:ArchiveClassesAtExit=" + os.path.join(out, "classes.jsa")) + [
        "--workload", "classes", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--bench-dir", HERE, "--work-dir", work, "--out", os.path.join(work, "raw.json")]
    try:
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=work,
                           timeout=300)
        if r.returncode != 0:
            log(f"class-data archive not written (exit {r.returncode}); runs load classes as usual")
    except subprocess.TimeoutExpired:
        log("class-data archive not written (timed out); runs load classes as usual")
    shutil.rmtree(work, ignore_errors=True)


def build():
    """Compile the engine and the harness once per source state."""
    main, harness = sources()
    js = jars()
    h = hashlib.sha256()
    for f in main + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    classpath = [os.path.join(os.path.dirname(js[0]), "*"), os.path.join(out, "main.jar"),
                 os.path.join(out, "harness.jar")]
    if os.path.exists(os.path.join(out, "ok")):
        return classpath, out
    tmp = os.path.join(BUILD, f"building-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    scalac(main, os.path.join(tmp, "main"), js)
    scalac(harness, os.path.join(tmp, "harness"), js + [os.path.join(tmp, "main")])
    # jars, not class directories: the class-data archive only covers
    # classes loaded from jars
    for name in ("main", "harness"):
        jar(os.path.join(tmp, name), os.path.join(tmp, name + ".jar"))
        shutil.rmtree(os.path.join(tmp, name))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # the archive records the class path, so it is written where the runs
    # will find the jars
    dump_classes(classpath, out)
    open(os.path.join(out, "ok"), "w").close()
    log(f"built {out} in {time.time() - t0:.1f} s")
    return classpath, out


def result_path(build_dir, workload, seed, trace):
    """Raw outcomes of earlier runs, kept per build so that a traced run is
    compared only with untraced runs of the same code."""
    return os.path.join(build_dir, "results", f"{workload}-seed{seed}-trace{trace}.json")


def run_harness(build, workload, seed, seconds, trace, deadline):
    classpath, build_dir = build
    """One JVM run of the harness; returns (raw outcome, spans)."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    archive = os.path.join(build_dir, "classes.jsa")
    cmd = (jvm(classpath, work, f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
               else "-Xshare:auto") + [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--bench-dir", HERE, "--work-dir", work, "--out", raw_path])
    try:
        timeout = max(10.0, deadline - time.time())
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout, cwd=work)
        if r.returncode != 0:
            raise BenchError(f"harness exited with {r.returncode}")
        with open(raw_path) as f:
            raw = json.load(f)
        spans = []
        if trace:
            with open(raw_path + ".spans.jsonl") as f:
                for line in f:
                    i, name, s, e, parent, req = json.loads(line)
                    spans.append({"id": i, "name": name, "start": s, "end": e,
                                  "parent": parent, "req": req})
        path = result_path(build_dir, workload, seed, trace)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        log("per operation: " + json.dumps(layers.kind_summary(raw), sort_keys=True))
        log("cpu shares: " + json.dumps(layers.cpu_shares(raw), sort_keys=True))
        with open(path, "w") as f:
            json.dump(raw, f)
        return raw, spans
    except subprocess.TimeoutExpired:
        raise BenchError(f"harness did not finish within {timeout:.0f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def untraced_reference(build, workload, seed, seconds, deadline):
    """Raw outcome of the untraced run of the same workload, seed and build,
    to compare the traced run with; made now when this build has not run it."""
    path = result_path(build[1], workload, seed, 0)
    if not os.path.exists(path):
        log("no untraced run of this seed yet; running one for the overhead reference")
        run_harness(build, workload, seed, seconds, 0, deadline)
    with open(path) as f:
        return json.load(f)


def on_term(signum, frame):
    # subprocess.run kills and reaps the JVM when its wait is interrupted
    raise KeyboardInterrupt(f"signal {signum}")


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    started = time.time()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [w["name"] for w in bench["workloads"]]
        if a.workload not in names:
            raise BenchError(f"unknown workload {a.workload}; BENCHMARK.json has {names}")
        if not 1 <= a.seconds <= 60:
            raise BenchError("--seconds must be 1 to 60")
        wanted = bench["per_layer" if a.trace else "end_to_end"]
        for m in wanted:
            stats.check_name(m["name"])
            stats.check_unit(m["unit"])
        built = build()
        # the first run in a checkout also builds; the run itself gets the
        # usual per-run budget from here on
        deadline = time.time() + RUN_TIMEOUT_S
        raw, spans = run_harness(built, a.workload, a.seed, a.seconds, a.trace, deadline)
        if a.trace:
            ref = untraced_reference(built, a.workload, a.seed, a.seconds, deadline)
            values = layers.per_layer(raw, spans, ref)
        else:
            values = layers.end_to_end(raw)
        attempted, failed, failures = layers.outcome_counts(raw)
        for msg in failures[:20]:
            log(f"FAILED: {msg}")
        metrics = {}
        for m in wanted:
            if m["name"] not in values:
                raise BenchError(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        info = dict(raw["info"], error_share=failed / attempted,
                    wall_s=round(time.time() - started, 1))
        log("info " + json.dumps(info, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0
    except (BenchError, OSError, ValueError, KeyError, KeyboardInterrupt) as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
