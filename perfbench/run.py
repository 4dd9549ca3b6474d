#!/usr/bin/env python3
"""graft benchmark: one command for the flagship and suite workloads.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 16 --trace 0

The first run builds the benchmark (its own sbt project in this directory,
compiling the library's sources with the benchmark's) and later runs reuse
the build while the sources are unchanged. Each run starts one JVM, which
runs the workload on ``local[<cores>]`` and writes a report; this script
checks the outputs in that report and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
the per-layer metrics. The full report, with spans and checks, stays in
``.bench_build/perfbench/``.
"""

import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
PINS = os.path.join(HERE, "pins", "suite_sf0.01.json")
DATA = os.path.join(HERE, "data", "sf0.01")
LIBRARY_SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("flagship", "suite")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs these (the library's build
# passes the same list to its forked runs)
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    """the benchmark could not produce a result"""


def sources_digest():
    files = sorted(glob.glob(os.path.join(LIBRARY_SOURCES, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """compiles the benchmark unless the last build saw the same sources;
    the seconds spent building"""
    if not os.path.isdir(os.path.join(LIBRARY_SOURCES, "graft")):
        raise BenchError("no library sources at src/main/scala/graft: run from a graft checkout")
    digest = sources_digest()
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return 0.0
    t0 = time.monotonic()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip())
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         HERE, fh, BUILD_TIMEOUT_S, env)
    if rc != 0:
        raise BenchError("build failed (exit %s), see %s" % (rc, log))
    with open(stamp, "w") as fh:
        fh.write(digest)
    return time.monotonic() - t0


def spark_home():
    """the Spark install whose jars the benchmark compiles and runs against:
    $SPARK_HOME, else the first spark-submit on the PATH that sits in one"""
    candidates = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BenchError("no Spark install found: set SPARK_HOME")


def run_process(cmd, cwd, log, timeout_s, env=None):
    """runs `cmd` to completion or kills it at the deadline; exit code"""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        return "timeout"


def run_jvm(workload, seed, seconds, trace, build_s):
    """runs one workload in a fresh JVM; its report as a dict. The run
    must end RUN_TIMEOUT_S after start, not counting the build."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    name = "%s-seed%d-trace%d" % (workload, seed, trace)
    report = os.path.join(OUT, name + ".json")
    if os.path.exists(report):
        os.remove(report)
    jars = os.path.join(spark_home(), "jars", "*")
    # a fixed heap: one that grows on demand grows when G1 sees GC time,
    # so its size and the repetitions' speed varied from run to run
    cmd = (["java"] + ADD_OPENS
           + ["-Xms2g", "-Xmx2g", "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + tmp,
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", CLASSES + os.pathsep + jars, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--out", report, "--data", DATA, "--scratch", tmp])
    with open(os.path.join(OUT, name + ".log"), "w") as fh:
        rc = run_process(cmd, OUT, fh, RUN_TIMEOUT_S + build_s - (time.monotonic() - START))
    if rc != 0 or not os.path.exists(report):
        raise BenchError("workload JVM failed (exit %s), see %s.log" % (rc, name))
    with open(report) as fh:
        return json.load(fh), report


# ---- output checks: each returns [(check name, passed)] ----

def check_flagship(obs):
    rows = obs.get("flagship_rows") or [None]
    tally = obs.get("tally_cells")
    return [
        ("res-3 rollup equals the driver-side kernel tally",
         bool(tally) and obs.get("rollup_cells") == tally),
        ("every rep returns the same rows", len(set(rows)) == 1 and rows[0] is not None),
        ("rows equal tally cells plus brute-force containment",
         None not in (rows[0], tally, obs.get("brute_join_rows"))
         and rows[0] == len(tally) + obs["brute_join_rows"]),
    ]


def check_suite(obs, pins):
    out = []
    counts = obs.get("query_counts", {})
    for q, pin in sorted(pins.items()):
        got = obs.get("pin." + q, {})
        out.append(("%s rows and hash equal the pin" % q,
                    got.get("rows") == pin["rows"] and got.get("hash") == pin["hash"]))
        out.append(("%s timed counts equal the pin" % q,
                    bool(counts.get(q)) and all(c == pin["rows"] for c in counts[q])))
    return out


def load_pins():
    with open(PINS) as fh:
        return json.load(fh)


def checks_for(workload, obs):
    if workload == "flagship":
        return check_flagship(obs)
    return check_suite(obs, load_pins())


def foreign(metric, workload):
    """a per-layer metric of a stage another workload runs (reported as 0)"""
    owner = {"ops.flagship.": "flagship", "entry.": "suite"}
    return any(metric.startswith(p) and w != workload for p, w in owner.items())


def select_metrics(spec, report, workload, trace):
    """the declared metrics of this mode, by name with unit"""
    section = "per_layer" if trace else "end_to_end"
    values = report[section]
    metrics = {}
    for m in spec[section]:
        v = values.get(m["name"])
        if v is None and trace and foreign(m["name"], workload):
            v = 0.0
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise BenchError("metric %s was not measured" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics


def result_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--write-pins", action="store_true",
                   help="suite only: store this run's row counts and hashes as the pins")
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(OUT, exist_ok=True)
    build_s = build()
    report, path = run_jvm(a.workload, a.seed, a.seconds, a.trace, build_s)
    obs = report["observed"]
    if a.write_pins:
        pins = {k[len("pin."):]: v for k, v in obs.items() if k.startswith("pin.")}
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
    checks = checks_for(a.workload, obs)
    report["checks"] = [{"name": n, "passed": ok} for n, ok in checks]
    with open(path, "w") as fh:
        json.dump(report, fh)
    failed = len(report["errors"]) + sum(1 for _, ok in checks if not ok)
    for e in report["errors"]:
        print("error: " + e, file=sys.stderr)
    for n, ok in checks:
        if not ok:
            print("check failed: " + n, file=sys.stderr)
    metrics = select_metrics(spec, report, a.workload, a.trace)
    attempted = report["attempted"] + len(checks)
    print("report: " + os.path.relpath(path, ROOT))
    print(result_line(failed == 0, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        sys.exit(2)
