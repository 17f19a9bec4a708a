#!/usr/bin/env python3
"""Layered crawl + read-side benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the benchmark from source
(sbt, offline); later runs reuse the build while its inputs are unchanged.
Each run starts one JVM that drives the engine's public entry points at
local[<cores>], writes its measurements as a tab-separated record, and
exits.  This script turns the record into JSON -- it is the benchmark's only
JSON writer -- writes the full record to perfbench/out/, re-parses every file
it wrote, and prints the result object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics.  All scratch data (crawl workDirs,
spark.local.dir, java.io.tmpdir and the read-side crawl fixture) lives under
perfbench/.scratch/<pid>, which is deleted when the run ends.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")
OUT_DIR = os.path.join(HERE, "out")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170  # a run (build excluded) must end within 180 s
BUILD_LIMIT_S = 850
JVM_HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def write_json(path, obj):
    """The one JSON writer: dump, then parse back what was written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, allow_nan=False)
        f.write("\n")
    with open(path) as f:
        if json.load(f) != obj:
            raise ValueError(f"{path} does not parse back to what was written")


def result_line(obj):
    line = json.dumps(obj, sort_keys=True, allow_nan=False)
    if json.loads(line) != obj:
        raise ValueError("result line does not parse back")
    return line


def build_inputs():
    roots = [os.path.join(HERE, "src"), ENGINE_SRC]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; returns the runtime classpath."""
    digest = build_inputs()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        cp = stamp.get("classpath", [])
        if stamp.get("inputs") == digest and cp and all(os.path.exists(p) for p in cp):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    cp = cps[-1].split(os.pathsep)
    write_json(BUILD_STAMP, {"inputs": digest, "classpath": cp})
    return cp


def read_record(path):
    rec = {"metrics": {}, "checks": [], "info": {}, "spans": [],
           "attempted": 0, "failed": 0}
    with open(path) as f:
        for line in f:
            p = line.rstrip("\n").split("\t")
            if p[0] == "M":
                rec["metrics"][p[1]] = {"value": float(p[2]), "unit": p[3]}
            elif p[0] == "C":
                rec["checks"].append({"name": p[1], "ok": p[2] == "1",
                                      "detail": p[3] if len(p) > 3 else ""})
            elif p[0] == "I":
                rec["info"][p[1]] = p[2] if len(p) > 2 else ""
            elif p[0] == "O":
                rec["attempted"], rec["failed"] = int(p[1]), int(p[2])
            elif p[0] == "S":
                rec["spans"].append({"id": int(p[1]), "parent": int(p[2]),
                                     "name": p[3], "start_ms": float(p[4]),
                                     "end_ms": float(p[5]), "kind": p[6]})
    return rec


def pinned_checks(workload, seed, rec):
    """Compare the run's count digests with the ones pinned in pinned.json:
    crawl per-epoch counts for the default seed, read-side result digests
    for every seed (the read-side data are fixed).  Entries whose digest is
    known not to repeat on one commit are reported by name, not compared."""
    with open(os.path.join(HERE, "pinned.json")) as f:
        pins = json.load(f).get(workload, {})
    checks = []
    if workload.startswith("crawl"):
        if seed == pins.get("seed"):
            for ep, want in pins.get("epochs", {}).items():
                got = rec["info"].get(f"crawl.counts.{ep}")
                if got is not None:
                    checks.append({"name": f"pinned.crawl.epoch{ep}.counts",
                                   "ok": got == want, "detail": f"got={got} want={want}"})
    else:
        unstable = set(pins.get("unstable", []))
        rec["info"]["readside.digest_unstable"] = ",".join(sorted(unstable))
        for key, got in sorted(rec["info"].items()):
            if not key.startswith("readside.digest."):
                continue
            qid = key.rsplit(".", 1)[1]
            want = pins.get("digests", {}).get(qid)
            if qid in unstable:
                continue
            checks.append({"name": f"pinned.readside.{qid}.digest",
                           "ok": got == want, "detail": f"got={got} want={want}"})
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}")

    cp = build()

    scratch = os.path.join(HERE, ".scratch", str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    record_path = os.path.join(scratch, "record.tsv")
    cores = len(os.sched_getaffinity(0))
    java = shutil.which("java") or die("java not found")
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-XX:+UseParallelGC", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--scratch", scratch,
            "--record", record_path, "--data", DATA_DIR,
            "--launch-ms", repr(time.time() * 1000.0)]

    proc = None

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        proc = subprocess.Popen(cmd, cwd=scratch, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_LIMIT_S} s")
        if not os.path.exists(record_path):
            die(f"the benchmark JVM exited with {code} and wrote no record")
        rec = read_record(record_path)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    if "fatal" in rec["info"]:
        die(f"run failed: {rec['info']['fatal']}")
    rec["checks"] += pinned_checks(a.workload, a.seed, rec)
    bad_checks = [c for c in rec["checks"] if not c["ok"]]
    for c in bad_checks:
        print(f"perfbench: check failed: {c['name']} {c['detail']}", file=sys.stderr)

    attempted = rec["attempted"] + len(rec["checks"])
    failed = rec["failed"] + len(bad_checks)
    rec["metrics"]["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        got = rec["metrics"].get(m["name"])
        if got is None or not math.isfinite(got["value"]):
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if missing and not a.trace:
        die(f"end-to-end metrics not measured: {', '.join(missing)}")
    # per-layer metrics of a layer this workload does not run read 0 and
    # are listed in the record as not applicable
    for name in missing:
        unit = next(m["unit"] for m in wanted if m["name"] == name)
        metrics[name] = {"value": 0.0, "unit": unit}
    result = {"correct": not bad_checks and rec["failed"] == 0,
              "attempted": max(1, attempted), "failed": failed,
              "metrics": metrics}

    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "result": result,
            "not_applicable": missing, "all_metrics": rec["metrics"],
            "checks": rec["checks"], "info": rec["info"], "spans": rec["spans"]}
    write_json(os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), full)
    print(result_line(result))


if __name__ == "__main__":
    main()
